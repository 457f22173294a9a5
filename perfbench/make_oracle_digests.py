"""Store the digests of the DuckDB oracle results for the registry mix.

    python3 perfbench/make_oracle_digests.py

Runs each query's oracle SQL from ``__spark_entry__.oracle_sql()`` over the
tables in ``perfbench/registry_data`` and writes ``oracle_digests.json``:
per query, the digest of the normalised result and the hash of the SQL it
came from. The benchmark compares Spark's results with these digests; it
reports a query whose SQL no longer matches its stored hash as failed, so
rerun this script when an oracle or the tables change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main() -> None:
    import duckdb

    import __spark_entry__ as entry
    from workloads import (
        ORACLE_DIGESTS, REGISTRY_DATA, REGISTRY_QUERIES, registry_inputs, result_digest, sql_key,
    )

    con = duckdb.connect()
    for f in sorted(os.listdir(REGISTRY_DATA)):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(REGISTRY_DATA, f)}'")
    oracles = entry.oracle_sql()
    out = {"data_digest": registry_inputs().digest, "queries": {}}
    for q in REGISTRY_QUERIES:
        pdf = con.execute(oracles[q]).fetchdf()
        out["queries"][q] = {
            "sql_sha256": sql_key(oracles[q]),
            "digest": result_digest(pdf),
            "rows": len(pdf),
        }
        print(q, len(pdf), flush=True)
    with open(ORACLE_DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
