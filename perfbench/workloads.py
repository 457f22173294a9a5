"""The benchmark's workloads. Each one makes its inputs, runs one pass of
real work through the program's public functions, checks the pass's
output against figures computed without Spark, and can run a traced pass
whose spans cover each layer's share of the work.

A workload object lives for one run: ``generate`` before Spark starts,
then ``bind`` to the session, ``warmup``, timed ``run_pass`` calls with a
``check`` after each, and optionally one ``traced_pass``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import replace

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
REGISTRY_DATA = os.path.join(HERE, "registry_data")
ORACLE_DIGESTS = os.path.join(HERE, "oracle_digests.json")

#: The registry mix: ten short queries of the frozen ``bench.HEADLINE`` set
#: (scan and aggregate, join, window, MEDS operators, sessions, text UDFs)
#: plus one iterative operator (``pagerank_trade``) and one member of a
#: variant family (``jaccard_prefix``), the two shapes later work rewrites.
#: A subset: all 19 headline queries and four extras take about 60 s cold
#: and 23 s warm per pass on 4 cores, more than one run can afford.
REGISTRY_QUERIES = [
    "pricing_summary", "revenue_by_nation", "top_orders_per_customer",
    "filter_patients_min_events", "dedup_keep_first", "tokenize_event_seqs",
    "hourly_event_counts", "sessionize", "text_quality", "language_id",
    "pagerank_trade", "jaccard_prefix",
]

#: Preprocessing stages in pipeline order, and the layer each one reports as.
PREPROCESS_STAGES = [
    "filter_patients", "aggregate_code_metadata", "filter_measurements",
    "occlude_outliers", "fit_vocabulary_indices", "normalization",
    "tokenization_event_seqs", "tensorization",
]
#: Input sizes. The cohort is about 196k rows; the raw tables 103k rows.
COHORT_PATIENTS = 600
EXTRACT_SUBJECTS = 3_000
EXTRACT_LABS = 100_000

STAGE_LAYER = {
    **{s: f"operators.{s}" for s in PREPROCESS_STAGES[:6]},
    "tokenization_event_seqs": "operators.tokenization",
    "tensorization": "sources.writers",
}


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's marker and checksum files excluded."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    #: Passes a run times. Passes still speed up from JIT compilation after
    #: the warm-up, so every run times the same ones: a MEDS pass takes
    #: 3-5 s on 4 cores, a registry pass 10-12 s.
    timed_passes = 2

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.out_dir = os.path.join(work_dir, "out")
        self.spark = None
        self.inputs: gen.Inputs | None = None

    def generate(self, seed: int) -> gen.Inputs:
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def warmup(self) -> None:
        self.run_pass()

    def run_pass(self) -> list[float]:
        """Run one pass; return the latency of each operation in it."""
        raise NotImplementedError

    def ops_per_pass(self) -> int:
        """Timed operations in a pass: the pass itself for the MEDS
        workloads, each query for the registry mix."""
        return 1

    def check(self) -> list[str]:
        """Problems found in the last pass's output; empty when correct."""
        return []

    def failed_ops(self, problems: list[str]) -> int:
        return self.ops_per_pass() if problems else 0

    def traced_pass(self, tracer) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# meds_preprocess
# ---------------------------------------------------------------------------


class MedsPreprocess(Workload):
    name = "meds_preprocess"

    def generate(self, seed: int) -> gen.Inputs:
        self.inputs = gen.meds_cohort(
            seed, os.path.join(self.work_dir, "inputs", "cohort.parquet"),
            n_patients=COHORT_PATIENTS,
        )
        return self.inputs

    def _config(self, nrt_dir: str) -> dict:
        return {
            "stages": PREPROCESS_STAGES,
            "stage_configs": {
                "filter_patients": {
                    "min_measurements_per_patient": gen.MIN_MEASUREMENTS_PER_PATIENT,
                    "min_events_per_patient": gen.MIN_EVENTS_PER_PATIENT,
                },
                "filter_measurements": {"min_patients_per_code": gen.MIN_PATIENTS_PER_CODE},
                "occlude_outliers": {"stddev_cutoff": gen.STDDEV_CUTOFF},
                "tensorization": {"nrt_dir": nrt_dir},
            },
        }

    @property
    def nrt_dir(self) -> str:
        return os.path.join(self.out_dir, "nrt")

    def run_pass(self) -> list[float]:
        from meds_polars_functions_spark.plans.pipeline import Pipeline
        from meds_polars_functions_spark.plans.registry import build_stages
        from meds_polars_functions_spark.sources.readers import read_table

        _rmtree(self.out_dir)
        t0 = time.perf_counter()
        data = read_table(self.spark, self.inputs.paths["cohort"])
        Pipeline(build_stages(self._config(self.nrt_dir))).run(self.spark, data)
        return [time.perf_counter() - t0]

    def check(self) -> list[str]:
        from meds_polars_functions_spark.sources.writers import read_nrt

        exp = self.inputs.expected
        try:
            nrt = read_nrt(self.nrt_dir)
        except FileNotFoundError as e:
            return [str(e)]
        got = {
            "patients": len(nrt["patient_id"]),
            "events": len(nrt["code__inner_offsets"]) - 1,
            "measurements": len(nrt["code__values"]),
        }
        problems = [
            f"{k}: got {got[k]}, expected {exp[k]}" for k in got if got[k] != exp[k]
        ]
        if len(np.unique(nrt["patient_id"])) != got["patients"]:
            problems.append("a patient has more than one sequence")
        codes, counts = np.unique(nrt["code__values"], return_counts=True)
        per_code = {int(c): int(n) for c, n in zip(codes, counts)}
        if per_code != exp["per_code"]:
            diff = sorted(set(per_code.items()) ^ set(exp["per_code"].items()))[:4]
            problems.append(f"per-code counts differ, e.g. {diff}")
        return problems

    def traced_pass(self, tracer) -> None:
        """The pipeline with each stage materialised, as
        ``Pipeline(checkpoint_dir=...)`` does, so that each stage's span
        holds its own work."""
        from meds_polars_functions_spark.plans.pipeline import Pipeline
        from meds_polars_functions_spark.plans.registry import build_stages
        from meds_polars_functions_spark.sources.readers import read_table

        _rmtree(self.out_dir)
        ckpt_root = os.path.join(self.out_dir, "ckpt")
        spark = self.spark

        def traced(stage):
            def fn(*args, **kwargs):
                with tracer.span(STAGE_LAYER[stage.name]) as s:
                    if stage.name == "tensorization":
                        out = stage.fn(*args, **kwargs)
                        s.attrs["files"], s.attrs["bytes"] = _dir_stats(self.nrt_dir)
                        return out
                    with tracer.span("plans.build"):
                        out = stage.fn(*args, **kwargs)
                    with tracer.span("plans.plan"):
                        out._jdf.queryExecution().executedPlan()
                    path = os.path.join(ckpt_root, stage.name)
                    out.write.mode("overwrite").parquet(path)
                    return spark.read.parquet(path)
            return replace(stage, fn=fn)

        with tracer.span("sources.readers"):
            data = read_table(spark, self.inputs.paths["cohort"])
        with tracer.span("plans.build"):
            stages = build_stages(self._config(self.nrt_dir))
        with tracer.span("plans.pipeline"):
            Pipeline([traced(s) for s in stages]).run(spark, data)


# ---------------------------------------------------------------------------
# meds_extract
# ---------------------------------------------------------------------------


class MedsExtract(Workload):
    """The extraction CLI's steps (``plans/extract_cli.py``), called here one
    by one so that the session stays up between passes."""

    name = "meds_extract"
    SPLITS = {"train": 0.8, "tuning": 0.1, "held_out": 0.1}

    def generate(self, seed: int) -> gen.Inputs:
        self.inputs = gen.extract_tables(
            seed, os.path.join(self.work_dir, "inputs", "raw"),
            n_subjects=EXTRACT_SUBJECTS, n_labs=EXTRACT_LABS,
        )
        return self.inputs

    def _read(self):
        from meds_polars_functions_spark.sources.readers import read_table

        return {name: read_table(self.spark, self.inputs.paths[name])
                for name in gen.EXTRACT_EVENT_CONFIG}

    def _cohort(self, tables):
        from meds_polars_functions_spark.operators.extract_events import convert_to_events
        from meds_polars_functions_spark.operators.merge_sort import merge_and_sort
        from meds_polars_functions_spark.schema import finalize_data

        frames = []
        for name, table_cfg in gen.EXTRACT_EVENT_CONFIG.items():
            cfg = dict(table_cfg)
            pid_col = cfg.pop("patient_id_col", "patient_id")
            frames.append(convert_to_events(tables[name], cfg, patient_id_col=pid_col))
        return finalize_data(merge_and_sort(frames)).persist()

    def _split(self, cohort):
        from meds_polars_functions_spark.operators.split_patients import (
            harvest_patient_ids, shard_patients, splits_to_dataframe,
        )

        ids = harvest_patient_ids([cohort])
        shards = shard_patients(ids, n_patients_per_shard=50_000,
                                split_fracs_dict=self.SPLITS, seed=1)
        return ids, shards, splits_to_dataframe(self.spark, shards)

    def _write(self, cohort, shards, splits_df) -> int:
        from pyspark.sql import functions as F

        from meds_polars_functions_spark.operators.aggregate_code_metadata import (
            aggregate_code_metadata,
        )
        from meds_polars_functions_spark.sources.writers import write_json, write_parquet

        out = self.out_dir
        write_parquet(cohort.join(F.broadcast(splits_df), "patient_id"),
                      os.path.join(out, "data"), partition_by=["split"])
        write_parquet(splits_df, os.path.join(out, "metadata", "patient_splits"))
        write_parquet(aggregate_code_metadata(cohort, do_summarize_over_all_codes=True),
                      os.path.join(out, "metadata", "codes"))
        write_json(shards, os.path.join(out, "metadata", "splits.json"))
        rows = cohort.count()
        cohort.unpersist()
        return rows

    def run_pass(self) -> list[float]:
        _rmtree(self.out_dir)
        t0 = time.perf_counter()
        cohort = self._cohort(self._read())
        _, shards, splits_df = self._split(cohort)
        self.summary_rows = self._write(cohort, shards, splits_df)
        return [time.perf_counter() - t0]

    def check(self) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        exp = self.inputs.expected
        problems = []
        data = ds.dataset(os.path.join(self.out_dir, "data"), format="parquet",
                          partitioning="hive").to_table(columns=["patient_id", "split"])
        if data.num_rows != exp["cohort_rows"]:
            problems.append(f"split rows sum to {data.num_rows}, expected {exp['cohort_rows']}")
        if self.summary_rows != exp["cohort_rows"]:
            problems.append(f"cohort count {self.summary_rows}, expected {exp['cohort_rows']}")
        pairs = data.group_by(["patient_id", "split"]).aggregate([])
        n_patients = len(pc.unique(pairs["patient_id"]))
        if pairs.num_rows != n_patients:
            problems.append(f"{pairs.num_rows - n_patients} patients are in more than one split")
        if n_patients != exp["patients"]:
            problems.append(f"{n_patients} patients in the data, expected {exp['patients']}")
        codes = ds.dataset(os.path.join(self.out_dir, "metadata", "codes"),
                           format="parquet").to_table(columns=["code", "code/n_occurrences"])
        per_code = codes.filter(pc.is_valid(codes["code"]))["code/n_occurrences"]
        if pc.sum(per_code).as_py() != exp["cohort_rows"]:
            problems.append(f"codes n_occurrences sum to {pc.sum(per_code).as_py()}, "
                            f"expected {exp['cohort_rows']}")
        with open(os.path.join(self.out_dir, "metadata", "splits.json")) as f:
            shard_ids = [p for ids in json.load(f).values() for p in ids]
        if len(shard_ids) != len(set(shard_ids)) or len(shard_ids) != exp["patients"]:
            problems.append("splits.json does not list every patient exactly once")
        return problems

    def traced_pass(self, tracer) -> None:
        """Each step's span holds its own work: the cohort is materialised
        at the end of the extract span (the CLI's first action would
        otherwise run it inside the id harvest)."""
        _rmtree(self.out_dir)
        with tracer.span("sources.readers"):
            tables = self._read()
        with tracer.span("operators.extract"):
            with tracer.span("plans.build"):
                cohort = self._cohort(tables)
            with tracer.span("plans.plan"):
                cohort._jdf.queryExecution().executedPlan()
            cohort.count()
        with tracer.span("operators.split_patients") as s:
            ids, shards, splits_df = self._split(cohort)
            s.attrs["driver_rows"] = len(ids)
        with tracer.span("sources.writers") as s:
            self.summary_rows = self._write(cohort, shards, splits_df)
            s.attrs["files"], s.attrs["bytes"] = _dir_stats(self.out_dir)


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def result_digest(pdf) -> str:
    """Digest of a result frame under the oracle comparator's normalisation
    (``scripts/compare_oracle.py``): sorted columns, canonical values,
    rows sorted by repr."""
    cols, rows = _oracle_normalize()(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _oracle_normalize():
    import importlib.util

    path = os.path.join(os.path.dirname(HERE), "scripts", "compare_oracle.py")
    spec = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def registry_inputs() -> gen.Inputs:
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    rows = size = 0
    for f in sorted(os.listdir(REGISTRY_DATA)):
        p = os.path.join(REGISTRY_DATA, f)
        with open(p, "rb") as fh:
            h.update(fh.read())
        rows += pq.ParquetFile(p).metadata.num_rows
        size += os.path.getsize(p)
    return gen.Inputs(rows=rows, bytes=size, digest=h.hexdigest(),
                      paths={"sf_dir": REGISTRY_DATA})


class RegistryMix(Workload):
    """Queries from ``__spark_entry__.queries()`` over fixed tables, each
    written to a ``noop`` sink. The seed fixes the query order."""

    name = "registry_mix"
    timed_passes = 1

    def generate(self, seed: int) -> gen.Inputs:
        self.order = list(REGISTRY_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.wrong: dict[str, str] = {}
        self.raised: dict[str, str] = {}
        self.inputs = registry_inputs()
        return self.inputs

    def bind(self, spark) -> None:
        import __spark_entry__ as entry

        super().bind(spark)
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()

    def ops_per_pass(self) -> int:
        return len(self.order)

    def warmup(self) -> None:
        """The first pass collects each result and compares it with the
        stored digest of the DuckDB oracle's result on the same tables."""
        with open(ORACLE_DIGESTS) as f:
            stored = json.load(f)
        if stored.get("data_digest") != self.inputs.digest:
            raise RuntimeError("registry_data changed; rerun make_oracle_digests.py")
        for q in self.order:
            self.spark.catalog.clearCache()
            want = stored["queries"].get(q, {})
            if want.get("sql_sha256") != sql_key(self.oracle_sql[q]):
                self.wrong[q] = "oracle SQL changed since the digest was stored"
                continue
            try:
                got = result_digest(self.queries[q](self.spark, REGISTRY_DATA).toPandas())
            except Exception as e:  # a failing query is reported, not fatal
                self.wrong[q] = f"raised {e!r:.200}"
                continue
            if got != want.get("digest"):
                self.wrong[q] = "result differs from the oracle's"

    def run_pass(self) -> list[float]:
        lat = []
        self.raised: dict[str, str] = {}
        for q in self.order:
            # as bench.py: no query reads a cache another one left behind
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                self.queries[q](self.spark, REGISTRY_DATA).write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted as a failed operation
                self.raised[q] = f"raised {e!r:.200}"
                continue
            lat.append(time.perf_counter() - t0)
        return lat

    def check(self) -> list[str]:
        return [f"{q}: {why}" for q, why in sorted({**self.wrong, **self.raised}.items())]

    def failed_ops(self, problems: list[str]) -> int:
        return len(set(self.wrong) | set(self.raised))

    def traced_pass(self, tracer) -> None:
        for q in self.order:
            self.spark.catalog.clearCache()
            with tracer.span(f"registry.{q}"):
                with tracer.span("plans.build"):
                    df = self.queries[q](self.spark, REGISTRY_DATA)
                with tracer.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
                df.write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (MedsPreprocess, MedsExtract, RegistryMix)}

