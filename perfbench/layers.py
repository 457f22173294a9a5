"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Two passes feed them. Engine-wide counters (``spark.*``, ``plans.jobs``
and the like, read amplification) come from the last plain pass, whose
jobs are tagged with the pass's job group but which runs the program
exactly as the untraced run does. Layer self times and per-layer counters
come from the traced pass, whose spans wrap each layer call and which
materialises each MEDS stage so that a span holds its own work. A metric
of a layer the workload does not reach is 0.
"""

from __future__ import annotations

from spans import Span, Tracer, task_skew
from workloads import PREPROCESS_STAGES

OPERATOR_STAGES = PREPROCESS_STAGES[:6]


def layer_metrics(names: list[str], tracer: Tracer, *, plain: Span, traced: Span, skew: dict,
                  inputs, slots: int, session_start_s: float, warmup_s: float,
                  queries: list[str]) -> dict[str, float]:
    """The metrics ``names`` (BENCHMARK.json's per-layer list). Raises if
    this code computes a metric that list does not declare."""
    m = dict.fromkeys(names, 0.0)

    def spans(name: str) -> list[Span]:
        return tracer.find(name, under=traced)

    def self_s(name: str) -> float:
        return sum(tracer.self_time(s) for s in spans(name))

    def total(name: str, counter: str) -> float:
        return sum(tracer.total(s, counter) for s in spans(name))

    def plain_total(counter: str) -> float:
        return tracer.total(plain, counter)

    m["session.start_s"] = session_start_s
    m["session.warmup_s"] = warmup_s

    m["plans.build_ms"] = 1000 * sum(s.duration for s in spans("plans.build"))
    m["plans.plan_ms"] = 1000 * sum(s.duration for s in spans("plans.plan"))
    for k in ("jobs", "stages", "tasks"):
        m[f"plans.{k}"] = plain_total(k)

    m["sources.readers.input_rows"] = plain_total("input_rows")
    m["sources.readers.read_amplification"] = plain_total("input_rows") / inputs.rows
    m["sources.readers.scan_task_ms"] = total("sources.readers", "task_ms")

    m["operators.extract.self_s"] = self_s("operators.extract")
    m["operators.extract.shuffle_bytes"] = total("operators.extract", "shuffle_write_bytes")
    m["operators.split_patients.self_s"] = self_s("operators.split_patients")
    m["operators.split_patients.driver_rows"] = sum(
        s.attrs.get("driver_rows", 0) for s in spans("operators.split_patients"))
    for stage in OPERATOR_STAGES:
        m[f"operators.{stage}.self_s"] = self_s(f"operators.{stage}")
    # broadcast sizes are SQL metrics, which plans run through DataFrame.rdd
    # (the .nrt writer) never post; the traced pass runs each stage as SQL
    m["operators.broadcast_bytes"] = tracer.total(traced, "broadcast_bytes")

    tok = spans("operators.tokenization")
    m["operators.tokenization.self_s"] = self_s("operators.tokenization")
    m["operators.tokenization.spill_bytes"] = total("operators.tokenization", "spill_bytes")
    if tok:
        m["operators.tokenization.task_skew"] = task_skew(
            [d for s in tok for x in tracer.subtree(s) for d in skew.get(x.id, [])])

    writers = spans("sources.writers")
    m["sources.writers.self_s"] = self_s("sources.writers")
    m["sources.writers.python_task_ms"] = total("sources.writers", "task_ms")
    m["sources.writers.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writers)
    m["sources.writers.files_written"] = sum(s.attrs.get("files", 0) for s in writers)

    for q in queries:
        for s in spans(f"registry.{q}"):
            m[f"registry.{q}.s"] = s.duration
            m[f"registry.{q}.jobs"] = tracer.total(s, "jobs")
    if queries:
        m["registry.python_bytes_sent"] = plain_total("python_bytes_sent")

    for k in ("task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "failed_tasks"):
        m[f"spark.{k}"] = plain_total(k)
    m["spark.core_busy_ratio"] = plain_total("task_ms") / 1000 / (plain.duration * slots)
    m["spark.accumulator_errors"] = plain.attrs.get("accumulator_errors", 0)

    # against the plain pass just before it, the one closest in warmth
    m["trace.overhead_s"] = traced.duration - plain.duration
    undeclared = sorted(set(m) - set(names))
    if undeclared:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {undeclared}")
    return m
