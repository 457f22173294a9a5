"""Spans recorded by the benchmark around its calls into each layer, and
the Spark event-log counters folded into them.

A span is a named interval with a parent; every span of one pass shares
the pass's ``trace_id``. Each span tags the Spark jobs it starts with a
job group of its own (``setJobGroup``), so after the run the event log's
job, stage and task records can be attributed to the span that caused
them. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Task-level counters summed per span, from each SparkListenerTaskEnd.
TASK_COUNTERS = (
    "tasks", "failed_tasks", "task_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "output_bytes", "python_bytes_sent",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    trace_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def group(self) -> str:
        return f"{self.trace_id}/{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``sc`` is the SparkContext whose jobs get tagged (may
    be None for tests of the arithmetic)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else "run")
        s = Span(len(self.spans), parent.id if parent else None, name, tid,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name, False)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def self_time(self, s: Span) -> float:
        return self_time(s, self.children(s))

    def total(self, s: Span, counter: str) -> float:
        """A counter summed over ``s`` and every span below it."""
        return sum(x.counters.get(counter, 0.0) for x in self.subtree(s))

    def find(self, name: str, under: Span | None = None) -> list[Span]:
        pool = self.subtree(under) if under is not None else self.spans
        return [x for x in pool if x.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = {k: getattr(s, k) for k in ("id", "parent", "name", "trace_id", "start", "end")}
                d.update(duration_s=s.duration, self_s=self.self_time(s),
                         attrs=s.attrs, counters=dict(s.counters))
                f.write(json.dumps(d) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover;
    overlapping children are counted once and clipped to the span."""
    covered, cur_start, cur_end = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def fold_event_log(path: str, tracer: Tracer) -> dict:
    """Attribute the event log's jobs, stages and tasks to spans by job
    group. Returns per-span task-duration lists (for skew) keyed by span id.

    Broadcast sizes are SQL metrics reported on the driver: they are
    matched to BroadcastExchange nodes through the plan infos of each SQL
    execution and attributed through the execution's job group."""
    by_group = {s.group: s for s in tracer.spans}
    stage_span: dict[int, Span] = {}
    exec_span: dict[str, Span] = {}
    broadcast_accums: set[int] = set()
    task_ms_by_stage: dict[int, list[float]] = defaultdict(list)
    driver_updates: list[tuple[str, int, float]] = []

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                s = by_group.get(props.get("spark.jobGroup.id"))
                if s is None:
                    continue
                s.counters["jobs"] += 1
                s.counters["stages"] += len(e["Stage IDs"])
                for sid in e["Stage IDs"]:
                    stage_span[sid] = s
                if "spark.sql.execution.id" in props:
                    exec_span.setdefault(props["spark.sql.execution.id"], s)
            elif kind == "SparkListenerTaskEnd":
                s = stage_span.get(e["Stage ID"])
                if s is None:
                    continue
                _add_task(s, e)
                m = e.get("Task Metrics") or {}
                task_ms_by_stage[e["Stage ID"]].append(float(m.get("Executor Run Time", 0)))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _collect_broadcast_accums(e.get("sparkPlanInfo") or {}, broadcast_accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates") or []:
                    driver_updates.append((str(e["executionId"]), int(acc_id), float(value)))

    for exec_id, acc_id, value in driver_updates:
        s = exec_span.get(exec_id)
        if s is not None and acc_id in broadcast_accums:
            s.counters["broadcast_bytes"] += value

    skew: dict[int, list[list[float]]] = defaultdict(list)
    for sid, durations in task_ms_by_stage.items():
        skew[stage_span[sid].id].append(durations)
    return skew


def _add_task(s: Span, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    c = s.counters
    c["tasks"] += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        c["failed_tasks"] += 1
    c["task_ms"] += m.get("Executor Run Time", 0)
    c["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    c["gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    # rows, not bytes: the parquet reader's byte count misses most reads
    c["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables") or []:
        if acc.get("Name") == "data sent to Python workers":
            c["python_bytes_sent"] += float(acc.get("Update") or 0)


def _collect_broadcast_accums(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("BroadcastExchange"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "data size")
    for child in plan.get("children", []):
        _collect_broadcast_accums(child, out)


def task_skew(stage_durations: list[list[float]]) -> float:
    """max ÷ median task time of the span's heaviest stage (by summed task
    time); 1.0 when the span ran no multi-task stage."""
    stages = [d for d in stage_durations if len(d) > 1]
    if not stages:
        return 1.0
    heaviest = max(stages, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0
