"""Self-time arithmetic and span identity on synthetic span trees."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, self_time, task_skew  # noqa: E402


def _span(i, parent, start, end, name="x", trace_id="pass-0"):
    return Span(i, parent, name, trace_id, start, end)


def test_self_time_subtracts_children():
    root = _span(0, None, 0.0, 10.0)
    kids = [_span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.5)]
    assert self_time(root, kids) == pytest.approx(10.0 - 2.0 - 1.5)


def test_self_time_counts_overlap_once_and_clips():
    root = _span(0, None, 0.0, 10.0)
    kids = [
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),    # overlaps the first: union is [1, 5]
        _span(3, 0, 9.0, 12.0),   # runs past the parent: clipped to [9, 10]
        _span(4, 0, -2.0, -1.0),  # outside the parent: ignored
    ]
    assert self_time(root, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, None, 2.0, 7.5), []) == pytest.approx(5.5)


def test_tracer_tree_self_times_and_shared_trace_id():
    tracer = Tracer()
    with tracer.span("pass", trace_id="pass-7") as root:
        with tracer.span("operators.a") as a:
            with tracer.span("plans.build") as b:
                pass
        with tracer.span("sources.writers"):
            pass
    with tracer.span("pass", trace_id="pass-8") as other:
        pass
    one_pass = tracer.subtree(root)
    assert {s.trace_id for s in one_pass} == {"pass-7"}
    assert other.trace_id == "pass-8" and other not in one_pass
    assert [s.name for s in tracer.children(root)] == ["operators.a", "sources.writers"]
    assert b.parent == a.id and a.parent == root.id
    # self times of a tree add up to the root's duration
    assert sum(tracer.self_time(s) for s in one_pass) == pytest.approx(root.duration)
    assert len({s.group for s in tracer.spans}) == len(tracer.spans)


def test_counters_total_over_subtree():
    tracer = Tracer()
    with tracer.span("pass", trace_id="t") as root:
        with tracer.span("a") as a:
            with tracer.span("b") as b:
                pass
    root.counters["jobs"] += 1
    a.counters["jobs"] += 2
    b.counters["jobs"] += 4
    assert tracer.total(root, "jobs") == 7
    assert tracer.total(a, "jobs") == 6


def test_task_skew_uses_heaviest_multi_task_stage():
    assert task_skew([[100.0], [1.0, 1.0, 4.0], [10.0, 10.0, 30.0]]) == pytest.approx(3.0)
    assert task_skew([[5.0]]) == 1.0
    assert task_skew([]) == 1.0
