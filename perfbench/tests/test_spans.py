"""Span recorder: self time under overlapping children, and per-span job
attribution through job groups and the status tracker.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import threading

import pytest

from perfbench.spans import Span, Tracer, union_length


def _span(tr: Tracer, name, t0, t1, parent=None) -> Span:
    s = Span(len(tr.spans), name, parent.sid if parent else None, None, {})
    s.t0, s.t1 = t0, t1
    tr.spans.append(s)
    return s


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(1, 9), (2, 3)], 0, 10) == 8


def test_self_time_subtracts_union_of_overlapping_children():
    tr = Tracer(enabled=True)
    run = _span(tr, "pipeline.run", 0.0, 10.0)
    # two commits on two threads overlap in [3, 4]; a third child is nested
    # inside the first and must not be counted twice
    a = _span(tr, "merge.triples", 2.0, 4.0, run)
    _span(tr, "merge.entities", 3.0, 6.0, run)
    _span(tr, "read", 2.5, 3.5, a)
    assert tr.self_time(run) == pytest.approx(10.0 - 4.0)
    assert tr.self_time(a) == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_jobs_attributed_per_span_and_sum_to_total(spark):
    sc = spark.sparkContext
    tr = Tracer(sc, enabled=True)
    rdd = sc.parallelize(range(100), 4)
    with tr.span("outer"):
        rdd.count()                       # outer's own job
        with tr.span("inner"):
            rdd.sum()                     # inner's job
            rdd.max()                     # inner's job
        # a helper thread with no span of its own: no job group, assigned to
        # the top-level span by job-id range
        t = threading.Thread(target=rdd.min)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()

        def in_span():
            with tr.span("worker"):       # parent: the open span of the
                rdd.first()               # thread that opened the first one
        t = threading.Thread(target=in_span)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    rdd.collect()                         # outside every span
    totals = tr.resolve_jobs()

    by = {s.name: s for s in tr.spans}
    assert len(by["inner"].jobs) == 2
    assert len(by["worker"].jobs) >= 1
    assert by["worker"].parent == by["outer"].sid
    assert len(by["outer"].jobs) == 2     # its count + the helper's min
    kids = tr.children()
    assert tr.subtree_jobs(by["outer"], kids) == sum(len(s.jobs) for s in tr.spans)
    assert totals["jobs_unattributed"] == 1          # the trailing collect
    assert totals["jobs_total"] == sum(len(s.jobs) for s in tr.spans) + 1
    assert all(s.stages >= len(s.jobs) and s.tasks >= s.stages for s in tr.spans)
    # the enclosing job group is restored when a span closes
    assert sc.getLocalProperty("spark.jobGroup.id") is None
