"""In-memory span recorder for the traced benchmark run.

A span has a name, a start and end (``time.perf_counter``), a parent span
and an operation id shared by every span one timed operation caused. Spans
stay in memory and are written out once, when the run ends.

Spark work is attributed per span by job group: opening a span sets a
group unique to that span in the calling thread (``setJobGroup``) and
closing it restores the enclosing one, so ``statusTracker()`` later lists
exactly the jobs that thread submitted while the span was innermost. Jobs
the engine submits from its own helper threads carry no group; they are
assigned to the top-level span whose job-id range they fall in (job ids are
sequential and top-level spans never overlap, because the benchmark opens
them from one thread).

A span opened on a thread with no open span of its own (an engine pool
thread running a wrapped ``SnapshotTable.merge``) takes the innermost open
span of the thread that opened the first span as its parent. Siblings from
two threads therefore overlap, which is why self time subtracts the union
of the children's intervals rather than their sum.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

_GROUP_PROP = "spark.jobGroup.id"
_DESC_PROP = "spark.job.description"


class Span:
    __slots__ = (
        "sid", "name", "parent", "op", "t0", "t1", "group", "job_lo",
        "job_hi", "attrs", "jobs", "stages", "tasks",
    )

    def __init__(self, sid, name, parent, op, attrs):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.attrs = attrs
        self.t0 = self.t1 = 0.0
        self.group = None
        self.job_lo = self.job_hi = None
        self.jobs: set[int] = set()
        self.stages = self.tasks = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {
            "sid": self.sid, "name": self.name, "parent": self.parent,
            "op": self.op, "t0": self.t0, "t1": self.t1,
            "jobs": len(self.jobs), "stages": self.stages,
            "tasks": self.tasks, **self.attrs,
        }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    untraced run executes the same benchmark code path with no spans, no
    job groups and no status-tracker reads."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._ops = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root = None
        self._root_stack: list[Span] = []

    # -- recording ------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def new_op(self) -> int:
        return next(self._ops)

    def _watermark(self) -> int:
        """Highest job id without a group; the benchmark's own jobs always
        run inside a span and so carry one."""
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        me = threading.current_thread()
        with self._lock:
            if self._root is None:
                self._root, self._root_stack = me, stack
        if stack:
            parent = stack[-1]
        elif me is not self._root and self._root_stack:
            parent = self._root_stack[-1]
        else:
            parent = None
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 dict(attrs))
        prev = None
        if self.sc is not None:
            s.group = f"perfbench-{s.sid}"
            prev = (self.sc.getLocalProperty(_GROUP_PROP),
                    self.sc.getLocalProperty(_DESC_PROP))
            if parent is None:
                s.job_lo = self._watermark()
            self.sc.setJobGroup(s.group, name)
        stack.append(s)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                if parent is None:
                    s.job_hi = self._watermark()
                self.sc.setLocalProperty(_GROUP_PROP, prev[0])
                self.sc.setLocalProperty(_DESC_PROP, prev[1])
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, t0: float, t1: float) -> None:
        """Record a finished top-level span that ran no Spark jobs of its
        own (the session start, timed before the tracer existed)."""
        if self.enabled:
            s = Span(next(self._ids), name, None, None, {})
            s.t0, s.t1, s.job_lo, s.job_hi = t0, t1, -1, -1
            self.spans.append(s)

    # -- resolution -----------------------------------------------------

    def resolve_jobs(self) -> dict:
        """Fill each span's jobs, stages and tasks from the status tracker.
        Returns run totals: every job id the tracker knows and how many of
        them no span claimed."""
        if self.sc is None:
            return {"jobs_total": 0, "jobs_unattributed": 0}
        st = self.sc.statusTracker()
        claimed: set[int] = set()
        for s in self.spans:
            if s.group is not None:
                s.jobs = set(st.getJobIdsForGroup(s.group))
                claimed |= s.jobs
        loose = set(st.getJobIdsForGroup(None))
        tops = [s for s in self.spans if s.parent is None]
        for j in loose:
            for s in tops:
                if s.job_lo < j <= s.job_hi:
                    s.jobs.add(j)
                    claimed.add(j)
                    break
        for s in self.spans:
            for j in s.jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.stages += 1
                        s.tasks += si.numTasks
        everything = claimed | loose
        return {"jobs_total": len(everything),
                "jobs_unattributed": len(everything - claimed),
                "unattributed_ids": sorted(everything - claimed)}

    # -- aggregation ----------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]] | None = None) -> float:
        kids = self.children() if kids is None else kids
        covered = union_length(
            [(c.t0, c.t1) for c in kids.get(s.sid, [])], s.t0, s.t1
        )
        return s.dur - covered

    def subtree_jobs(self, s: Span, kids: dict[int, list[Span]]) -> int:
        return len(s.jobs) + sum(self.subtree_jobs(c, kids) for c in kids.get(s.sid, []))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in sorted(self.spans, key=lambda s: s.t0)]
