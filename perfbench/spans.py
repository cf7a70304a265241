"""Spans around the program's public calls, recorded from the benchmark side.

``Tracer.wrap(owner, attr, name)`` swaps a module function or class method for
a wrapper that opens a span around every call. The pipeline looks these
attributes up at call time, so the wrappers see calls made inside the program
too (``incremental_sync_batch`` → ``sinks.append_issue_deltas`` ...).

Each span records name, start, end, parent and the id of the poll or query
it belongs to. Spans are kept in memory; ``summary()`` turns them into the
per-layer metrics when the run ends. A span's self time is its duration
minus the part of it covered by its child spans.

Spark work is attributed exactly: every span sets its own Spark job group, so
the jobs, stages and tasks a call ran are read back from the status tracker
by group id after the run. Counts of this kind repeat from run to run.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    by_id = {s.sid: s for s in spans}
    out = {}
    for s in spans:
        kids = [
            (max(by_id[c].start, s.start), min(by_id[c].end, s.end))
            for c in s.children
        ]
        out[s.sid] = (s.end - s.start) - covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Span recorder. With ``sc=None`` it records wall time only (tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    # -- spans ------------------------------------------------------------

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    def enter(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, 0.0, parent.sid if parent else None, self.op)
        if parent:
            parent.children.append(span.sid)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t
        return span

    def exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)
        self.overhead_s += time.perf_counter() - span.end

    @contextmanager
    def span(self, name: str):
        s = self.enter(name)
        try:
            yield s
        finally:
            self.exit(s)

    def add(self, counter: str, value: float) -> None:
        """Add to a per-layer counter; warm-up work is not counted."""
        if self.op != "warmup":
            self.counters[counter] += value

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``after(result,
        args, kwargs)`` may add counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after:
                after(result, args, kwargs)
            return result

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- results ----------------------------------------------------------

    def resolve_spark_counts(self) -> None:
        """Fill jobs/stages/tasks of every span from the status tracker."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in self.spans:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.sid}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for st in info.stageIds:
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None:
                        s.stages += 1
                        s.tasks += sinfo.numTasks

    def measured(self) -> list[Span]:
        """Spans outside the warm-up phase."""
        return [s for s in self.spans if s.op != "warmup"]

    def summary(self) -> dict[str, float]:
        """Per-layer totals over the measured spans, keyed ``<span>.s``,
        ``<span>.self_s``, ``<span>.calls`` and ``<span>.spark_jobs`` (self
        jobs: a child span's jobs run under the child's group), plus the
        counters."""
        spans = self.measured()
        selfs = self_times(spans)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[f"{s.name}.s"] += s.end - s.start
            out[f"{s.name}.self_s"] += selfs[s.sid]
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.spark_jobs"] += s.jobs
        out.update(self.counters)
        return dict(out)

    def totals(self) -> tuple[int, int, int]:
        """Spark jobs, stages and tasks over the measured spans."""
        spans = self.measured()
        return (
            sum(s.jobs for s in spans),
            sum(s.stages for s in spans),
            sum(s.tasks for s in spans),
        )
