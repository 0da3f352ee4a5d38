"""Spans, Spark job accounting and the arithmetic the report uses.

A span records (name, start, end, parent, op id). Spans stay in memory
and are written out when the run ends. Each span runs its Spark actions
under its own job group, so the jobs, stages and tasks it launched are
read back from the status tracker per span.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    op: int | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """With ``enabled`` false, ``span`` and ``force`` do nothing, so an
    untraced op pays nothing for the instrumentation."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        # measurements a span defers until its op's timer has stopped
        self.after_op: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                   op=self.op, group=f"span-{idx}")
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec.group, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]].group if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def force(self, df):
        """Materialise a lazy DataFrame inside the current span, so the
        span's time is the layer's real work. Untraced, the frame is
        returned as is and Spark may fuse it with what follows."""
        if not self.enabled:
            return df
        return df.localCheckpoint(eager=True)

    def job_stats(self, spans: list[Span]) -> None:
        """Fill ``jobs/stages/tasks/failed_tasks`` on each span from the
        status tracker (called after the op, once the listener caught up)."""
        tracker = self.sc.statusTracker()
        for s in spans:
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            s.counts.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def spans_of(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def finish_op(self) -> None:
        while self.after_op:
            self.after_op.pop(0)()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span (``parent`` indexes into ``spans``): its duration minus the
    part of its interval its children cover, overlaps counted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - covered(s.start, s.end, kids.get(i, [])) for i, s in enumerate(spans)]


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    if n == 0:
        raise ValueError("median of no samples")
    return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2

