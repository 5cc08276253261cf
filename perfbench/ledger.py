"""Counters, spans and summary statistics for the benchmark.

Counters come from Spark's own status store (the same store the web UI
reads; it is populated with ``spark.ui.enabled=false`` too). Every timed
call runs under its own job group, so the jobs a call launched are the
jobs whose ``jobGroup`` equals the call's group id.

Spans are kept in memory (name, start, end, parent, operation id) and
written out when the run ends.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# percentiles considered for the tail, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _rank(pct: float, n: int) -> int:
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return s[_rank(pct, len(s)) - 1]


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` that leaves at least
    ``min_beyond`` samples strictly above its rank, as
    ``(percentile, value, n)``; None when even the median leaves fewer."""
    n = len(values)
    best = None
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= min_beyond:
            best = pct
    if best is None:
        return None
    return best, nearest_rank(values, best), n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals, counting
    overlaps once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped_union(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """union_length of the intervals clipped to [lo, hi]."""
    return union_length(
        [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
    )


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    span_id: int

    def as_dict(self) -> dict:
        return {
            "id": self.span_id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op_id,
        }


@dataclass
class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another names it as parent."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op_id: int = 0

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.op_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: duration minus the part of its interval covered by its
    direct children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start)
        - clipped_union(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


# --------------------------------------------------------------------------
# Spark status store


def _opt(o):
    """Scala Option → Python value or None."""
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Reads job and stage counters for one job group at a time."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._gw = self._sc._gateway

    def _jobs(self, group: str) -> list:
        return [
            j for j in _seq(self._store.jobsList(None))
            if _opt(j.jobGroup()) == group
        ]

    def counters(self, group: str, task_skew: bool = False) -> dict:
        """Summed counters of every job launched under ``group``.

        ``job_intervals`` are (submission, completion) in epoch seconds.
        With ``task_skew`` the result also holds ``task_max_over_p50`` and
        ``task_records_max_over_p50``: the largest max/median task run time
        and records read per task over the group's shuffle-reading stages
        (where a hot key lands in one task) that ran more than one task."""
        jobs = self._jobs(group)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "records_read": 0,
            "output_records": 0,
            "shuffle_bytes": 0,
            "task_cpu_s": 0.0,
            "task_run_s": 0.0,
            "job_intervals": [],
        }
        skew = (0.0, 0.0)
        seen: set[int] = set()
        for j in jobs:
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                out["job_intervals"].append(
                    (sub.getTime() / 1000.0, done.getTime() / 1000.0)
                )
            for sid in _seq(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its output was reused, no work ran
                out["stages"] += 1
                out["records_read"] += st.inputRecords()
                out["output_records"] += st.outputRecords()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["task_run_s"] += st.executorRunTime() / 1e3
                if task_skew and st.numTasks() > 1 and st.shuffleReadBytes() > 0:
                    skew = tuple(
                        map(max, skew, self._task_skew(sid, st.attemptId()))
                    )
        if task_skew:
            out["task_max_over_p50"], out["task_records_max_over_p50"] = skew
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> tuple[float, float]:
        """(max/median task run time, max/median shuffle records read)."""
        qs = self._gw.new_array(self._gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = _opt(self._store.taskSummary(stage_id, attempt, qs))
        if dist is None:
            return 0.0, 0.0

        def ratio(quantiles) -> float:
            p50, mx = (float(v) for v in _seq(quantiles))
            return mx / p50 if p50 > 0 else 0.0

        return (
            ratio(dist.executorRunTime()),
            ratio(dist.shuffleReadMetrics().readRecords()),
        )
