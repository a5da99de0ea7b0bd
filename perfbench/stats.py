"""Pure arithmetic behind the benchmark's metrics (no Spark; unit-tested)."""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

TAIL_BEYOND = 10  # a tail percentile must leave at least this many samples beyond it


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> Optional[int]:
    """Highest whole percentile whose nearest-rank sample has at least
    ``beyond`` of the ``n`` samples above it; None when no percentile does."""
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return None


def steal_adjusted(wall: float, busy: float, steal: float) -> float:
    """``wall`` seconds as they would have lasted on CPUs the host does not
    share. Over the interval the machine's CPUs were busy for ``busy`` and
    stolen by the host for ``steal`` CPU seconds; a stolen CPU's thread is
    runnable but not running, so its work advanced only ``busy / (busy +
    steal)`` as fast as on a dedicated CPU. Assumes the theft falls evenly
    on the busy CPUs."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    """One timed interval. ``job_lo``/``job_hi`` are the Spark job-id
    watermarks (next job id) read when the span opened and closed: jobs
    with ids in ``[job_lo, job_hi)`` were submitted while it was open."""

    id: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    job_lo: int = 0
    job_hi: int = 0

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(p.id, []).append((lo, hi))
    return {
        s.id: max(0.0, s.duration - union_length(children.get(s.id, [])))
        for s in spans
    }


def innermost_by_watermark(spans: list[Span], job_id: int) -> Optional[Span]:
    """The innermost span whose job-id watermark range holds ``job_id``.
    Ranges of nested spans nest, so the narrowest containing range wins;
    among equal ranges the span opened last is the inner one."""
    best = None
    for s in spans:
        if s.job_lo <= job_id < s.job_hi:
            if best is None or (s.job_hi - s.job_lo, -s.id) < (
                best.job_hi - best.job_lo,
                -best.id,
            ):
                best = s
    return best


def driver_gap(wall: float, job_intervals: list[tuple[float, float]]) -> float:
    """Operation wall time not covered by any running Spark job."""
    return max(0.0, wall - union_length(job_intervals))
