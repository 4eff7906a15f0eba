"""The benchmark's own arithmetic: medians, the tail rule, interval unions,
self time, driver gap and error rate. Pure functions, no Spark."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

Interval = tuple[float, float]


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def tail(samples: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the value
    at rank ``n - 11`` (0-based) has exactly ten samples above it, which is
    percentile ``100 * (n - 10) / n``. With ten samples or fewer no
    percentile has ten beyond it, so the maximum (percentile 100) stands in.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n <= 10:
        return float(ordered[-1]), 100.0, n
    return float(ordered[n - 11]), 100.0 * (n - 10) / n, n


def union_length(intervals: Iterable[Interval], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    covered = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def self_time(span: Interval, children: Iterable[Interval]) -> float:
    """A span's duration minus the part of it its children cover. Children
    may overlap each other (threads), so their union is subtracted, not
    their sum."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def driver_gap(op: Interval, jobs: Iterable[Interval]) -> float:
    """Operation wall time during which no Spark job of it was running."""
    return self_time(op, jobs)


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error rate of no attempts")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
