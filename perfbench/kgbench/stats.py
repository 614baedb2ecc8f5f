"""Statistics helpers: quartile spread and span self time."""

from __future__ import annotations

import statistics
from typing import Iterable, List, Sequence, Tuple


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the steadiness measure applied across seeded runs."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def covered(intervals: Iterable[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped: List[Tuple[float, float]] = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
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


def self_time(start: float, end: float, children: Iterable[Tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (overlapping children are counted once)."""
    return (end - start) - covered(children, start, end)
