"""Summary statistics shared by the workloads."""

from __future__ import annotations

import statistics

#: Samples that must lie above a reported tail value.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest percentile that has at
    least ``TAIL_BEYOND`` samples beyond it.

    A run with too few samples for that keeps as many beyond the value
    as stay above the median, so the tail never drops below the median;
    the percentile and sample count printed beside it say which case
    applied.
    """
    if not values:
        return 0.0, 0.0, 0
    ordered = sorted(values)
    n = len(ordered)
    beyond = min(TAIL_BEYOND, (n - 1) // 2)
    idx = n - 1 - beyond
    pct = 100.0 * idx / (n - 1) if n > 1 else 100.0
    return ordered[idx], pct, n
