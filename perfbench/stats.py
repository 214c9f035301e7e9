"""Percentiles and spreads used by the run, the report and the
steadiness record."""

from __future__ import annotations

import math
import statistics


def _rank(pct: float, n: int) -> int:
    # round() first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(pct, len(ordered)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest of p50, p90, p99, p99.9 that has at least
    ``min_beyond`` of ``n`` samples strictly above its nearest rank;
    ``None`` when even the median has fewer."""
    best = None
    for pct in (50, 90, 99, 99.9):
        if n - _rank(pct, n) >= min_beyond:
            best = pct
    return best


def quartile_spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and (q3 - q1) / median, with the quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }
