"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def highest_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile of ``n`` samples that still has at
    least ``min_beyond`` samples above it (nearest-rank), or None when
    there are too few samples for any."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= min_beyond:
            best = p
    return best


def percentile(values, p: int) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return float(xs[max(0, math.ceil(p * len(xs) / 100) - 1)])


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
