"""Summary statistics with the benchmark's reporting rule.

A tail percentile is reported only when at least ten samples lie beyond
it, so p90 needs 100 samples and p99 needs 1,000. The median is always
reported, with its sample count.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n: int, q: float) -> bool:
    """True when at least ``MIN_BEYOND`` of ``n`` samples lie above the
    ``q``-th percentile."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND


def tail(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or None when too few samples lie beyond it."""
    return percentile(values, q) if reportable(len(values), q) else None


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    """Geometric mean: every sample weighs the same in ratio terms, so a
    2x change in any one op moves it by the same factor."""
    return statistics.geometric_mean(values)
