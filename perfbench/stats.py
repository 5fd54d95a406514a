"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10  # samples a reported percentile must have beyond it
PERCENTILE_LADDER = (99, 95, 90, 80, 75, 70, 60, 50)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values: list[float], p: float) -> int:
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def highest_supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest ladder percentile that leaves at least `min_beyond`
    of `n` samples beyond it, or None when even the median does not."""
    for p in PERCENTILE_LADDER:
        if n - (int((n - 1) * p / 100.0) + 1) >= min_beyond:
            return p
    return None


def halves_ratio(values: list[float]) -> float:
    """Median of the first half of a run's timed ops over the median of
    its second half. Above 1 means the run was still warming up."""
    h = len(values) // 2
    if h == 0:
        return 1.0
    return statistics.median(values[:h]) / statistics.median(values[h:])
