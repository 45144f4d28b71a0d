"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
_TAILS = (99.9, 99.0, 95.0, 90.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> float | None:
    """The highest reported percentile with at least ten samples beyond
    it, or None when ``n`` is too small for any (fewer than 100)."""
    for p in _TAILS:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            return p
    return None


def summary(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out = {"n": len(values), "median": median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles ``statistics.quantiles(values, n=4)`` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
