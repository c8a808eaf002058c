"""Small statistics helpers: percentiles with a sample-count guard."""

from __future__ import annotations

import math
import statistics

#: an upper percentile must leave at least this many samples beyond it
MIN_BEYOND = 10
LADDER = (99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile; ``p == 50`` is the interpolated median.

    An upper percentile (``p > 50``) is refused with ``ValueError`` unless
    at least ``MIN_BEYOND`` samples lie beyond its rank."""
    if not values:
        raise ValueError("no samples")
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    if p == 50:
        return statistics.median(values)
    n = len(values)
    rank = math.ceil(p / 100 * n)
    if p > 50 and n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} needs {MIN_BEYOND} samples beyond its rank; {n} samples leave {n - rank}"
        )
    return sorted(values)[rank - 1]


def highest_supported(n: int) -> float | None:
    """The highest percentile of :data:`LADDER` that ``n`` samples support."""
    for p in LADDER:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p
    return None


def describe(values: list[float]) -> dict:
    """Median, the highest supported upper percentile, max and the count."""
    out = {"n": len(values), "p50": statistics.median(values), "max": max(values)}
    p = highest_supported(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
