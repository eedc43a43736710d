"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

#: Percentiles the tail metric may name, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int:
    """The highest of :data:`TAIL_PERCENTILES` that leaves at least ten of
    ``n`` samples above its nearest rank; 50 when none does (fewer than
    20 samples), so the tail then reads as the median."""
    for p in TAIL_PERCENTILES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p
    return 50
