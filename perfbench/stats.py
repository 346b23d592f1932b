"""Summary statistics shared by every workload.

A tail is the highest percentile that still has at least
``TAIL_BEYOND`` samples beyond it. Below ``2 * TAIL_BEYOND`` samples
that percentile would sit at or below the median, so no tail is
reported and the caller records why.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float]) -> dict | None:
    """``{"value", "percentile", "n"}`` for the highest percentile p
    with ``n * (1 - p/100) >= TAIL_BEYOND``, or None when that p would
    not lie above the median. The value is the nearest-rank sample at
    p (rank ``ceil(n * p / 100)``), so it is always a measured sample."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return None
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = max(1, math.ceil(n * pct / 100))
    return {"value": sorted(values)[rank - 1], "percentile": pct, "n": n}
