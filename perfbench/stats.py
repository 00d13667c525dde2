"""Small statistics helpers shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float, min_beyond: int = 10) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest-rank) of ``values``, or
    None when fewer than ``min_beyond`` samples lie beyond it: a tail
    percentile is only reported when at least ten samples back it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return float(xs[rank - 1])


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
