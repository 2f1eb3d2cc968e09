"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples (the
    rounding keeps e.g. 99.9 % of 10000 at exactly 9990)."""
    return max(1, math.ceil(round(q / 100.0 * n, 9)))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return 0.0
    return float(xs[_rank(q, len(xs)) - 1])


def tail_percentile(n: int, min_beyond: int = 10,
                    levels=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """The highest of ``levels`` that leaves at least ``min_beyond`` of
    ``n`` samples strictly above its nearest-rank position; None when even
    the lowest level does not."""
    for q in levels:
        if n - _rank(q, n) >= min_beyond:
            return q
    return None
