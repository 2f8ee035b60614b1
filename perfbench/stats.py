"""Summary statistics shared by the benchmark and its steadiness mode."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

#: a percentile is reported only when at least this many samples lie
#: beyond it, so one outlier cannot set it
MIN_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return statistics.median(xs)


def quartiles(xs: Sequence[float]) -> tuple:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rel_spread(xs: Sequence[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def percentile_reportable(n: int, p: float, beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``beyond`` above the ``p``-th
    percentile: p90 needs 100 samples, p99 needs 1000."""
    return n * (100.0 - p) / 100.0 >= beyond - 1e-9


def percentile(xs: Sequence[float], p: float) -> Optional[float]:
    """Nearest-rank ``p``-th percentile, or None when too few samples lie
    beyond it (:func:`percentile_reportable`)."""
    if not xs or not percentile_reportable(len(xs), p):
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]
