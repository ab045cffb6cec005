"""Summary statistics of one run's samples.

Only this run's samples are summarised: a median, its quartiles, and a
tail at the highest percentile that still has at least ten samples beyond
it. Nothing here reads earlier runs, so no record can be a best-of or a
history maximum.
"""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: samples that must lie beyond a tail percentile for it to be reported
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), as ``statistics.quantiles(xs, n=4)`` gives them."""
    if not xs:
        raise ValueError("quartiles of no samples")
    if len(xs) == 1:
        return (float(xs[0]),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)


def rel_spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest ladder percentile with at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def tail(xs: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """(percentile, nearest-rank value) of the tail, or None if too few
    samples support one."""
    p = tail_percentile(len(xs), min_beyond)
    if p is None:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return p, float(s[rank - 1])


def summary(xs: list[float]) -> dict:
    """Median, quartiles, tail and sample count of one metric's samples."""
    q1, q2, q3 = quartiles(xs)
    out = {"n": len(xs), "median": q2, "q1": q1, "q3": q3}
    t = tail(xs)
    if t is not None:
        out["tail_pct"], out["tail"] = t
    return out
