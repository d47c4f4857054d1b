"""Summary statistics for timings: median and tail percentiles that keep at
least ten samples beyond them."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(samples, q: float, min_beyond: int = MIN_BEYOND) -> dict | None:
    """Nearest-rank ``q``-th percentile of ``samples`` with its sample count.

    Returns None when fewer than ``min_beyond`` samples lie beyond the
    percentile's rank: such a tail is one or two outliers, not a percentile.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    beyond = n - rank
    if beyond < min_beyond:
        return None
    return {"q": q, "value": float(xs[rank - 1]), "n": n, "beyond": beyond}


def tail(samples, candidates=TAIL_CANDIDATES, min_beyond: int = MIN_BEYOND) -> dict | None:
    """The highest candidate percentile that has ``min_beyond`` samples
    beyond it, or None when even the lowest candidate has too few."""
    for q in candidates:
        p = percentile(samples, q, min_beyond)
        if p is not None:
            return p
    return None
