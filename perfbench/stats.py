"""Summary statistics and the sample-count rule of the report."""

from __future__ import annotations

import math
import statistics

#: a percentile is estimated from the samples only when at least this
#: many samples lie beyond it
MIN_TAIL = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Linear-interpolated ``q``-quantile (``0 <= q <= 1``), the same
    rule as ``numpy.percentile``'s default."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_count(n: int, q: float) -> int:
    """Samples beyond the ``q``-quantile of ``n`` samples."""
    return math.floor(n * (1 - q) + 1e-9)


def tail_ok(n: int, q: float) -> bool:
    """Whether ``n`` samples support a ``q``-quantile estimate: at
    least :data:`MIN_TAIL` samples beyond it (100 for the p90)."""
    return tail_count(n, q) >= MIN_TAIL
