"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(q: float, n: int) -> int:
    """Samples that lie strictly above the interpolation point of the
    ``q``-th percentile in a sample of ``n``."""
    return n - 1 - math.floor(q / 100.0 * (n - 1))


def highest_supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    beyond it, or None when the sample is too small for any."""
    for q in range(99, 0, -1):
        if beyond(q, n) >= min_beyond:
            return q
    return None
