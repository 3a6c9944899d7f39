"""Order statistics for latency samples."""

from __future__ import annotations


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (numpy's default method); 0.0
    for an empty sample."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
