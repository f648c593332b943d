"""Order statistics for timings: median, quartiles and the highest
percentile that still has at least ten samples beyond it, always with the
sample count."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p with at least ten of *n* samples above
    it, or None when there are too few samples for any."""
    if n < 11:
        return None
    return min(99, math.floor(100 * (1 - 10 / n)))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summary(values) -> dict:
    xs = [float(v) for v in values]
    out = {"n": len(xs)}
    if not xs:
        return out
    out["median"] = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out["q1"], out["q3"] = q1, q3
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p}"] = percentile(xs, p)
    return out


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    xs = [float(v) for v in values]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
