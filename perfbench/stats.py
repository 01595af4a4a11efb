"""Order statistics used for every reported timing."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER that leaves at least ten of
    ``n`` samples above it; None when even the median does not."""
    for q in TAIL_LADDER:
        if n - math.ceil(n * q / 100.0) >= 10:
            return q
    return None


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summarize(xs) -> dict:
    """Median, tail and sample count of one latency series (ms)."""
    xs = list(xs)
    q = tail_percentile(len(xs))
    out = {"n": len(xs), "p50": median(xs)}
    if q is not None:
        out[f"p{q:g}"] = percentile(xs, q)
    return out
