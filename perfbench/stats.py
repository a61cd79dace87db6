"""Percentiles under the benchmark's sample-count rule.

A timing is reported as its median plus the highest tail percentile
that still has at least ``MIN_BEYOND`` samples beyond it; with fewer
samples the tail is not reported at all, because a p90 over nine
operations is just the maximum.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0 <= q <= 100), linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the q-th percentile
    rank: the count a tail estimate rests on."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest tail percentile with >= MIN_BEYOND samples beyond it for
    ``n`` samples, or None when even p90 would rest on fewer."""
    for q in TAIL_PERCENTILES:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def timing_summary(values: list[float]) -> dict:
    """``{"n", "p50"}`` plus ``"p<q>"`` for the tail percentile the
    sample count allows."""
    out = {"n": len(values), "p50": statistics.median(values)}
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out

