"""Percentiles and the tail rule used for every timing the benchmark reports."""

from __future__ import annotations

#: Candidate tail percentiles, lowest first.
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
#: A tail percentile must leave at least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples strictly beyond it, or None when even the lowest has fewer."""
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            best = p
    return best


def median_and_tail(values: list[float]) -> dict:
    """``{"p50", "tail", "tail_pct", "n"}``. When the sample is too small for
    any ladder percentile the tail falls back to the maximum, flagged by
    ``tail_pct = 100``."""
    p = tail_percentile(len(values))
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, p if p is not None else 100.0),
        "tail_pct": p if p is not None else 100.0,
        "n": len(values),
    }
