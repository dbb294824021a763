"""Percentiles and tail selection for the benchmark's latency metrics."""

from __future__ import annotations

# Candidate tail percentiles, highest last. The reported tail is the
# highest of these that leaves at least TAIL_BEYOND samples above it, so
# the choice only changes when the sample count crosses a rung.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_BEYOND of `n`
    samples beyond it; None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:  # 99.9 is not exact in binary
            best = p
    return best


def summarize(values) -> dict:
    """Median and tail of a latency sample, with the tail's percentile
    and the sample count. With too few samples for any rung the tail
    falls back to the maximum (percentile 100)."""
    xs = list(values)
    p = tail_percentile(len(xs))
    return {
        "p50": percentile(xs, 50.0),
        "tail": percentile(xs, p if p is not None else 100.0),
        "tail_pct": p if p is not None else 100.0,
        "n": len(xs),
    }
