"""Summary statistics for the benchmark's latency samples."""

from __future__ import annotations

# candidate tail percentiles, highest first; the median is the floor
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (numpy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    strictly above it, as ``(q, value)``. With too few samples for any
    ladder rung the median is returned (``q`` = 50)."""
    for q in TAIL_LADDER:
        v = percentile(samples, q)
        if sum(1 for x in samples if x > v) >= MIN_BEYOND:
            return q, v
    return 50.0, percentile(samples, 50.0)
