"""Summary statistics with the benchmark's sample-count rule."""

from __future__ import annotations

import math
from collections.abc import Sequence

# a percentile is reported only when at least this many samples lie
# beyond it, so p90 needs 100 samples and p50 needs 20
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Smallest sample count for which percentile ``q`` (0-100) has
    MIN_BEYOND samples beyond it."""
    if q <= 0 or q >= 100:
        raise ValueError(f"percentile must be in (0, 100): {q}")
    return math.ceil(MIN_BEYOND / (1 - q / 100) - 1e-9)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float | None:
    return percentile(values, 50) if values else None


def summarize(values: Sequence[float], qs: Sequence[float] = (50, 90), keep: int = 0) -> dict:
    """``{"n": count, "p50": ..., "p90": ...}``; a percentile whose
    sample count falls short of min_samples is None. The median of
    fewer than 2 * MIN_BEYOND samples is still given, since it is the
    only summary a short series has. Series of at most ``keep`` values
    are included as ``samples``."""
    out: dict = {"n": len(values)}
    if len(values) <= keep:
        out["samples"] = [round(v, 4) for v in values]
    for q in qs:
        ok = values and (q == 50 or len(values) >= min_samples(q))
        out[f"p{q:g}"] = percentile(values, q) if ok else None
    return out

