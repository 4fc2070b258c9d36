"""Order statistics that carry their sample count."""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    """``value`` is the ``q``-th percentile of ``n`` samples, by linear
    interpolation between closest ranks (numpy's default method);
    ``beyond`` samples lie strictly above it."""

    q: float
    value: float
    n: int
    beyond: int


def percentile(samples, q: float) -> Percentile:
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return Percentile(q, value, len(xs), len(xs) - bisect.bisect_right(xs, value))


def median(samples) -> float:
    return percentile(samples, 50).value
