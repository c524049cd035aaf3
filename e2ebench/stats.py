"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import re

#: a tail percentile is reported only when at least this many samples
#: lie beyond it
MIN_TAIL = 10

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least ``MIN_TAIL`` samples lie
    strictly above it — a p90 of 12 samples is one sample, not a tail."""
    if not values:
        return None
    v = quantile(values, q)
    beyond = sum(1 for x in values if x > v)
    return v if beyond >= MIN_TAIL else None
