"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import re

#: Every metric name the benchmark prints matches this pattern.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that leaves at least TAIL_BEYOND samples above it.

    Returns ``(value, percentile, n)``: the sample at sorted rank
    ``n - TAIL_BEYOND - 1`` (so exactly TAIL_BEYOND samples lie beyond it),
    the percentile that rank stands for, and the sample count. With
    TAIL_BEYOND samples or fewer no such percentile exists and this raises.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"need more than {TAIL_BEYOND} samples for a tail, got {n}")
    rank = n - TAIL_BEYOND - 1
    return sorted(samples)[rank], 100.0 * (rank + 1) / n, n


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
