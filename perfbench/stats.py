"""Small numeric helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile of `n` samples that leaves at least
    `TAIL_BEYOND` samples above its nearest rank, or None when even the
    lowest percentile cannot. A tail figure with fewer samples beyond
    it is one or two outliers, not a percentile."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= TAIL_BEYOND:
            return p
    return None
