"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
LEVELS = (50, 75, 90, 95, 99)


def tail_level(n: int) -> int:
    """The highest of ``LEVELS`` that leaves at least ``MIN_BEYOND`` of ``n``
    samples above it; raise when even the median has too few."""
    ok = [p for p in LEVELS if n * (100 - p) / 100 >= MIN_BEYOND]
    if not ok:
        raise ValueError(f"{n} samples: a percentile needs at least {MIN_BEYOND} samples beyond it")
    return ok[-1]


def percentile(values: list[float], p: int) -> float:
    """The ``p``-th percentile, linearly interpolated between the two nearest
    ranks; refused when fewer than ``MIN_BEYOND`` samples lie beyond it."""
    n = len(values)
    if n * (100 - p) / 100 < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples leaves fewer than {MIN_BEYOND} beyond it")
    ordered = sorted(values)
    h = (n - 1) * p / 100
    lo = math.floor(h)
    return ordered[lo] + (h - lo) * (ordered[min(lo + 1, n - 1)] - ordered[lo])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
