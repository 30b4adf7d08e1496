"""Percentiles reported the way the benchmark states them: a median, and
the highest percentile that still has at least ten samples beyond it."""

from __future__ import annotations

import math
import statistics

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise TooFewSamples("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(round(p / 100.0 * len(ordered), 9)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(p, value) for the highest percentile of LADDER that has at least
    ``min_beyond`` samples beyond it; refuses a sample too small for p50."""
    n = len(values)
    best = None
    for p in LADDER:
        if beyond(n, p) >= min_beyond:
            best = p
    if best is None:
        need = 2 * min_beyond
        raise TooFewSamples(f"{n} samples; a median with {min_beyond} beyond it needs {need}")
    return best, percentile(values, best)


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("no samples")
    return statistics.median(values)
