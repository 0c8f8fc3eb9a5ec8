"""Summaries of timing samples: median, the reported tail and run spread."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is only reported with at least this many samples
#: strictly above it, so one slow outlier cannot be the tail.
TAIL_MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    """The median, or NaN without samples (a run that failed early)."""
    return statistics.median(samples) if samples else math.nan


def gmean(samples: list[float]) -> float:
    """Geometric mean: every operation of a mixed workload weighs the
    same in relative terms, and no rank gap between operation kinds can
    make it jump as a median of a mix does. NaN without samples."""
    return statistics.geometric_mean(samples) if samples else math.nan


def tail(samples: list[float]) -> tuple[int, float] | None:
    """``(p, value)`` for the highest whole percentile ``p`` (nearest-rank)
    that has at least ``TAIL_MIN_BEYOND`` samples strictly above it, or
    ``None`` when there are too few samples for any."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return None
    for p in range(99, 0, -1):
        value = xs[max(math.ceil(p * n / 100), 1) - 1]
        if sum(1 for x in xs if x > value) >= TAIL_MIN_BEYOND:
            return p, value
    return None


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
