"""Summary statistics used by the metrics."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples strictly
    above it, as (percentile, value); None when there are too few
    samples. With n sorted samples the value is the (n - beyond)-th
    smallest, i.e. percentile 100·(n - beyond)/n."""
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank of the reported sample
    return 100.0 * rank / n, sorted(xs)[rank - 1]


def spread(values: list[float]) -> float | None:
    """Interquartile range as a share of the median (None when the
    median is 0)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else None
