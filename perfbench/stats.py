"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``beyond`` samples above
    it, as ``(percentile, value, n)``; ``None`` when there are too few
    samples for any percentile to qualify.

    With ``n`` sorted samples the value at rank ``r`` (1-based) has
    ``n - r`` samples beyond it, so the highest qualifying rank is
    ``n - beyond`` and its percentile is ``100 * r / n``.
    """
    xs = sorted(values)
    n = len(xs)
    rank = n - beyond
    if rank < 1:
        return None
    return (math.floor(1000 * rank / n) / 10, float(xs[rank - 1]), n)
