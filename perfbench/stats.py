"""Summary statistics for the benchmark's timings.

A timing is reported as its median, its sample count, and the highest
percentile that still has at least ten samples beyond it (none when a run
has too few samples for one).
"""

from __future__ import annotations

import statistics

#: samples that must lie beyond a reported tail percentile
TAIL_SAMPLES = 10


def tail_rank(n: int) -> int | None:
    """1-based rank of the highest order statistic with at least
    ``TAIL_SAMPLES`` samples above it, or None when ``n`` is too small."""
    k = n - TAIL_SAMPLES
    return k if k >= 1 else None


def summarize(samples: list[float]) -> dict:
    """``{"n", "median", "tail_pct", "tail"}`` for one timing series.

    ``tail_pct`` is the percentile of the order statistic at
    :func:`tail_rank` (floored to a whole percent) and ``tail`` its value;
    both are None below ``TAIL_SAMPLES + 1`` samples."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    n = len(ordered)
    k = tail_rank(n)
    return {
        "n": n,
        "median": statistics.median(ordered),
        "tail_pct": None if k is None else (100 * k) // n,
        "tail": None if k is None else ordered[k - 1],
    }


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        raise ValueError("median is 0")
    return (q3 - q1) / abs(med)
