"""Arithmetic the benchmark reports with: percentiles, interval unions for
driver gaps and span self-time, and failure counting. Pure Python, so the
self-tests in ``test_stats.py`` run without Spark."""

from __future__ import annotations

import math
from typing import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0 < q <= 100) by the nearest-rank rule: the
    smallest sample with at least q% of the samples at or below it. Always
    a measured value, never an interpolation between two."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q / 100 * len(ordered))) - 1]


def median(values: Sequence[float]) -> float:
    """The middle sample, or the mean of the two middle samples."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def tail(values: Sequence[float], beyond: int = 10) -> dict:
    """The highest percentile that leaves at least ``beyond`` samples above
    it, with its value and the sample count; rank and value are None when
    there are too few samples."""
    n = len(values)
    if n <= beyond:
        return {"rank": None, "value": None, "samples": n}
    rank = 100.0 * (n - beyond) / n
    return {"rank": rank, "value": percentile(values, rank), "samples": n}


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge intervals into disjoint, sorted ones; empty ones are dropped."""
    out: list[tuple[float, float]] = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if out and start <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], end))
        else:
            out.append((start, end))
    return out


def uncovered(
    interval: tuple[float, float], others: Iterable[tuple[float, float]]
) -> float:
    """Length of ``interval`` that no interval of ``others`` covers; others
    that overlap each other count once. Gives an operation's driver gap
    (its wall time minus the union of its Spark jobs) and a span's self
    time (its duration minus what its child spans cover)."""
    lo, hi = interval
    return (hi - lo) - sum(
        max(0.0, min(end, hi) - max(start, lo)) for start, end in union(others)
    )


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations as a share of attempted ones; an operation whose
    output is wrong counts as failed."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed out of {attempted} attempted")
    return failed / attempted


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)`` gives."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
