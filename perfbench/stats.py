"""Pure summary helpers for the benchmark: no Spark, no I/O."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def highest_supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``min_beyond`` of
    ``n`` samples above it, or None when n is too small for any."""
    if n <= min_beyond:
        return None
    p = math.floor(100.0 * (n - min_beyond) / n)
    return p if p >= 1 else None


def self_time(parent: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children cover
    (children clipped to the parent; overlapping children counted once)."""
    start, end = parent
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def failed_frac(failed: int, attempted: int) -> float:
    """Failed or mismatching operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
