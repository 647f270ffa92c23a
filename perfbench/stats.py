"""Statistics the benchmark reports. Pure functions, no Spark."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(samples: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least ``min_beyond`` samples
    above it: ``(value, percentile, sample_count)``.

    Sorted ascending, the sample at index ``n - 1 - min_beyond`` has
    exactly ``min_beyond`` samples after it; its percentile is the share
    of samples at or below it. That percentile is above the median only
    from ``2 * min_beyond + 1`` samples on. With fewer samples no tail
    can be told from the median, and the median is returned as
    percentile 50: the maximum of a few samples would measure the
    largest disturbance from outside rather than the program.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 2 * min_beyond:
        return median(xs), 50.0, n
    i = n - 1 - min_beyond
    return xs[i], 100.0 * (i + 1) / n, n


def error_rate(attempted: int, failed: int) -> float:
    """Failed over attempted operations. Every attempt counts once in
    the denominator, whether it raised, failed its output check or
    succeeded; an operation with a failed check is one failure."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (children are clipped to the parent's interval)."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - covered(clipped)
