"""Summary arithmetic for the benchmark's samples."""

from __future__ import annotations


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``(value, percentile, n)``, or None when there are too few
    samples (``n <= beyond``) for any such percentile.

    With the samples sorted ascending, the value at 0-based rank
    ``n - beyond - 1`` has exactly ``beyond`` samples above it; its
    percentile is the share of samples at or below it.
    """
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    return sorted(values)[rank], 100.0 * (rank + 1) / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children are clipped to the parent's interval and overlapping
    children count once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    covered = union_length([(s, e) for s, e in clipped if e > s])
    return (end - start) - covered
