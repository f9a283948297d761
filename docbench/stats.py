"""The benchmark's arithmetic: medians, span self time and
reconciliation. Pure functions, pinned by tests/test_stats.py."""

from __future__ import annotations

from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    """The middle sample, or the mean of the two middle samples."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    ]
    return (end - start) - union_length(clipped)


def uncovered_share(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """The share of a span that none of its child spans covers: for an
    operation's root span, the part of the measured wall time no layer
    accounts for."""
    if end <= start:
        raise ValueError(f"span [{start}, {end}] has no duration")
    return self_time(start, end, children) / (end - start)
