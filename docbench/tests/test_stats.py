"""The benchmark's arithmetic (pure)."""

from __future__ import annotations

import pytest

from docbench import stats


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5


def test_self_time_subtracts_union_of_children():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (5, 6)]) == 7
    assert stats.self_time(0, 10, [(1, 4), (2, 5)]) == 6  # overlap counted once
    assert stats.self_time(0, 10, [(8, 12), (-2, 1)]) == 7  # clipped to the span
    assert stats.self_time(0, 10, [(11, 12)]) == 10


def test_uncovered_share():
    assert stats.uncovered_share(0, 10, [(0, 10)]) == 0
    assert stats.uncovered_share(0, 10, [(0, 4), (5, 10)]) == pytest.approx(0.1)
    assert stats.uncovered_share(0, 10, [(1, 4), (2, 5)]) == pytest.approx(0.6)
    assert stats.uncovered_share(0, 10, []) == 1
    with pytest.raises(ValueError):
        stats.uncovered_share(3, 3, [])
