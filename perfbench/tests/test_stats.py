"""The reporting rule: a percentile is reported only with at least ten
samples beyond it; a mix of kinds is summarised by its typical latency."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_p90_needs_a_hundred_samples():
    assert stats.beyond(100, 90) == 10
    assert stats.reportable(100, 90)
    assert stats.beyond(99, 90) == 9
    assert not stats.reportable(99, 90)


def test_median_needs_twenty_samples():
    assert stats.reportable(20, 50)
    assert not stats.reportable(19, 50)


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([3.0, 1.0, 2.0], 100) == 3.0
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_typical_is_geometric_mean_of_kind_medians():
    assert stats.typical({"a": [1.0, 2.0, 9.0], "b": [8.0, 8.0]}) == pytest.approx(4.0)
    # one kind: its median
    assert stats.typical({"a": [3.0, 1.0, 2.0]}) == pytest.approx(2.0)
    # a kind crossing its neighbour does not step the result
    base = {"a": [1.0], "b": [2.0], "c": [2.1], "d": [4.0]}
    moved = {**base, "b": [2.2]}
    assert stats.typical(moved) / stats.typical(base) == pytest.approx((2.2 / 2.0) ** 0.25)


def test_no_samples_raise():
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.typical({})
