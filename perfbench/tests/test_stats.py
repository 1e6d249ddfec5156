"""Percentiles, sample counts, spreads and span arithmetic."""

import statistics

import pytest

from perfbench.stats import (
    interval_union,
    median_or,
    percentile,
    quartile_spread,
    self_time,
    summarize,
)


def test_percentile_small_samples():
    assert percentile([3.0], 99) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([4.0, 1.0, 3.0, 2.0], 100) == 4.0
    assert percentile([30.0, 0.0, 20.0, 10.0], 90) == pytest.approx(27.0)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_summary_keeps_sample_count():
    s = summarize([5.0, 1.0, 3.0], 50)
    assert (s.value, s.n) == (3.0, 3)
    assert median_or([]) == 0.0
    assert median_or([2.0, 4.0]) == 3.0


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 10.4, 9.6]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)
    assert quartile_spread([7.0] * 10) == 0.0
    with pytest.raises(ValueError):
        quartile_spread([1.0])


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0
    assert interval_union([(0, 10), (5, 15), (20, 25)]) == 20
    assert interval_union([(0, 10), (2, 3), (10, 12)]) == 12


def test_self_time_subtracts_covered_part_once():
    # two parallel children overlapping each other inside the parent
    assert self_time((0, 100), [(10, 40), (20, 50)]) == 60
    # children sticking out of the parent are clipped
    assert self_time((0, 100), [(-10, 10), (90, 130)]) == 80
    assert self_time((0, 100), [(200, 300)]) == 100
