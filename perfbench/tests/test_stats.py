"""The percentile rule and the spread the benchmark is held to."""

import statistics

import pytest

from perfbench.stats import highest_percentile, percentile, quartile_spread


def test_highest_percentile_keeps_ten_samples_beyond():
    assert highest_percentile(56) == 82           # ceil(.82*56)=46, 10 beyond
    assert highest_percentile(50) == 80
    assert highest_percentile(20) == 50
    assert highest_percentile(19) is None
    for n in range(20, 200):
        p = highest_percentile(n)
        rank = -(-p * n // 100)
        assert n - rank >= 10
        assert n - (-(-(p + 1) * n // 100)) < 10 or p == 99


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 80) == 80
    assert percentile([3.0], 50) == 3.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.3]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)
