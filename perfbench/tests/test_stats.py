import statistics

import pytest

import stats


def test_median_and_nearest_rank_percentile():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    vals = list(range(1, 101))
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 99) == 99
    assert stats.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert stats.tail_percentile(9) is None
    assert stats.tail_percentile(99) is None
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_summary_reports_count_and_supported_tail():
    assert stats.summary([1.0, 2.0, 3.0]) == {"n": 3, "median": 2.0}
    s = stats.summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p90"] == 90.0


def test_spread_is_iqr_over_median():
    vals = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.0, 10.2, 9.8, 11.5]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
