import statistics

import pytest

from stats import levelled_off, median, quartile_spread


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_quartile_spread_matches_statistics_quantiles():
    values = [1.0, 2.0, 2.5, 3.0, 3.5, 4.0, 4.2, 5.0, 6.0, 9.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))


def test_quartile_spread_of_constant_series_is_zero():
    assert quartile_spread([2.0] * 10) == 0.0


def test_not_levelled_while_passes_keep_getting_faster():
    # the warm-up slope: every pass beats the best before it by > 3 %
    assert not levelled_off([49.5, 38.7, 36.5, 33.0])


def test_levelled_once_last_passes_stop_improving():
    assert levelled_off([10.0, 8.0, 7.0, 7.1, 6.95])


def test_levelled_tolerates_small_gains():
    # 2 % faster than the best earlier pass is within the 3 % tolerance
    assert levelled_off([5.0, 5.0, 4.9])
    assert not levelled_off([5.0, 5.0, 4.8])


def test_levelled_needs_more_than_the_window():
    assert not levelled_off([])
    assert not levelled_off([1.0, 1.0])
    assert levelled_off([1.0, 1.0, 1.0])

