import math

import pytest

import percentiles


def test_tail_needs_ten_samples_beyond():
    assert percentiles.tail([]) is None
    assert percentiles.tail([1.0] * 5) is None
    assert percentiles.tail([float(i) for i in range(10)]) is None


@pytest.mark.parametrize("n, p", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    xs = [float(i) for i in range(n)]
    got_p, value = percentiles.tail(xs)
    assert got_p == p
    assert sum(x > value for x in xs) >= percentiles.TAIL_MIN_BEYOND
    # one percentile higher would leave fewer than ten samples beyond
    higher = xs[math.ceil((p + 1) * n / 100) - 1]
    assert p == 99 or sum(x > higher for x in xs) < percentiles.TAIL_MIN_BEYOND


def test_tail_counts_ties_as_not_beyond():
    # 30 equal values then 9 larger: no percentile has ten strictly above
    assert percentiles.tail([1.0] * 30 + [2.0] * 9) is None
    assert percentiles.tail([1.0] * 30 + [2.0] * 10) == (75, 1.0)


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = __import__("statistics").quantiles(vals, n=4)
    assert percentiles.spread(vals) == pytest.approx((q3 - q1) / percentiles.median(vals))


def test_gmean():
    assert percentiles.gmean([1.0, 4.0]) == pytest.approx(2.0)


def test_no_samples_give_nan():
    assert math.isnan(percentiles.median([]))
    assert math.isnan(percentiles.gmean([]))
