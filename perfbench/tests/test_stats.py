import pytest

from perfbench.stats import spread, tail


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 26))  # 25 samples
    value, pct, n = tail(xs)
    assert n == 25
    assert value == 15
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(60.0)


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct, n = tail(range(20, 0, -1))
    assert (value, pct, n) == (10, 50.0, 20)


def test_tail_below_twenty_samples_is_the_maximum():
    for xs in ([3.0], [5, 1, 4], list(range(19))):
        value, pct, n = tail(xs)
        assert (value, pct, n) == (max(xs), 100.0, len(xs))


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


def test_spread_is_quartile_distance_over_median():
    assert spread([10.0] * 10) == 0.0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)
