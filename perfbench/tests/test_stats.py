from perfbench import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([float(i) for i in range(10)]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order must not matter
    pct, value = stats.tail(list(reversed(xs)))
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    pct, value = stats.tail([5.0, 3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert abs(pct - 100.0 / 11) < 1e-12


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert abs(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) - (4.5 - 1.5) / 3.0) < 1e-12


def test_geomean():
    assert abs(stats.geomean([1.0, 100.0]) - 10.0) < 1e-12
