import pytest

import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]  # 1..20
    pct, value = stats.tail(xs)
    assert value == 10.0
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(50.0)


def test_tail_is_order_independent_and_moves_with_n():
    xs = [float(i) for i in range(100, 0, -1)]  # 100..1, unsorted input
    pct, value = stats.tail(xs)
    assert (pct, value) == (90.0, 90.0)
    pct11, value11 = stats.tail(xs[:11])  # 100..90
    assert value11 == 90.0 and pct11 == pytest.approx(100 / 11)


def test_summary_reports_sample_count():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "tail_pct": None, "tail": None, "samples": 3}
