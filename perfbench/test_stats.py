"""Self-tests for the benchmark's metric math: python3 -m pytest perfbench -q"""

import pytest

import stats


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = stats.tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_ignores_input_order():
    xs = [float(i) for i in range(1, 31)]
    assert stats.tail(list(reversed(xs))) == stats.tail(xs) == (20.0, pytest.approx(200 / 3))


def test_tail_above_median_needs_twenty_one_samples():
    # n = 21: the 11th smallest has 10 beyond it and sits above the median
    value, pct = stats.tail([float(i) for i in range(21)])
    assert value == 10.0 and pct == pytest.approx(100 * 11 / 21)
    # n <= 20: no percentile above the median has ten samples beyond it,
    # so the slowest sample is reported
    assert stats.tail([float(i) for i in range(20)]) == (19.0, 100.0)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_union_of_children():
    # children overlap each other ([1,3] and [2,5] cover 4 s) and one runs
    # past the parent's end (only [8,10] of [8,12] counts)
    assert stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == 4.0
    assert stats.self_time((0, 10), []) == 10.0
    assert stats.self_time((0, 10), [(11, 12), (-5, -1)]) == 10.0
    assert stats.self_time((0, 10), [(0, 10), (3, 4)]) == 0.0


def test_error_rate_counts_failures_and_mismatches_against_attempts():
    assert stats.error_rate(10, 0, 0) == 0.0
    assert stats.error_rate(10, 1, 2) == pytest.approx(0.3)
    assert stats.error_rate(4, 4, 0) == 1.0
    with pytest.raises(ValueError):
        stats.error_rate(0, 0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 2, 2)
