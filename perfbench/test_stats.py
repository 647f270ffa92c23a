"""Self-tests for the benchmark's statistics.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import covered, error_rate, self_time, tail  # noqa: E402


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert n == 100
    assert value == 90
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_is_order_insensitive_and_counts_ties_below():
    xs = [5.0] * 20 + [1.0] * 5
    value, pct, n = tail(list(reversed(xs)))
    assert (value, n) == (5.0, 25)
    assert pct == pytest.approx(100 * 15 / 25)


def test_tail_from_twenty_one_samples_is_above_the_median():
    value, pct, n = tail([float(i) for i in range(21)])
    assert (value, n) == (10.0, 21)
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_without_enough_samples_reports_the_median_as_p50():
    assert tail([3.0, 1.0, 2.0, 9.0]) == (2.5, 50.0, 4)
    assert tail([float(i) for i in range(20)]) == (9.5, 50.0, 20)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_union_of_children():
    # parent 0..10; children overlap (2..5, 4..6) and one sticks out (9..12)
    assert self_time(0, 10, [(2, 5), (4, 6), (9, 12)]) == pytest.approx(5.0)


def test_self_time_ignores_children_outside_parent():
    assert self_time(0, 4, [(5, 8), (-3, -1)]) == pytest.approx(4.0)


def test_self_time_of_fully_covered_span_is_zero():
    assert self_time(1, 3, [(0, 2), (2, 5)]) == pytest.approx(0.0)


def test_covered_merges_touching_and_nested_intervals():
    assert covered([(0, 1), (1, 2), (0.5, 0.7), (3, 4)]) == pytest.approx(3.0)
    assert covered([]) == 0.0


def test_error_rate_denominator_is_all_attempts():
    # 40 attempts: 37 ok, 2 raised, 1 failed its output check
    assert error_rate(attempted=40, failed=3) == pytest.approx(3 / 40)
    assert error_rate(attempted=5, failed=0) == 0.0


def test_error_rate_rejects_impossible_counts():
    with pytest.raises(ValueError):
        error_rate(attempted=0, failed=0)
    with pytest.raises(ValueError):
        error_rate(attempted=2, failed=3)
