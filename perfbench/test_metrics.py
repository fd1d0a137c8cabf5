"""Tests of the benchmark's metric math: python3 -m pytest perfbench -q"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from metrics import (  # noqa: E402
    driver_idle,
    hit_ratio,
    pass_order,
    steady_passes,
    tail,
    typical_pass_total,
    union_length,
)

QUERIES = [f"q{i}" for i in range(12)]


def test_tail_has_ten_samples_beyond_it():
    samples = list(range(100))  # 0..99, shuffled order must not matter
    value, pct, n = tail(samples[::-1])
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_at_smallest_sample_that_supports_it():
    value, pct, n = tail([float(i) for i in range(11)])
    assert value == 0.0
    assert n == 11
    assert pct == pytest.approx(100 / 11)


def test_tail_of_short_sample_is_its_max_at_p100():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(5, 6), (0, 10)]) == 10
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([]) == 0
    assert union_length([(3, 3), (4, 2)]) == 0


def test_driver_idle_is_wall_minus_job_union_clipped_to_window():
    # window 10 s; jobs cover 1-3 and 2-4 (union 3 s) and one job that
    # started before the window and ends inside it (clipped to 0-0.5)
    jobs = [(1, 3), (2, 4), (-2, 0.5), (12, 13)]
    assert driver_idle((0, 10), jobs) == pytest.approx(10 - 3 - 0.5)
    assert driver_idle((0, 10), []) == 10


def test_pool_hit_ratio():
    assert hit_ratio(3, 4) == 0.75
    assert hit_ratio(0, 0) == 0.0


def test_pass_order_is_seeded_permutation():
    a = pass_order(QUERIES, seed=7, pass_no=1)
    assert sorted(a) == sorted(QUERIES)
    assert a == pass_order(QUERIES, seed=7, pass_no=1)
    assert a != pass_order(QUERIES, seed=8, pass_no=1)
    assert a != pass_order(QUERIES, seed=7, pass_no=2)


def test_steady_passes_skip_the_first_two_warm_passes():
    assert steady_passes([1, 2, 3, 4, 5, 6]) == [3, 4, 5, 6]
    assert steady_passes([1, 2]) == []


def test_typical_pass_total_sums_per_query_medians():
    # one slow outlier per query moves the total by nothing
    lat = {"a": [1.0, 1.2, 9.0], "b": [0.5, 7.0, 0.4]}
    assert typical_pass_total(lat) == pytest.approx(1.2 + 0.5)
