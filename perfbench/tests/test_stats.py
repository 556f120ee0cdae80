"""Tests of the benchmark's own arithmetic (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from counters import parse_sql_metric  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    for n_min in (11, 20, 24, 25, 30, 100):
        pct = stats.tail_percentile(n_min)
        for n in (n_min, n_min + 1, n_min + 7, 3 * n_min):
            _, beyond = stats.nearest_rank([float(i) for i in range(n)], pct)
            assert beyond >= 10, (n_min, n)
        # one step higher would leave fewer than ten beyond it at n_min
        higher = 100.0 * (n_min - 9) / n_min
        _, beyond = stats.nearest_rank([float(i) for i in range(n_min)], higher)
        assert beyond < 10


def test_tail_percentile_values():
    assert stats.tail_percentile(25) == pytest.approx(60.0)
    assert stats.tail_percentile(100) == pytest.approx(90.0)
    with pytest.raises(ValueError):
        stats.tail_percentile(10)


def test_nearest_rank_picks_the_sample_at_the_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(values, 60.0) == (3.0, 2)
    assert stats.nearest_rank(values, 100.0) == (5.0, 0)
    assert stats.nearest_rank(values, 1.0) == (1.0, 4)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert stats.geomean([0.3]) == pytest.approx(0.3)
    # every query weighs the same: scaling one query by k scales the mean by k^(1/n)
    base = [0.5, 1.0, 2.0, 4.0]
    scaled = [0.5, 1.0, 2.0, 8.0]
    assert stats.geomean(scaled) / stats.geomean(base) == pytest.approx(2 ** 0.25)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_seed_sets_the_order_deterministically():
    names = [f"q{i}" for i in range(8)]

    def first(seed, n):
        return list(itertools.islice(stats.pass_orders(names, seed), n))

    a = first(7, 5)
    assert a == first(7, 5)
    assert a != first(8, 5)
    # every pass is a permutation of the workload, and passes differ
    assert all(sorted(order) == sorted(names) for order in a)
    assert len({tuple(order) for order in a}) > 1
    # a longer run replays the same prefix
    assert first(7, 9)[:5] == a


def test_gap_is_action_time_no_stage_covers():
    # action [0, 10]; stages [1, 3] and [2, 5] overlap, [7, 8] apart
    assert stats.uncovered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5.0)
    # stages reaching outside the action are clipped to it
    assert stats.uncovered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(7.0)
    # nested and identical intervals count once
    assert stats.uncovered(0, 10, [(2, 8), (3, 4), (2, 8)]) == pytest.approx(4.0)
    # touching intervals merge without double counting
    assert stats.uncovered(0, 10, [(0, 5), (5, 10)]) == pytest.approx(0.0)
    assert stats.uncovered(0, 10, []) == pytest.approx(10.0)
    assert stats.uncovered(0, 10, [(11, 12)]) == pytest.approx(10.0)


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "query", "start": 1.0, "end": 9.0},
        {"id": 2, "parent": 1, "name": "build", "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "name": "exec", "start": 3.5, "end": 9.0},
    ]
    self_s = stats.self_times(spans)
    assert self_s == pytest.approx({"pass": 2.0, "query": 0.5, "build": 2.0, "exec": 5.5})


@pytest.mark.parametrize(
    "text,value",
    [
        ("2.9 s", 2.9),
        ("14 ms", 0.014),
        ("66.1 KiB", 66.1 * 1024),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n1.5 s (10 ms, 0.2 s, 1.0 s (stage 3.0: task 12))", 1.5),
        ("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 4))", 3 * 1024**2),
    ],
)
def test_parse_sql_metric(text, value):
    assert math.isclose(parse_sql_metric(text), value, rel_tol=1e-12)
