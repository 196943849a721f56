"""Tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import Ops, arrival_latencies, mbps, median, per_second, percentile, recall_at_k, tail  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(20))) is None  # index 9 is not above the median
    assert tail(list(range(10))) is None
    pct, value = tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)  # exactly ten samples (91..100) beyond
    pct, value = tail([float(i) for i in range(1, 1001)])
    assert (pct, value) == (99.0, 990.0)


def test_tail_never_reaches_into_the_last_ten():
    for n in range(21, 400):
        values = [float(i) for i in range(n)]
        pct, value = tail(values)
        beyond = sum(1 for v in values if v > value)
        assert beyond >= 10, (n, pct, value)
        assert 50 < pct < 100


def test_percentile_refuses_unsupported_ranks():
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 90) == 90.0
    assert percentile(values, 91) is None  # only nine samples beyond
    assert percentile(values, 50) == 50.0
    assert percentile(list(range(15)), 50) is None


def test_tail_is_order_independent():
    values = [5.0, 1.0, 9.0, 3.0] * 30
    assert tail(values) == tail(sorted(values))


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        median([])
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_rates():
    assert mbps(24_000_000, 2.0) == 12.0
    assert per_second(8, 2.0) == 4.0
    with pytest.raises(ValueError):
        mbps(1, 0.0)
    with pytest.raises(ValueError):
        per_second(1, -1.0)


def test_recall_at_k():
    exact = {1: [10, 11, 12], 2: [20, 21]}
    assert recall_at_k({1: [12, 11, 10], 2: [21, 20]}, exact, k=3) == 1.0
    assert recall_at_k({1: [10, 99, 98], 2: [20, 21]}, exact, k=3) == pytest.approx((1 / 3 + 1) / 2)
    assert recall_at_k({1: [10, 11, 12]}, exact, k=3) == 0.5  # query 2 never answered
    # only the first k of each list count
    assert recall_at_k({1: [99, 10]}, {1: [10, 11]}, k=1) == 0.0
    with pytest.raises(ValueError):
        recall_at_k({3: [1]}, exact, k=3)


def test_arrival_latencies_maps_each_arrival_to_its_commit():
    scheduled = {0: 10.0, 1: 10.5, 2: 11.0, 3: 11.5}
    batches = [(0, 12.0, [0, 1, 1]), (1, 14.0, [2])]
    lat, missing, repeated = arrival_latencies(scheduled, batches)
    assert lat == {0: 2.0, 1: 1.5, 2: 3.0}
    assert missing == [3]
    assert repeated == []


def test_arrival_latencies_flags_repeats_and_keeps_first_commit():
    lat, missing, repeated = arrival_latencies({0: 1.0}, [(5, 4.0, [0]), (3, 2.0, [0])])
    assert lat == {0: 1.0}
    assert missing == [] and repeated == [0]


def test_arrival_latencies_rejects_unknown_arrivals():
    with pytest.raises(ValueError):
        arrival_latencies({0: 1.0}, [(0, 2.0, [7])])


def test_ops_counts_exceptions_and_failed_checks_without_raising():
    ops = Ops()
    assert ops.run("ok", lambda: 3, check=lambda x: x == 3) == (True, 3)
    ok, res = ops.run("boom", lambda: 1 / 0)
    assert not ok and res is None
    ok, res = ops.run("wrong", lambda: 4, check=lambda x: x == 3)
    assert not ok and res == 4
    ok, _ = ops.run("check raises", lambda: 4, check=lambda x: x["k"])
    assert not ok
    assert ops.verify("good", lambda: None)
    assert not ops.verify("bad", lambda: "mismatch")
    assert not ops.verify("raises", lambda: [][1])
    ops.fail("lost", "never committed")
    ops.record("arrivals", 100, 0)
    ops.record("late", 10, 2, "2 never committed")
    assert (ops.attempted, ops.failed) == (118, 8)
    assert [e.split(":")[0] for e in ops.errors] == ["boom", "wrong", "check raises", "bad", "raises", "lost", "late"]
