"""scripts/perfbench_ab.py's verdicts on synthetic run lists (no Spark):
a change worse than the parent by more than the parent's IQR reads as
worse, not as noise, and a gain is claimable only with 9 wins in 10
and a gap beyond that IQR."""

from __future__ import annotations

import importlib

ab = importlib.import_module("scripts.perfbench_ab")

LATENCY = {"name": "latency_s_p50", "better": "lower", "bound": 0.25}
THROUGHPUT = {"name": "snapshots_per_min", "better": "higher", "bound": 0.25}
PARENT = [10.0, 10.1, 10.2, 10.3, 10.4, 10.5, 10.6, 10.7, 10.8, 10.9]


def test_a_regression_past_the_parent_iqr_reads_worse():
    s = ab.summarize(LATENCY, PARENT, [v + 2.0 for v in PARENT])
    assert s["wins"] == 0
    assert s["gap_vs_parent_iqr"] == "worse"
    assert not s["claim_holds"]


def test_a_gain_past_the_iqr_with_every_win_is_claimable():
    s = ab.summarize(LATENCY, PARENT, [v - 2.0 for v in PARENT])
    assert s["wins"] == 10
    assert s["gap_vs_parent_iqr"] == "better"
    assert s["claim_holds"]


def test_a_gain_with_eight_wins_in_ten_is_not_claimable():
    change = [v - 2.0 for v in PARENT]
    change[0] = change[1] = 20.0
    s = ab.summarize(LATENCY, PARENT, change)
    assert s["wins"] == 8
    assert s["gap_vs_parent_iqr"] == "better"
    assert not s["claim_holds"]


def test_a_small_shift_reads_within_either_way():
    for delta in (0.1, -0.1):
        s = ab.summarize(LATENCY, PARENT, [v + delta for v in PARENT])
        assert s["gap_vs_parent_iqr"] == "within"
        assert not s["claim_holds"]


def test_higher_is_better_metrics_take_the_gap_the_other_way():
    worse = ab.summarize(THROUGHPUT, PARENT, [v - 2.0 for v in PARENT])
    assert worse["gap_vs_parent_iqr"] == "worse"
    better = ab.summarize(THROUGHPUT, PARENT, [v + 2.0 for v in PARENT])
    assert better["gap_vs_parent_iqr"] == "better"
    assert better["claim_holds"]
