"""bench.py's contract: any registry name can be timed through
SPARK_GRAFT_BENCH_QUERIES, an unknown one ends the run before a
session starts, and each timed query records its Spark job count."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMALL

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_name_exits_before_session(monkeypatch):
    import bench

    def no_session(*a, **kw):
        raise AssertionError("a session started")

    monkeypatch.setattr(bench, "get_spark", no_session)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES",
                       "q06_forecast_revenue,no_such_query")
    with pytest.raises(SystemExit, match="no_such_query"):
        bench.main()


def test_subset_times_a_non_headline_query_and_counts_jobs(tmp_path):
    """c145 is not in HEADLINE; a subset run times it and records the
    jobs of its last timed run.  Runs in its own process so the shared
    test session keeps its settings."""
    import bench

    name = "c145_char5_minhash_neardup"
    assert name not in bench.HEADLINE
    out = tmp_path / "bench.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMALL,
               SPARK_GRAFT_BENCH_QUERIES=name,
               SPARK_GRAFT_BENCH_OUT=str(out),
               SPARK_DRIVER_MEMORY="2g")
    subprocess.run([sys.executable, "bench.py"], cwd=_ROOT, env=env,
                   check=True, timeout=600, stdout=subprocess.DEVNULL)
    got = json.loads(out.read_text())
    assert got["subset_names"] == [name]
    assert got["queries"][name] > 0
    assert got["jobs"][name] >= 1
    # the r01 comparator only means something over the full HEADLINE
    assert "baseline_r01_subset_seconds" not in got
    assert "baseline_r01_subset_n" not in got
