"""Round-10 unit/regression tests: pin the edge-case semantics of the
nearest as-of join (b151), the interval-union merge (b152), and the
purity tiebreak (c131) on hand-built micro-tables — the cases a
uniform synthetic corpus may never exercise."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY


def _events(spark, tmp_path, rows):
    """Write a minimal events.parquet from (event_id, iso_ts, user_id,
    event_type, value) tuples and return the sf directory."""
    df = spark.createDataFrame(
        [(e, t, u, et, v, "{}") for e, t, u, et, v in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props")
    df.write.parquet(os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def test_b151_nearest_asof_tie_and_tolerance(spark, tmp_path):
    """Equal |dt| prefers backward; beyond-tolerance candidates are
    NULL-matched (left semantics); an equal-timestamp purchase is a
    backward dt=0 match."""
    sf = _events(spark, tmp_path, [
        # user 1: purchase 60s before AND 60s after the error -> tie,
        # backward (id 10) must win over forward (id 11).
        (10, "2024-01-01 10:00:00", 1, "purchase", 1.0),
        (50, "2024-01-01 10:01:00", 1, "error", 1.0),
        (11, "2024-01-01 10:02:00", 1, "purchase", 1.0),
        # user 2: nearest purchase is 11 min away -> outside the
        # 10-min tolerance, error stays unmatched.
        (12, "2024-01-01 10:00:00", 2, "purchase", 1.0),
        (51, "2024-01-01 10:11:00", 2, "error", 1.0),
        # user 3: purchase at the exact error timestamp -> backward,
        # dt = 0 (ordering puts same-ts purchases before the error).
        (13, "2024-01-01 12:00:00", 3, "purchase", 1.0),
        (52, "2024-01-01 12:00:00", 3, "error", 1.0),
        # user 4: only a forward purchase inside tolerance.
        (53, "2024-01-01 14:00:00", 4, "error", 1.0),
        (14, "2024-01-01 14:05:00", 4, "purchase", 1.0),
    ])
    out = {r["event_id"]: r for r in
           REGISTRY["b151_asof_tolerance_nearest"].fn(spark, sf).collect()}
    assert out[50]["matched_id"] == 10
    assert out[50]["dt_us"] == -60_000_000
    assert out[50]["direction"] == "backward"
    assert out[51]["matched_id"] is None
    assert out[51]["direction"] is None
    assert out[52]["matched_id"] == 13
    assert out[52]["dt_us"] == 0
    assert out[52]["direction"] == "backward"
    assert out[53]["matched_id"] == 14
    assert out[53]["dt_us"] == 300_000_000
    assert out[53]["direction"] == "forward"


def test_b152_interval_union_merges_touching_and_contained(spark, tmp_path):
    """value is the interval length in MINUTES.  Touching intervals
    merge (start == running max end); contained intervals add nothing
    to coverage; a genuine gap starts a second island."""
    sf = _events(spark, tmp_path, [
        # user 1: [0, 600s) then touching [600s, 1200s) then contained
        # [120s, 300s) -> ONE island covering 1200 s.
        (1, "2024-01-01 00:00:00", 1, "view", 10.0),
        (2, "2024-01-01 00:10:00", 1, "view", 10.0),
        (3, "2024-01-01 00:02:00", 1, "view", 3.0),
        # user 2: two disjoint 60 s intervals an hour apart.
        (4, "2024-01-01 00:00:00", 2, "view", 1.0),
        (5, "2024-01-01 01:00:00", 2, "view", 1.0),
    ])
    out = {r["user_id"]: r for r in
           REGISTRY["b152_interval_union_coverage"].fn(spark, sf).collect()}
    assert out[1]["n_islands"] == 1
    assert out[1]["n_intervals"] == 3
    assert out[1]["covered_s"] == 1200
    assert out[2]["n_islands"] == 2
    assert out[2]["covered_s"] == 120


def test_c131_purity_tie_goes_to_smallest_label(spark, tmp_path):
    """A cluster with a tied majority must report the smallest label
    (the deterministic-tiebreak rule every oracle relies on)."""
    rows = [
        # cluster 7 (all three coords positive): labels 1,1,2,2 -> tie,
        # top_label must be 1.
        (1, [1.0, 1.0, 1.0, 0.0], 1),
        (2, [1.0, 2.0, 1.0, 0.0], 1),
        (3, [2.0, 1.0, 1.0, 0.0], 2),
        (4, [1.0, 1.0, 2.0, 0.0], 2),
        # cluster 0 (all three coords non-positive): clear majority 5.
        (5, [-1.0, -1.0, -1.0, 0.0], 5),
        (6, [-1.0, -2.0, -1.0, 0.0], 5),
        (7, [-2.0, -1.0, -1.0, 0.0], 6),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    df.write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))
    out = {r["cluster"]: r for r in
           REGISTRY["c131_cluster_purity_mi"].fn(spark, str(tmp_path))
           .collect()}
    assert out[7]["top_label"] == 1
    assert out[7]["top_cnt"] == 2
    assert out[7]["purity_ppm"] == 500000
    assert out[0]["top_label"] == 5
    assert out[0]["purity_ppm"] == 666666  # 2/3 truncating ppm
