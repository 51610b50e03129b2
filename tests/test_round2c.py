"""Round-2c batch: blocked fuzzy matching, mergeable sketches and the
Spark 4 Python DataSource."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests import fixtures_gtfs
from tests.conftest import SF_ORACLE
from tp_airflow_gtfs_snowflake_spark.operators import fuzzy
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t


# ---------------------------------------------------------------- fuzzy

def test_blocked_fuzzy_pairs_planted(spark):
    rows = [(1, "blue widget"), (2, "blue widgit"),   # dist 1, same block
            (3, "blue bracket"), (4, "red widget"),   # diff first token
            (5, "blue widget")]                       # exact dup of 1
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r.id_a, r.id_b): r.dist for r in
           fuzzy.blocked_fuzzy_pairs(df, id_col="id", name_col="name",
                                     max_dist=3).collect()}
    assert got[(1, 2)] == 1
    assert got[(2, 5)] == 1
    assert (1, 5) not in got           # exact dup excluded (min_dist=1)
    assert (1, 4) not in got           # different block, never compared
    assert all(1 <= d <= 3 for d in got.values())


def test_blocked_fuzzy_pairs_is_equi_join(spark):
    part = _t(spark, SF_ORACLE, "part")
    plan = (fuzzy.blocked_fuzzy_pairs(part, id_col="p_partkey",
                                      name_col="p_name")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_profile_symmetry(spark):
    part = _t(spark, SF_ORACLE, "part")
    pairs = fuzzy.blocked_fuzzy_pairs(part, id_col="p_partkey",
                                      name_col="p_name").count()
    prof = fuzzy.fuzzy_match_profile(part, id_col="p_partkey",
                                     name_col="p_name")
    agg = prof.agg(F.sum("n_matches").alias("s"),
                   F.count("*").alias("n")).first()
    assert agg["s"] == 2 * pairs       # every pair counts at both ends
    assert agg["n"] == part.count()    # zero-match records kept
    assert pairs > 0                   # non-vacuous on the real table


# ------------------------------------------------- mergeable sketches

def test_hll_union_of_partials_equals_single_shot(spark):
    """The mergeability contract b41 rides on: unioning per-day
    sketch partials must give EXACTLY the same estimate as sketching
    the whole table in one pass (HLL merge is lossless), and the
    estimate must sit near the exact distinct."""
    ev = _t(spark, SF_ORACLE, "events")
    merged = (ev.groupBy(F.date_trunc("day", "ts").alias("m"))
              .agg(F.hll_sketch_agg("user_id").alias("sk"))
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("est")).first()["est"])
    single = (ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
                     .alias("est")).first()["est"])
    exact = ev.select("user_id").distinct().count()
    assert merged == single
    assert abs(merged - exact) / exact < 0.05


# ------------------------------------------------- python data source

def test_py_datasource_stream_tails_new_files(spark, tmp_path):
    from tp_airflow_gtfs_snowflake_spark.sources import py_datasource
    landing = tmp_path / "landing"
    landing.mkdir()
    snaps = fixtures_gtfs.make_feed_snapshots(4)
    for i, s in enumerate(snaps[:2]):
        (landing / f"vp_20240304060{i}.json").write_text(s)
    (landing / "ignore.csv").write_text("not a snapshot")
    py_datasource.register(spark)
    stream = (spark.readStream.format("gtfs_rt_snapshots")
              .option("path", str(landing)).load())
    q = (stream.writeStream.outputMode("append").format("memory")
         .queryName("pyds_tail")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM pyds_tail").first()[0] == 2
        for i, s in enumerate(snaps[2:], start=2):
            (landing / f"vp_20240304060{i}.json").write_text(s)
        q.processAllAvailable()
        got = spark.sql(
            "SELECT feed_json FROM pyds_tail ORDER BY path").collect()
        assert [r.feed_json for r in got] == snaps  # once each, in order;
        # the .csv was filtered out by suffix
    finally:
        q.stop()


def test_sliding_hll_union_tracks_exact_within_5pct(spark):
    """b49: 7-day distinct estimates from unioned daily HLL partials
    must track the exact sliding count-distinct within 5% on every
    window of the real event stream."""
    from pyspark.sql import functions as F
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
        REGISTRY, _t)
    est = {r["day"]: r["distinct_users_7d_est"]
           for r in REGISTRY["b49_sliding_distinct_sketch"]
           .fn(spark, "/root/testdata/sf0.01").collect()}
    ev = _t(spark, "/root/testdata/sf0.01", "events") \
        .select(F.to_date("ts").alias("day"), "user_id")
    d = ev.select("day").distinct().alias("d")
    exact = {r["day"]: r["n"]
             for r in d.join(
                 ev.alias("e"),
                 (F.col("e.day") >= F.date_sub(F.col("d.day"), 6))
                 & (F.col("e.day") <= F.col("d.day")))
             .groupBy(F.col("d.day").alias("day"))
             .agg(F.countDistinct("e.user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for day, e in est.items():
        assert abs(e - exact[day]) <= 0.05 * exact[day], \
            f"{day}: est {e} vs exact {exact[day]}"
