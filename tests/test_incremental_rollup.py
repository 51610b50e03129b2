"""merge_upsert: latest-wins keyed MERGE that rewrites only the
partitions its updates touch; untouched partition files are not
rewritten."""

from __future__ import annotations

import datetime as dt
import glob
import os


def _d(day):
    return dt.date(2026, 8, day)


def _t(h):
    return dt.datetime(2026, 8, 10, h)


def test_merge_upsert_latest_wins_partition_scoped(spark, tmp_path):
    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        merge_upsert)
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10, _t(1), _d(1)), (2, "b", 20, _t(1), _d(1)),
         (3, "c", 30, _t(1), _d(2))],
        "id long, name string, v long, ingest timestamp, day date")
    assert merge_upsert(spark, base, path, key_cols=["id"],
                        order_col="ingest", partition_col="day") == 3

    before = {f: os.path.getmtime(f)
              for f in glob.glob(f"{path}/day=2026-08-02/*.parquet")}
    # update key 1 (newer), stale update for key 2 (older ingest ->
    # must LOSE), insert key 4 in a new partition
    upd = spark.createDataFrame(
        [(1, "a2", 11, _t(5), _d(1)), (2, "stale", 0, _t(0), _d(1)),
         (4, "d", 40, _t(5), _d(3))],
        "id long, name string, v long, ingest timestamp, day date")
    merge_upsert(spark, upd, path, key_cols=["id"],
                 order_col="ingest", partition_col="day")

    got = {r["id"]: (r["name"], r["v"])
           for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a2", 11), 2: ("b", 20), 3: ("c", 30),
                   4: ("d", 40)}
    after = {f: os.path.getmtime(f)
             for f in glob.glob(f"{path}/day=2026-08-02/*.parquet")}
    assert before == after, "untouched partition rewritten"
