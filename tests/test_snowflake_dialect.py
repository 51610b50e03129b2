"""Snowflake-dialect parity: the SQL surface the reference's DAGs
emit (gtfs_silver.py / gtfs_static_daily.py) runs on spark.sql with
at most a table-name change — native equivalences verified value-
level, and the one rewrite the reference needs: 1-arg TO_VARCHAR(x)
becomes CAST(x AS STRING)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.silver import trip_updates_silver


def test_native_snowflake_equivalences(spark):
    """The reference's built-in function set behaves identically on
    Spark 4 without any shim: 2-arg CONVERT_TIMEZONE (session tz ->
    target), TO_VARCHAR, COALESCE, NVL/NVL2, SPLIT_PART."""
    row = spark.sql("""
        SELECT CONVERT_TIMEZONE('Europe/Paris',
                                TIMESTAMP '2024-06-01 12:00:00') AS ct,
               CONVERT_TIMEZONE('Europe/Paris',
                                TIMESTAMP '2024-01-01 12:00:00') AS cw,
               TO_VARCHAR(7, '9') AS tv,
               COALESCE(NULL, 'b') AS co,
               NVL(NULL, 'z') AS nv,
               NVL2('x', 'a', 'b') AS nv2,
               ZEROIFNULL(CAST(NULL AS DOUBLE)) AS zi,
               SPLIT_PART('a.b.c', '.', 2) AS sp
    """).first()
    # UTC session: summer +2h (CEST), winter +1h (CET)
    assert row["ct"] == dt.datetime(2024, 6, 1, 14, 0)
    assert row["cw"] == dt.datetime(2024, 1, 1, 13, 0)
    assert (row["tv"], row["co"], row["nv"], row["nv2"], row["sp"]) == \
        ("7", "b", "z", "a", "b")
    assert row["zi"] == 0.0


def test_reference_silver_sql_runs_verbatim_shape(spark):
    """A Snowflake-dialect silver statement in the reference's idiom
    (CASE WHEN ... direction label, COALESCE projection,
    gtfs_silver.py:179-187) produces the same rows as the DataFrame
    transform.  The single documented rewrite applies: 1-arg
    TO_VARCHAR(x) -> CAST(x AS STRING) (Spark's to_varchar builtin
    demands a format and cannot be shadowed)."""
    src = spark.createDataFrame(
        [("t1", "r1", 0, dt.datetime(2024, 3, 4, 6)),
         ("t2", "r1", None, dt.datetime(2024, 3, 4, 6)),
         ("t3", "r2", 1, dt.datetime(2024, 3, 4, 7))],
        "trip_id string, route_id string, direction_id int, "
        "insert_date timestamp")
    src.createOrReplaceTempView("trip_updates_raw")
    got = spark.sql("""
        SELECT trip_id, route_id,
               CASE WHEN direction_id IS NULL
                    THEN 'in experimentation'
                    ELSE CAST(direction_id AS STRING) END
                 AS direction_id,
               insert_date
        FROM trip_updates_raw
    """)
    want = trip_updates_silver(src)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
