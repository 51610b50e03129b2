"""GTFS-Realtime feed flattening (A4, A13-A17).

reference: dags/gtfs_rt_minutely.py:71-176 — fetch protobuf FeedMessage,
flatten entity[].trip_update / entity[].vehicle into relational rows
with HasField-guarded null defaulting, first-wins per-trip dedup and
lenient casts.

Spark-first design: the nested feed is a DataFrame with an
ArrayType(StructType) `entity` column.  Flattening is pure native
expressions (explode / nested field access); absent optional fields
are already NULL after parsing, which reproduces the reference's
`HasField(...) else None` guards for free.

Parse layer options:
- JSON feed snapshots -> `parse_feed_json` (from_json, fully native).
- Protobuf bytes -> `parse_feed_protobuf`: the minimal pure-Python
  wire decoder in `sources/gtfs_rt_pb.py` (public gtfs-realtime.proto
  field numbers), run as an Arrow-batched mapInPandas, never per-row
  Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FeedMessage subset used by the reference (gtfs_rt_minutely.py:88-109,
# 137-162; wire example in exports/test.ipynb cell 2).
TRIP_DESCRIPTOR = T.StructType([
    T.StructField("trip_id", T.StringType()),
    T.StructField("route_id", T.StringType()),
    T.StructField("direction_id", T.IntegerType()),
])

STOP_TIME_EVENT = T.StructType([T.StructField("time", T.LongType())])

STOP_TIME_UPDATE = T.StructType([
    T.StructField("stop_sequence", T.LongType()),
    T.StructField("stop_id", T.StringType()),
    T.StructField("arrival", STOP_TIME_EVENT),
    T.StructField("departure", STOP_TIME_EVENT),
])

TRIP_UPDATE = T.StructType([
    T.StructField("trip", TRIP_DESCRIPTOR),
    T.StructField("stop_time_update", T.ArrayType(STOP_TIME_UPDATE)),
])

VEHICLE_POSITION = T.StructType([
    T.StructField("trip", TRIP_DESCRIPTOR),
    T.StructField("position", T.StructType([
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("bearing", T.DoubleType()),
    ])),
    T.StructField("vehicle", T.StructType([T.StructField("id", T.StringType())])),
    T.StructField("stop_id", T.StringType()),
    T.StructField("timestamp", T.LongType()),
])

FEED_ENTITY = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("trip_update", TRIP_UPDATE),
    T.StructField("vehicle", VEHICLE_POSITION),
])

FEED_MESSAGE = T.StructType([
    T.StructField("entity", T.ArrayType(FEED_ENTITY)),
])


def parse_feed_json(df: DataFrame) -> DataFrame:
    """JSON feed snapshots in column ``feed_json`` -> nested
    FeedMessage rows in column ``feed`` (native from_json)."""
    return df.withColumn("feed", F.from_json(F.col("feed_json"), FEED_MESSAGE))


def parse_feed_protobuf(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Protobuf FeedMessage bytes in column ``content`` -> nested rows
    (A4, the reference's actual wire format:
    gtfs_rt_minutely.py:37-41,79,137).

    Decodes with the minimal pure-Python wire-format parser in
    sources/gtfs_rt_pb.py (public field numbers from
    gtfs-realtime.proto — covers exactly the subset the reference
    reads) and emits the snake_case JSON that `FEED_MESSAGE` reads.
    The decode is an Arrow-batched mapInPandas, never a per-row
    Python UDF, and the downstream flatten is shared with the JSON
    path.
    """
    import pandas as pd

    out_schema = T.StructType([T.StructField("feed_json", T.StringType())])

    def decode(batches):
        import json

        from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt_pb import (
            decode_feed_message)
        for pdf in batches:
            msgs = [json.dumps(decode_feed_message(bytes(raw)))
                    for raw in pdf["content"]]
            yield pd.DataFrame({"feed_json": msgs})

    return parse_feed_json(df.mapInPandas(decode, out_schema))


def flatten_trip_updates(feed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One FeedMessage row -> (trip_updates_raw, trip_stop_times).

    reference: gtfs_rt_minutely.py:83-109 — the seen_trips guard gates
    ONLY the header rows: the first entity per non-null trip_id within
    a snapshot emits `(trip_id, route_id, direction_id)` (`:98-100`).
    stop_time_update rows are appended for EVERY trip_update entity
    (`:103-109`) — duplicate-trip entities and entities whose trip_id
    is null/empty still contribute stop rows (`trip_id or None` at
    `:93` maps empty string to NULL).  Dedup is scoped per feed
    snapshot (one FeedMessage = one snapshot, told apart by a
    monotonically_increasing_id per feed row), so a DataFrame holding
    several snapshots dedups headers within each, not across.

    dropDuplicates is nondeterministic across partitions (SURVEY §7
    hard parts) -> rank by the entity's position in the feed.
    """
    ent = (feed.withColumn("_snap", F.monotonically_increasing_id())
           .select("_snap", F.posexplode("feed.entity").alias("_pos", "e")))
    tu = (ent.filter(F.col("e.trip_update").isNotNull())
          .withColumn("trip_id",
                      F.nullif(F.col("e.trip_update.trip.trip_id"),
                               F.lit("")))
          .withColumn("route_id",
                      F.nullif(F.col("e.trip_update.trip.route_id"),
                               F.lit(""))))

    w = W.partitionBy("_snap", "trip_id").orderBy("_pos")
    headers = (tu.where(F.col("trip_id").isNotNull())
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .select(
                   "trip_id",
                   "route_id",
                   F.col("e.trip_update.trip.direction_id")
                    .alias("direction_id"),
               ))

    # A13 explode over ALL trip_update entities (no dedup, null trip_id
    # kept); explode_outer would keep update-less trips, the reference's
    # loop drops them (no rows appended) -> plain explode.
    stops = tu.select(
        "trip_id",
        F.explode("e.trip_update.stop_time_update").alias("stu"),
    ).select(
        "trip_id",
        F.col("stu.stop_sequence").cast("long").alias("stop_sequence"),
        F.col("stu.stop_id").alias("stop_id"),
        F.col("stu.arrival.time").cast("long").alias("arrival_time"),
        F.col("stu.departure.time").cast("long").alias("departure_time"),
    )
    return headers, stops


def flatten_vehicle_positions(feed: DataFrame) -> DataFrame:
    """reference: gtfs_rt_minutely.py:137-173 — one row per vehicle
    entity; bearing rounded to integer-valued (A17) but kept DOUBLE in
    bronze DDL (gtfs_rt_minutely.py:213)."""
    ent = feed.select(F.explode("feed.entity").alias("e"))
    vp = ent.filter(F.col("e.vehicle").isNotNull())
    return vp.select(
        F.col("e.vehicle.trip.trip_id").alias("trip_id"),
        F.col("e.vehicle.trip.route_id").alias("route_id"),
        F.col("e.vehicle.vehicle.id").alias("vehicle_id"),
        F.col("e.vehicle.position.latitude").alias("latitude"),
        F.col("e.vehicle.position.longitude").alias("longitude"),
        F.round(F.col("e.vehicle.position.bearing")).alias("bearing"),
        F.col("e.vehicle.stop_id").alias("stop_id"),
        F.col("e.vehicle.timestamp").cast("long").alias("timestamp_epoch"),
    )
