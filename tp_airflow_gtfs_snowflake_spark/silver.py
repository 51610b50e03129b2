"""The seven BRONZE -> SILVER transforms (SURVEY §1.4).

reference: dags/gtfs_silver.py:125-213 — each silver load is a
projection (+ small derivations) over the bronze table, applied
incrementally on the insert_date high-watermark.  Four of the seven
are projections onto the silver schema, which the append applies; the
three below derive a column.  The loader is operators/incremental.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse, concurrently
from tp_airflow_gtfs_snowflake_spark.operators.incremental import incremental_append


def stop_times_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:165-176 — + COALESCE(arrival,departure) (:173)
    return df.select(
        "trip_id", "arrival_time", "departure_time",
        F.coalesce("arrival_time", "departure_time").alias("intermediate_stop"),
        "stop_id", "stop_sequence", "pickup_type", "drop_off_type",
        "insert_date")


def trip_updates_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:179-187 — CASE WHEN direction_id IS NULL
    # THEN 'in experimentation' ELSE TO_VARCHAR(direction_id) END (:184)
    direction = (F.when(F.col("direction_id").isNull(),
                        F.lit("in experimentation"))
                 .otherwise(F.col("direction_id").cast("string")))
    return df.select("trip_id", "route_id",
                     direction.alias("direction_id"), "insert_date")


def trip_stop_times_silver(df: DataFrame) -> DataFrame:
    # gtfs_silver.py:189-198 — epoch COALESCE held in a STRING column
    # (observed quirk of the reference DDL, gtfs_silver.py:96-104)
    return df.select(
        "trip_id", "stop_sequence", "stop_id", "arrival_time",
        "departure_time",
        F.coalesce(F.col("arrival_time"), F.col("departure_time"))
         .cast("string").alias("intermediate_stop"),
        "insert_date")


# silver table -> (its bronze source, its derivation).  None: the load
# appends the source's columns and Warehouse.append keeps the ones the
# silver schema declares (schemas.SILVER), which is the whole
# transform of routes (gtfs_silver.py:125-134, 4/8 columns), trips
# (:136-149, drop trip_short_name), stops (:151-163, drop zone_id,
# location_type, stop_timezone) and vehicle positions (:200-213,
# identity).
TRANSFORMS = {
    "routes_static_silver": ("routes_static", None),
    "trips_static_silver": ("trips_static", None),
    "stops_static_silver": ("stops_static", None),
    "stop_times_static_silver": ("stop_times_static", stop_times_silver),
    "trip_updates_silver": ("trip_updates_raw", trip_updates_silver),
    "trip_stop_times_silver": ("trip_stop_times", trip_stop_times_silver),
    "vehicle_positions_silver": ("vehicle_positions_raw", None),
}


def _load(wh: Warehouse, dst: str) -> int:
    """One silver load: create the table, then append its bronze
    source's rows newer than its watermark."""
    src_name, transform = TRANSFORMS[dst]
    wh.create_if_not_exists("silver", dst)
    return incremental_append(wh, src_name, dst, transform)


def refresh_silver(wh: Warehouse) -> dict[str, int]:
    """The gtfs_silver DAG body: run all seven incremental loads.
    Like the reference's fan-out (gtfs_silver.py:307-315) the loads
    are independent, so they run concurrently (catalog.concurrently);
    the refresh returns once every load has finished, and raises the
    first failure only then.  The silver DAG runs on its own schedule,
    so a refresh before the first RT snapshot loads the static tables
    and appends 0 for the RT ones."""
    loads = concurrently(wh.spark, lambda dst: _load(wh, dst), TRANSFORMS)
    return dict(zip(TRANSFORMS, loads))
