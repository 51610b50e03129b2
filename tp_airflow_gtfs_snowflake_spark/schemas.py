"""Explicit StructTypes for every table in the engine catalog.

Bronze schemas mirror the reference DDL
(reference: dags/gtfs_static_daily.py:44-103, dags/gtfs_rt_minutely.py:179-219);
silver schemas mirror dags/gtfs_silver.py:28-120.  Type mapping per
SURVEY.md section 1.2: Snowflake STRING->StringType, NUMBER->LongType
(epochs/sequences) or IntegerType (small enums), FLOAT->DoubleType,
TIMESTAMP_NTZ -> TimestampNTZType.  Nothing is ever schema-inferred.
"""

from __future__ import annotations

from pyspark.sql import types as T

_S = T.StringType()
_L = T.LongType()
_I = T.IntegerType()
_D = T.DoubleType()
# Reference stores Paris wall-clock with no zone (TIMESTAMP_NTZ,
# gtfs_static_daily.py:58); Spark >=3.4 has the direct equivalent.
_TS_NTZ = T.TimestampNTZType()


def _st(*fields: tuple) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


INSERT_DATE = ("insert_date", _TS_NTZ)

# ---------------------------------------------------------------- bronze
# reference: dags/gtfs_static_daily.py:48-60
ROUTES_STATIC = _st(
    ("route_id", _S), ("agency_id", _S), ("route_short_name", _S),
    ("route_long_name", _S), ("route_type", _I), ("route_url", _S),
    ("route_color", _S), ("route_text_color", _S), INSERT_DATE,
)

# reference: dags/gtfs_static_daily.py:61-75
TRIPS_STATIC = _st(
    ("route_id", _S), ("service_id", _S), ("trip_id", _S),
    ("trip_headsign", _S), ("trip_short_name", _S), ("direction_id", _I),
    ("shape_id", _S), ("wheelchair_accessible", _I), ("bike_allowed", _I),
    INSERT_DATE,
)

# reference: dags/gtfs_static_daily.py:76-90
STOPS_STATIC = _st(
    ("stop_id", _S), ("stop_code", _S), ("stop_name", _S),
    ("stop_lat", _D), ("stop_lon", _D), ("zone_id", _S),
    ("location_type", _I), ("parent_station", _S), ("stop_timezone", _S),
    ("wheelchair_boarding", _I), INSERT_DATE,
)

# reference: dags/gtfs_static_daily.py:91-102.  arrival/departure kept
# STRING because GTFS service times may exceed "24:00:00".
STOP_TIMES_STATIC = _st(
    ("trip_id", _S), ("arrival_time", _S), ("departure_time", _S),
    ("stop_id", _S), ("stop_sequence", _L), ("pickup_type", _I),
    ("drop_off_type", _I), INSERT_DATE,
)

# RT bronze extension column (deliberate deviation from the reference
# DDL, documented): `ingest_epoch` keys idempotent micro-batch replay
# (catalog.Warehouse.append_epoch) — the engine equivalent of
# Snowflake's per-file COPY load history that made the reference's
# loads idempotent.  A table with this column is partitioned by it
# (catalog.Warehouse._parts); the writer populates it, and silver
# projections (dags/gtfs_silver.py:96-119) drop it.
INGEST_EPOCH = ("ingest_epoch", _L)

# reference: dags/gtfs_rt_minutely.py:184-191
TRIP_UPDATES_RAW = _st(
    ("trip_id", _S), ("route_id", _S), ("direction_id", _I), INSERT_DATE,
    INGEST_EPOCH,
)

# reference: dags/gtfs_rt_minutely.py:194-203 (epoch seconds as NUMBER)
TRIP_STOP_TIMES = _st(
    ("trip_id", _S), ("stop_sequence", _L), ("stop_id", _S),
    ("arrival_time", _L), ("departure_time", _L), INSERT_DATE,
    INGEST_EPOCH,
)

# reference: dags/gtfs_rt_minutely.py:206-218
VEHICLE_POSITIONS_RAW = _st(
    ("trip_id", _S), ("route_id", _S), ("vehicle_id", _S),
    ("latitude", _D), ("longitude", _D), ("bearing", _D),
    ("stop_id", _S), ("timestamp_epoch", _L), INSERT_DATE,
    INGEST_EPOCH,
)

BRONZE: dict[str, T.StructType] = {
    "routes_static": ROUTES_STATIC,
    "trips_static": TRIPS_STATIC,
    "stops_static": STOPS_STATIC,
    "stop_times_static": STOP_TIMES_STATIC,
    "trip_updates_raw": TRIP_UPDATES_RAW,
    "trip_stop_times": TRIP_STOP_TIMES,
    "vehicle_positions_raw": VEHICLE_POSITIONS_RAW,
}

# ---------------------------------------------------------------- silver
# Column subsets per reference dags/gtfs_silver.py:28-120 (SURVEY 1.4).
SILVER: dict[str, T.StructType] = {
    # 4/8 cols kept (gtfs_silver.py:32-40)
    "routes_static_silver": _st(
        ("route_id", _S), ("agency_id", _S), ("route_long_name", _S),
        ("route_type", _I), INSERT_DATE,
    ),
    # 8/9 cols (drop trip_short_name, gtfs_silver.py:43-55)
    "trips_static_silver": _st(
        ("route_id", _S), ("service_id", _S), ("trip_id", _S),
        ("trip_headsign", _S), ("direction_id", _I), ("shape_id", _S),
        ("wheelchair_accessible", _I), ("bike_allowed", _I), INSERT_DATE,
    ),
    # 7/10 cols (gtfs_silver.py:58-69)
    "stops_static_silver": _st(
        ("stop_id", _S), ("stop_code", _S), ("stop_name", _S),
        ("stop_lat", _D), ("stop_lon", _D), ("parent_station", _S),
        ("wheelchair_boarding", _I), INSERT_DATE,
    ),
    # + intermediate_stop = COALESCE(arrival,departure) (gtfs_silver.py:72-82,:173).
    # DELIBERATE EXTENSION: the reference silver DDL keeps only
    # intermediate_stop and drops arrival_time/departure_time
    # (gtfs_silver.py:72-104); this engine's silver keeps both raw
    # columns because the KPI layer (plans/kpis.py) computes per-stop
    # delays from the separate arrival/departure values, which
    # COALESCE destroys.  Same applies to trip_stop_times_silver below.
    "stop_times_static_silver": _st(
        ("trip_id", _S), ("arrival_time", _S), ("departure_time", _S),
        ("intermediate_stop", _S), ("stop_id", _S), ("stop_sequence", _L),
        ("pickup_type", _I), ("drop_off_type", _I), INSERT_DATE,
    ),
    # direction_id NUMBER->STRING w/ null->'in experimentation' (gtfs_silver.py:86-93,:184)
    "trip_updates_silver": _st(
        ("trip_id", _S), ("route_id", _S), ("direction_id", _S), INSERT_DATE,
    ),
    # + intermediate_stop epoch-as-string (gtfs_silver.py:96-104,:195)
    "trip_stop_times_silver": _st(
        ("trip_id", _S), ("stop_sequence", _L), ("stop_id", _S),
        ("arrival_time", _L), ("departure_time", _L),
        ("intermediate_stop", _S), INSERT_DATE,
    ),
    # identity projection of the reference's 8 columns
    # (gtfs_silver.py:107-119) — the bronze-side ingest_epoch
    # extension column is dropped here, like every silver projection
    "vehicle_positions_silver": _st(
        ("trip_id", _S), ("route_id", _S), ("vehicle_id", _S),
        ("latitude", _D), ("longitude", _D), ("bearing", _D),
        ("stop_id", _S), ("timestamp_epoch", _L), INSERT_DATE,
    ),
}

# ------------------------------------------------- driver testdata tables
# /root/testdata/sf*/ parquet (TESTDATA.md); schemas verified from files.
DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
