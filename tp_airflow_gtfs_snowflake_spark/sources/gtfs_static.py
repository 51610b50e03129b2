"""GTFS static ingest: download + unzip + CSV -> bronze (A1/A2/A3/A12).

reference: dags/gtfs_static_daily.py:21-41 (download/unzip),
:117-142 (COPY INTO the four *_static tables).

The HTTP fetch and zip extraction are driver-side I/O (they were
plain Python in the reference too); Spark takes over at the landed
.txt files.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession

from tp_airflow_gtfs_snowflake_spark import schemas
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse, concurrently
from tp_airflow_gtfs_snowflake_spark.sources.csv_source import read_csv

STATIC_FILES = {
    "routes_static": "routes.txt",
    "trips_static": "trips.txt",
    "stops_static": "stops.txt",
    "stop_times_static": "stop_times.txt",
}


def download_static_zip(url: str, dest_path: str, timeout: int = 30) -> str:
    """HTTP GET the GTFS static archive (gtfs_static_daily.py:21-31)."""
    import urllib.request
    os.makedirs(os.path.dirname(dest_path), exist_ok=True)
    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        with open(dest_path, "wb") as f:
            f.write(resp.read())
    return dest_path


def unzip_static(zip_path: str, out_dir: str) -> list[str]:
    """Extract the GTFS .txt files (gtfs_static_daily.py:33-41)."""
    os.makedirs(out_dir, exist_ok=True)
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(out_dir)
    return sorted(os.listdir(out_dir))


def check_static_files(data_dir: str) -> None:
    """Smoke validation (A12; scripts/check_gtfs_static.py:1-20):
    required files exist — the readability check happens on load."""
    missing = [f for f in STATIC_FILES.values()
               if not os.path.exists(os.path.join(data_dir, f))]
    if missing:
        raise FileNotFoundError(f"missing GTFS static files: {missing}")


def load_static_table(spark: SparkSession, data_dir: str, table: str) -> DataFrame:
    schema = schemas.BRONZE[table]
    # the CSV files don't carry insert_date — drop it from the read schema
    read_schema = type(schema)([f for f in schema.fields
                                if f.name != "insert_date"])
    return read_csv(spark, os.path.join(data_dir, STATIC_FILES[table]),
                    read_schema)


def ingest_static(spark: SparkSession, data_dir: str, wh: Warehouse) -> dict[str, int]:
    """The gtfs_static_daily pipeline body: land all four static tables
    in bronze with insert_date stamping.  The four loads are
    independent and run concurrently (catalog.concurrently).  Returns
    the rows each COPY loaded (this run's appends, not the table
    totals)."""
    check_static_files(data_dir)
    loaded = concurrently(spark, lambda table: wh.append(
        "bronze", table, load_static_table(spark, data_dir, table)),
        STATIC_FILES)
    return dict(zip(STATIC_FILES, loaded))
