"""End-to-end GTFS pipeline demo — the engine's runnable surface.

Mirrors the reference's three DAGs in sequence (SURVEY §3.4):
  1. gtfs_static_daily : land static CSVs -> bronze
  2. gtfs_rt_minutely  : flatten RT feed snapshots -> bronze
  3. gtfs_silver       : incremental bronze -> silver
then runs the KPI layer and prints each result.

Usage: python scripts/run_gtfs_demo.py [warehouse_dir]
(defaults to a temp dir; re-running on the same dir demonstrates the
idempotent incremental refresh — second silver pass appends 0 rows.)
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

from tests import fixtures_gtfs  # deterministic demo inputs
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.plans import kpis
from tp_airflow_gtfs_snowflake_spark.session import get_spark
from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
)
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_static import ingest_static


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="gtfs_wh_")
    spark = get_spark("gtfs_demo")
    wh = Warehouse(spark, root)
    wh.create_all()

    static_dir = tempfile.mkdtemp(prefix="gtfs_static_")
    fixtures_gtfs.write_static_csvs(static_dir)
    print("== static ingest ==")
    print(ingest_static(spark, static_dir, wh))

    print("== RT flatten ==")
    feed = parse_feed_json(spark.createDataFrame(
        [(s,) for s in fixtures_gtfs.make_feed_snapshots()], "feed_json string"))
    headers, stops = flatten_trip_updates(feed)
    print({t: wh.append_epoch("bronze", t, df, 0) for t, df in (
        ("trip_updates_raw", headers), ("trip_stop_times", stops),
        ("vehicle_positions_raw", flatten_vehicle_positions(feed)))})

    print("== silver refresh (1st) ==")
    print(refresh_silver(wh))
    print("== silver refresh (2nd, expect all zero) ==")
    print(refresh_silver(wh))

    print("== KPIs ==")
    delays = kpis.observed_vs_scheduled(wh, fixtures_gtfs.BASE_DATE.date())
    kpis.punctuality_rate(delays).show()
    kpis.most_delayed_lines(wh, delays, k=5).show(truncate=False)
    kpis.delay_distribution(delays).orderBy("bucket_lo_s").show()
    kpis.live_vehicle_map(wh).show()
    kpis.stop_service_state(wh).groupBy("service_state").count().show()
    kpis.travel_time_actual_vs_scheduled(delays).show(5)


if __name__ == "__main__":
    main()
