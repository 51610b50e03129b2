"""End-to-end GTFS pipeline: static CSV ingest -> bronze, RT flatten ->
bronze, incremental silver refresh — semantics mirrored from the
reference DAGs (cites in module docstrings)."""

from __future__ import annotations

import ast
import csv
import importlib.util
import os
import re
import sys
import threading
import time
import zipfile

import pytest
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark import silver
from tp_airflow_gtfs_snowflake_spark.catalog import (
    Warehouse, concurrently, list_dir)
from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
)
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_static import (
    check_static_files, download_static_zip, ingest_static, unzip_static)
from tests import fixtures_gtfs
from tests.test_kpis import _jobs


@pytest.fixture(scope="module")
def gtfs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs_static")
    fixtures_gtfs.write_static_csvs(str(d))
    return str(d)


RT_BRONZE = ("trip_updates_raw", "trip_stop_times", "vehicle_positions_raw")


def append_rt_snapshots(spark, wh) -> dict[str, int]:
    """The fixture feed's snapshots, flattened into the three bronze
    RT tables as micro-batch epoch 0; returns the rows appended per
    table."""
    feed = parse_feed_json(
        spark.createDataFrame([(s,) for s in fixtures_gtfs.make_feed_snapshots()],
                              "feed_json string"))
    headers, stops = flatten_trip_updates(feed)
    tables = {"trip_updates_raw": headers, "trip_stop_times": stops,
              "vehicle_positions_raw": flatten_vehicle_positions(feed)}
    return {t: wh.append_epoch("bronze", t, df, 0)
            for t, df in tables.items()}


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory, gtfs_dir):
    root = str(tmp_path_factory.mktemp("warehouse"))
    wh = Warehouse(spark, root)
    wh.create_all()
    ingest_static(spark, gtfs_dir, wh)
    append_rt_snapshots(spark, wh)
    return wh


def test_static_ingest_counts(wh):
    assert wh.table("bronze", "routes_static").count() == fixtures_gtfs.N_ROUTES
    assert wh.table("bronze", "trips_static").count() == fixtures_gtfs.N_TRIPS
    st = wh.table("bronze", "stop_times_static")
    assert st.count() == fixtures_gtfs.N_TRIPS * fixtures_gtfs.STOPS_PER_TRIP
    # >24:00:00 service times survived as raw strings
    assert st.filter(F.col("arrival_time") >= "24:").count() > 0
    # NULL_IF applied: empty and 'NULL' tokens became real nulls
    assert wh.table("bronze", "routes_static").filter(
        F.col("route_color").isNull()).count() > 0
    # insert_date stamped everywhere
    assert st.filter(F.col("insert_date").isNull()).count() == 0


def test_rt_first_wins_dedup(wh):
    tu = wh.table("bronze", "trip_updates_raw")
    # one header per (trip, snapshot-batch): fixture has 3 snapshots ->
    # duplicates within a snapshot collapse to the FIRST entity
    assert tu.filter(F.col("route_id") == "DUP").count() == 0
    # every even trip appears once per snapshot (3 snapshots), dup
    # entities within a snapshot collapsed to the first
    counts = tu.groupBy("trip_id").count()
    assert counts.agg(F.max("count")).collect()[0][0] == 3
    assert counts.agg(F.min("count")).collect()[0][0] == 3


def test_rt_explode_null_semantics(wh):
    ts = wh.table("bronze", "trip_stop_times")
    assert ts.count() > 0
    # absent optional proto fields -> NULL (HasField guards, A14)
    assert ts.filter(F.col("stop_id").isNull()).count() > 0
    assert ts.filter(F.col("departure_time").isNull()).count() > 0
    # stop rows are NOT gated by seen_trips: null-trip_id entities
    # contribute stop rows (gtfs_rt_minutely.py:103-109), one per
    # snapshot from the tu-null fixture entity
    assert ts.filter(F.col("trip_id").isNull()).count() == 3
    vp = wh.table("bronze", "vehicle_positions_raw")
    assert vp.filter(F.col("bearing").isNull()).count() > 0
    # A17: bearing is integer-valued after rounding
    assert vp.filter(F.col("bearing") != F.round("bearing")).count() == 0


def test_silver_refresh_incremental(wh):
    first = refresh_silver(wh)
    assert first["routes_static_silver"] == fixtures_gtfs.N_ROUTES
    assert first["trip_stop_times_silver"] > 0
    # idempotent: nothing newer than the watermark -> zero appends
    second = refresh_silver(wh)
    assert all(n == 0 for n in second.values()), second

    rs = wh.table("silver", "routes_static_silver")
    assert set(rs.columns) == {"route_id", "agency_id", "route_long_name",
                               "route_type", "insert_date"}
    # null direction_id -> 'in experimentation' (gtfs_silver.py:184)
    tu = wh.table("silver", "trip_updates_silver")
    assert tu.filter(F.col("direction_id") == "in experimentation").count() > 0
    # intermediate_stop = COALESCE(arrival, departure) (gtfs_silver.py:173)
    st = wh.table("silver", "stop_times_static_silver")
    bad = st.filter(
        F.col("intermediate_stop") !=
        F.coalesce("arrival_time", "departure_time")).count()
    assert bad == 0


def test_silver_picks_up_new_bronze_rows(wh, spark):
    refresh_silver(wh)  # ensure baseline loaded
    before = wh.table("silver", "routes_static_silver").count()
    new_row = spark.createDataFrame(
        [("R999", "LA", "x", "Nouvelle ligne", 3, None, None, None)],
        "route_id string, agency_id string, route_short_name string, "
        "route_long_name string, route_type int, route_url string, "
        "route_color string, route_text_color string")
    wh.append("bronze", "routes_static", new_row)
    appended = refresh_silver(wh)
    assert appended["routes_static_silver"] == 1
    assert wh.table("silver", "routes_static_silver").count() == before + 1


# ------------------------------------------- loads count their own rows

def test_append_returns_rows_in_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    routes = spark.createDataFrame(
        [(f"R{i}", "LA", f"route {i}") for i in range(3)],
        "route_id string, agency_id string, route_long_name string")
    # the first append creates the table
    assert wh.append("bronze", "routes_static", routes) == 3
    assert wh.append("bronze", "routes_static", routes.limit(2)) == 2
    assert wh.table("bronze", "routes_static").count() == 5
    vehicles = spark.createDataFrame(
        [(f"T{i}", f"V{i}", 1700000000 + i) for i in range(4)],
        "trip_id string, vehicle_id string, timestamp_epoch long")
    assert wh.append_epoch("bronze", "vehicle_positions_raw", vehicles,
                           epoch_id=1) == 4
    assert wh.table("bronze", "vehicle_positions_raw").count() == 4


def test_append_refuses_rt_bronze(spark, tmp_path):
    # an RT bronze root holds only ingest_epoch=N directories; a plain
    # append would land an __HIVE_DEFAULT_PARTITION__ that replay
    # cannot overwrite
    wh = Warehouse(spark, str(tmp_path))
    rows = spark.createDataFrame(
        [("T1", "V1", 1700000000)],
        "trip_id string, vehicle_id string, timestamp_epoch long")
    for table in RT_BRONZE:
        with pytest.raises(ValueError, match="append_epoch"):
            wh.append("bronze", table, rows)
        assert not os.path.exists(wh.path("bronze", table))


def test_second_static_ingest_returns_rows_appended(spark, tmp_path,
                                                    gtfs_dir):
    wh = Warehouse(spark, str(tmp_path))
    first = ingest_static(spark, gtfs_dir, wh)
    assert first["routes_static"] == fixtures_gtfs.N_ROUTES
    assert first["stop_times_static"] == (fixtures_gtfs.N_TRIPS
                                          * fixtures_gtfs.STOPS_PER_TRIP)
    # COPY's "rows loaded": this run's rows, not the doubled totals
    assert ingest_static(spark, gtfs_dir, wh) == first
    assert {t: wh.table("bronze", t).count() for t in first} == \
        {t: 2 * n for t, n in first.items()}


def test_static_fetch_unzip_ingest_and_check(spark, tmp_path, gtfs_dir):
    """The static DAG's first steps end to end, without network: fetch
    the archive (A1, over a file:// URL), unzip it (A2) and ingest it;
    the smoke check (A12) names a file the archive lacks."""
    archive = tmp_path / "src" / "gtfs.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as z:
        for name in sorted(os.listdir(gtfs_dir)):
            z.write(os.path.join(gtfs_dir, name), name)
    fetched = download_static_zip(archive.as_uri(),
                                  str(tmp_path / "dl" / "gtfs.zip"))
    data_dir = tmp_path / "data"
    assert unzip_static(fetched, str(data_dir)) == sorted(
        os.listdir(gtfs_dir))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert ingest_static(spark, str(data_dir), wh) == {
        "routes_static": fixtures_gtfs.N_ROUTES,
        "trips_static": fixtures_gtfs.N_TRIPS,
        "stops_static": fixtures_gtfs.N_STOPS,
        "stop_times_static": (fixtures_gtfs.N_TRIPS
                              * fixtures_gtfs.STOPS_PER_TRIP)}
    os.remove(data_dir / "stops.txt")
    with pytest.raises(FileNotFoundError, match="stops.txt"):
        check_static_files(str(data_dir))


def test_static_ingest_nulls_a_malformed_number(spark, tmp_path, gtfs_dir):
    """ON_ERROR='CONTINUE' at column granularity (A16): a non-numeric
    value in a numeric column loads as NULL; the row and the rest of
    the load survive."""
    bad_dir = tmp_path / "gtfs"
    bad_dir.mkdir()
    # table -> (file, numeric column, key column): the numeric field
    # of each file's first data row becomes "bus"
    bad = {"routes_static": ("routes.txt", "route_type", "route_id"),
           "trips_static": ("trips.txt", "direction_id", "trip_id"),
           "stops_static": ("stops.txt", "stop_lat", "stop_id"),
           "stop_times_static": ("stop_times.txt", "stop_sequence",
                                 "trip_id")}
    first_keys = {}
    for table, (name, col, key) in bad.items():
        with open(os.path.join(gtfs_dir, name), newline="") as f:
            rows = list(csv.reader(f))
        rows[1][rows[0].index(col)] = "bus"
        first_keys[table] = rows[1][rows[0].index(key)]
        with open(bad_dir / name, "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert ingest_static(spark, str(bad_dir), wh) == {
        "routes_static": fixtures_gtfs.N_ROUTES,
        "trips_static": fixtures_gtfs.N_TRIPS,
        "stops_static": fixtures_gtfs.N_STOPS,
        "stop_times_static": (fixtures_gtfs.N_TRIPS
                              * fixtures_gtfs.STOPS_PER_TRIP)}
    for table, (_, col, key) in bad.items():
        first = wh.table("bronze", table).filter(
            F.col(key) == first_keys[table])
        assert first.filter(F.col(col).isNull()).count() == 1, table


def assert_noop_refresh_writes_no_files(wh, local_root):
    refresh_silver(wh)
    silver_dir = os.path.join(local_root, "silver")

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(silver_dir)
                      for f in fs)
    before = files()
    assert not any(refresh_silver(wh).values())
    assert files() == before


def test_noop_refresh_writes_no_silver_files(wh):
    assert_noop_refresh_writes_no_files(wh, wh.root)


def test_noop_refresh_writes_no_silver_files_under_a_uri_root(
        spark, tmp_path, gtfs_dir):
    # a scheme-qualified root: table existence and the destination
    # watermark must not fall back to "no table" (which recreated every
    # silver table empty and reloaded it in full on each refresh)
    wh = Warehouse(spark, f"file://{tmp_path}")
    ingest_static(spark, gtfs_dir, wh)
    append_rt_snapshots(spark, wh)
    assert wh.exists("bronze", "routes_static")
    assert_noop_refresh_writes_no_files(wh, str(tmp_path))


def test_list_dir_lists_one_level_of_a_directory_only(spark, tmp_path):
    (tmp_path / "t" / "ingest_epoch=1").mkdir(parents=True)
    (tmp_path / "t" / "part-0.parquet").write_bytes(b"12345")
    for root in (str(tmp_path), f"file://{tmp_path}"):
        got = list_dir(spark, f"{root}/t")
        assert [(n, d) for n, d, *_ in got] == [
            ("ingest_epoch=1", True), ("part-0.parquet", False)]
        assert got[1][2] == 5
        assert list_dir(spark, f"{root}/t/part-0.parquet") is None
        assert list_dir(spark, f"{root}/missing") is None


# ------------------------------------------- independent writes at once

def test_concurrently_gives_each_call_its_own_local_properties(spark):
    sc = spark.sparkContext
    groups = [f"concurrently-{i}-{time.time_ns()}" for i in range(3)]
    caller = f"caller-{time.time_ns()}"
    met = threading.Barrier(3, timeout=60)
    seen = {}

    def call(group):
        seen[group] = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        met.wait()  # every call has set its group before any job runs
        spark.range(1).collect()  # one job (count() runs two under AQE)
        return sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup(caller, caller)
    try:
        assert concurrently(spark, call, groups) == groups
        assert seen == dict.fromkeys(groups, caller)
        tracker = sc.statusTracker()
        assert {g: len(tracker.getJobIdsForGroup(g)) for g in groups} == \
            dict.fromkeys(groups, 1)
        assert sc.getLocalProperty("spark.jobGroup.id") == caller
    finally:
        sc._jsc.clearJobGroup()


def test_concurrently_raises_only_after_every_call_finished(spark):
    finished = []

    def call(i):
        if i == 2:
            raise RuntimeError("later in input order")
        time.sleep(0.3 * (i + 1))
        if i == 0:
            raise ValueError("first in input order")
        finished.append(i)
        return i

    with pytest.raises(ValueError, match="first in input order"):
        concurrently(spark, call, range(3))
    assert finished == [1]
    assert concurrently(spark, lambda i: i * i, range(3)) == [0, 1, 4]


def test_failed_silver_load_leaves_the_others_landed(spark, tmp_path,
                                                     gtfs_dir, monkeypatch):
    wh = Warehouse(spark, str(tmp_path))
    static = ingest_static(spark, gtfs_dir, wh)
    rt = append_rt_snapshots(spark, wh)
    loaded = {f"{t}_silver": n for t, n in static.items()}
    loaded.update(trip_updates_silver=rt["trip_updates_raw"],
                  trip_stop_times_silver=rt["trip_stop_times"],
                  vehicle_positions_silver=rt["vehicle_positions_raw"])
    failing = "trips_static_silver"
    src_name, transform = silver.TRANSFORMS[failing]

    def broken(df):
        raise RuntimeError("transform failed")
    monkeypatch.setitem(silver.TRANSFORMS, failing, (src_name, broken))
    with pytest.raises(RuntimeError, match="transform failed"):
        refresh_silver(wh)
    assert {t: wh.table("silver", t).count() for t in loaded
            if t != failing} == {t: n for t, n in loaded.items()
                                 if t != failing}
    monkeypatch.setitem(silver.TRANSFORMS, failing, (src_name, transform))
    assert refresh_silver(wh) == {t: loaded[t] if t == failing else 0
                                  for t in silver.TRANSFORMS}


def test_refresh_before_the_first_rt_snapshot(spark, tmp_path, gtfs_dir):
    # the silver DAG runs on its own schedule: static tables ingested,
    # no RT snapshot landed yet
    wh = Warehouse(spark, str(tmp_path))
    static = ingest_static(spark, gtfs_dir, wh)
    rt_silver = ("trip_updates_silver", "trip_stop_times_silver",
                 "vehicle_positions_silver")
    first = refresh_silver(wh)
    assert first == {**{f"{t}_silver": n for t, n in static.items()},
                     **dict.fromkeys(rt_silver, 0)}
    assert all(wh.exists("silver", t) for t in silver.TRANSFORMS)
    rt = append_rt_snapshots(spark, wh)
    assert refresh_silver(wh) == {
        **{f"{t}_silver": 0 for t in static},
        "trip_updates_silver": rt["trip_updates_raw"],
        "trip_stop_times_silver": rt["trip_stop_times"],
        "vehicle_positions_silver": rt["vehicle_positions_raw"]}


def test_replayed_epoch_is_loaded_into_silver_once(spark, tmp_path):
    """foreachBatch is at-least-once, and the silver DAG runs on its
    own schedule: a refresh can land between an epoch's first attempt
    and its replay.  The replay keeps the first attempt's insert_date,
    so the refresh after it has nothing new to load."""
    wh = Warehouse(spark, str(tmp_path))
    feed = parse_feed_json(spark.createDataFrame(
        [(fixtures_gtfs.make_feed_snapshots(1)[0],)], "feed_json string"))
    _, stops = flatten_trip_updates(feed)
    written = []
    # a new epoch runs its write and nothing else
    assert _jobs(spark.sparkContext, lambda: written.append(wh.append_epoch(
        "bronze", "trip_stop_times", stops, 0))) == 1
    n = written[0]
    assert n > 0
    assert refresh_silver(wh)["trip_stop_times_silver"] == n
    assert wh.append_epoch("bronze", "trip_stop_times", stops, 0) == n
    assert refresh_silver(wh)["trip_stop_times_silver"] == 0
    assert wh.table("bronze", "trip_stop_times").count() == n
    assert wh.table("silver", "trip_stop_times_silver").count() == n


def test_refresh_before_the_first_rt_snapshot_reads_no_rt_path(
        spark, tmp_path, gtfs_dir, monkeypatch):
    """A bronze source with no files is told by its listing, not by a
    read that fails."""
    from pyspark.sql.readwriter import DataFrameReader

    wh = Warehouse(spark, str(tmp_path))
    ingest_static(spark, gtfs_dir, wh)
    read = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert not any(refresh_silver(wh)[f"{t}_silver"]
                   for t in ("trip_updates", "trip_stop_times",
                             "vehicle_positions"))
    assert read
    assert not set(read) & {wh.path("bronze", t) for t in RT_BRONZE}


# ------------------------------------------------------ the demo script

def test_demo_script_runs_end_to_end(spark, tmp_path, monkeypatch, capsys):
    script = os.path.join(os.path.dirname(__file__), os.pardir, "scripts",
                          "run_gtfs_demo.py")
    spec = importlib.util.spec_from_file_location("run_gtfs_demo", script)
    demo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(demo)
    # the demo's own session builder would set its configs on the
    # shared test session
    monkeypatch.setattr(demo, "get_spark", lambda *a, **kw: spark)
    monkeypatch.setattr(sys, "argv", [script, str(tmp_path / "warehouse")])
    demo.main()
    lines = capsys.readouterr().out.splitlines()
    second = lines[lines.index(
        "== silver refresh (2nd, expect all zero) ==") + 1]
    counts = ast.literal_eval(second)
    assert len(counts) == 7 and not any(counts.values())
    kpi_out = "\n".join(lines[lines.index("== KPIs ==") + 1:])
    assert "punctuality_rate" in kpi_out and "route_long_name" in kpi_out
    assert "service_state" in kpi_out and "diff_s" in kpi_out
    for table in RT_BRONZE:
        root = tmp_path / "warehouse" / "bronze" / table
        parts = [p.name for p in root.iterdir() if p.is_dir()]
        assert parts, table
        assert all(re.fullmatch(r"ingest_epoch=\d+", p) for p in parts), parts
