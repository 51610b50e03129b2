"""KPI layer over the GTFS fixture warehouse (B1-B13), including the
>24h service-time trap and the null-key join fallback."""

from __future__ import annotations

import calendar
import os
import re
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from tests import fixtures_gtfs
from tp_airflow_gtfs_snowflake_spark import silver
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.functions.gtfs_time import gtfs_time_to_seconds
from tp_airflow_gtfs_snowflake_spark.operators import incremental
from tp_airflow_gtfs_snowflake_spark.plans import kpis
from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
)
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_static import ingest_static

SERVICE_DATE = fixtures_gtfs.BASE_DATE.date()


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs_static_kpi")
    fixtures_gtfs.write_static_csvs(str(d))
    root = str(tmp_path_factory.mktemp("warehouse_kpi"))
    wh = Warehouse(spark, root)
    wh.create_all()
    ingest_static(spark, str(d), wh)
    feed = parse_feed_json(
        spark.createDataFrame([(s,) for s in fixtures_gtfs.make_feed_snapshots()],
                              "feed_json string"))
    headers, stops = flatten_trip_updates(feed)
    wh.append_epoch("bronze", "trip_updates_raw", headers, 0)
    wh.append_epoch("bronze", "trip_stop_times", stops, 0)
    wh.append_epoch("bronze", "vehicle_positions_raw",
                    flatten_vehicle_positions(feed), 0)
    refresh_silver(wh)
    return wh


@pytest.fixture(scope="module")
def delays(wh):
    return kpis.observed_vs_scheduled(wh, SERVICE_DATE)


def test_gtfs_time_parse_over_24h(spark):
    rows = spark.createDataFrame(
        [("25:10:00",), ("00:00:30",), ("24:00:00",), (None,), ("garbage",)],
        "t string",
    ).select(gtfs_time_to_seconds("t").alias("s")).collect()
    assert [r.s for r in rows] == [25 * 3600 + 600, 30, 86400, None, None]


def test_delay_fact_join(delays, wh):
    assert delays.count() > 0
    # fixture delays are N(120s, 180s) clipped at -300; the COALESCE
    # path can substitute departure (= arrival + 30s dwell) on either
    # side, shifting a delay by up to 30s
    assert delays.agg(F.min("delay_s")).collect()[0][0] >= -330
    avg = delays.agg(F.avg("delay_s")).collect()[0][0]
    assert 0 < avg < 300
    # fallback path exercised: RT rows lacking stop_sequence joined too
    rt = wh.table("silver", "trip_stop_times_silver")
    assert rt.filter(F.col("stop_sequence").isNull()).count() > 0


def test_punctuality_and_buckets(delays):
    rate = kpis.punctuality_rate(delays).collect()[0]
    assert 0.0 < rate.punctuality_rate <= 1.0
    hist = kpis.delay_distribution(delays)
    assert hist.agg(F.sum("n")).collect()[0][0] == delays.count()
    over_time = kpis.avg_delay_over_time(delays)
    assert over_time.count() > 0


def test_topk_and_heatmap(wh, delays):
    lines = kpis.most_delayed_lines(wh, delays, k=3).collect()
    assert 0 < len(lines) <= 3
    stops = kpis.top_problem_stops(wh, delays, k=5).collect()
    assert 0 < len(stops) <= 5
    heat = kpis.delay_heatmap(delays).collect()
    # fixture snapshots are all on one service date -> one iso_dow
    assert {r.iso_dow for r in heat} == {1}  # BASE_DATE is a Monday


def test_travel_time_span(delays):
    tt = kpis.travel_time_actual_vs_scheduled(delays)
    rows = tt.collect()
    assert len(rows) == delays.select("trip_id").distinct().count()
    sp = {r.trip_id: r for r in rows}
    assert all(r.scheduled_s >= 0 for r in sp.values())


def test_live_map_latest_per_vehicle(wh):
    live = kpis.live_vehicle_map(wh)
    rows = live.collect()
    vp = wh.table("silver", "vehicle_positions_silver")
    assert len(rows) == vp.where(F.col("vehicle_id").isNotNull()) \
                          .select("vehicle_id").distinct().count()
    # each vehicle's reported position is its max timestamp
    mx = {r.vehicle_id: r.mx for r in
          vp.groupBy("vehicle_id").agg(F.max("timestamp_epoch").alias("mx")).collect()}
    assert all(r.timestamp_epoch == mx[r.vehicle_id] for r in rows)


def test_stop_service_state(wh):
    state = kpis.stop_service_state(wh)
    assert state.count() == fixtures_gtfs.N_STOPS
    assert "in-service" in {r.service_state for r in state.collect()}
    # recency filter far in the future -> every stop out-of-service (B13)
    future = kpis.stop_service_state(wh, since_epoch=2**40)
    assert {r.service_state for r in future.collect()} == {"out-of-service"}
    evo = kpis.delay_evolution_per_stop(
        kpis.observed_vs_scheduled(wh, SERVICE_DATE))
    assert evo.count() > 0


def test_headway_regularity_ewt(spark):
    from tp_airflow_gtfs_snowflake_spark.plans.kpis import (
        headway_regularity)
    # perfectly even 600s headways -> EWT = 300s, ratio 1.0 (1e6 ppm);
    # bunched 2x(100,1100) -> mean 600 but EWT = (2*100^2+2*1100^2)
    # / (2*2400) = 508s -> ratio > 1
    rows = ([("even", t) for t in range(0, 3001, 600)]
            + [("bunched", 0), ("bunched", 100), ("bunched", 1200),
               ("bunched", 1300), ("bunched", 2400)])
    df = spark.createDataFrame(rows, "stop_id string, arrival_s long")
    got = {r["stop_id"]: r for r in headway_regularity(df).collect()}
    assert got["even"]["mean_headway_s"] == 600
    assert got["even"]["ewt_s"] == 300
    assert got["even"]["bunching_ratio_ppm"] == 1000000
    assert got["bunched"]["mean_headway_s"] == 600
    assert got["bunched"]["ewt_s"] > 450
    assert got["bunched"]["bunching_ratio_ppm"] > 1500000


# ------------------------------------------------- the cached delay fact
# Tests that write to silver work on a copy of the module warehouse: a
# new root is a new plan, so its fact starts cold and the shared
# `delays` fixture stays intact.

@pytest.fixture
def own_wh(wh, tmp_path):
    root = str(tmp_path / "warehouse")
    shutil.copytree(wh.root, root)
    return Warehouse(wh.spark, root)


def _punctual_n(wh) -> int:
    return kpis.punctuality_rate(
        kpis.observed_vs_scheduled(wh, SERVICE_DATE)).collect()[0]["n"]


def _uncached_n(spark, wh) -> int:
    spark.catalog.clearCache()
    return _punctual_n(wh)


def _jobs(sc, action) -> int:
    group = f"kpi-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delay_fact_is_reused(own_wh, spark):
    sc = spark.sparkContext
    first = _jobs(sc, lambda: _punctual_n(own_wh))
    again = kpis.observed_vs_scheduled(own_wh, SERVICE_DATE)
    assert again.storageLevel.useMemory
    assert _jobs(sc, lambda: kpis.punctuality_rate(again).collect()) < first


def test_delay_fact_sees_session_writes(own_wh, spark):
    before = _punctual_n(own_wh)
    feed = parse_feed_json(spark.createDataFrame(
        [(s,) for s in fixtures_gtfs.make_feed_snapshots(1)],
        "feed_json string"))
    _, stops = flatten_trip_updates(feed)
    own_wh.append_epoch("bronze", "trip_stop_times", stops, 1)
    assert refresh_silver(own_wh)["trip_stop_times_silver"] > 0
    after = _punctual_n(own_wh)
    assert after > before
    assert after == _uncached_n(spark, own_wh)


def test_delay_fact_sees_writes_from_outside_the_session(own_wh, spark):
    before = _punctual_n(own_wh)
    # another process appends: a copy of a part file lands next to the
    # originals, and Spark is not told
    table = own_wh.path("silver", "trip_stop_times_silver")
    part = max((f for f in os.listdir(table) if f.endswith(".parquet")),
               key=lambda f: os.path.getsize(os.path.join(table, f)))
    shutil.copy(os.path.join(table, part),
                os.path.join(table, "part-99999-outside.parquet"))
    after = _punctual_n(own_wh)
    assert after > before
    assert after == _uncached_n(spark, own_wh)


def test_silver_write_frees_the_cached_fact(own_wh, spark):
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    held = persisted()
    kpis.observed_vs_scheduled(own_wh, SERVICE_DATE).count()
    fact = persisted() - held
    assert fact
    own_wh.append("silver", "trip_stop_times_silver", spark.createDataFrame(
        [("6444367-0_R_99",)], "trip_id string"))
    assert not fact & persisted()


def _python_fact(wh) -> list[tuple]:
    """The delay fact as a nested-loop join over the silver rows: the
    same (trip, seq) if RT has a seq, else the same (trip, stop)."""
    midnight = calendar.timegm(SERVICE_DATE.timetuple())  # session UTC

    def secs(t):
        m = t is not None and re.fullmatch(r"(\d+):(\d{2}):(\d{2})", t)
        return int(m[1]) * 3600 + int(m[2]) * 60 + int(m[3]) if m else None

    sched = []
    for r in wh.table("silver", "stop_times_static_silver").collect():
        s = secs(r.arrival_time if r.arrival_time is not None
                 else r.departure_time)
        if s is not None:
            sched.append((r.trip_id, r.stop_sequence, r.stop_id, midnight + s))
    out = []
    for r in wh.table("silver", "trip_stop_times_silver").collect():
        observed = (r.arrival_time if r.arrival_time is not None
                    else r.departure_time)
        if observed is None or r.trip_id is None:
            continue
        for trip, seq, stop, sched_epoch in sched:
            if trip != r.trip_id:
                continue
            if (seq == r.stop_sequence if r.stop_sequence is not None
                    else r.stop_id is not None and stop == r.stop_id):
                out.append((r.trip_id,
                            r.stop_sequence if r.stop_sequence is not None
                            else seq,
                            r.stop_id if r.stop_id is not None else stop,
                            observed, sched_epoch, observed - sched_epoch))
    return sorted(out, key=repr)


def test_delay_fact_equals_a_python_join(own_wh, spark):
    trip, seq, stop = (own_wh.table("silver", "stop_times_static_silver")
                       .where(F.col("arrival_time").isNotNull())
                       .select("trip_id", "stop_sequence", "stop_id")
                       .orderBy("trip_id", "stop_sequence").first())
    epoch = 2_000_000_000  # after every fixture event
    own_wh.append("silver", "trip_stop_times_silver", spark.createDataFrame(
        [(trip, 999, stop, epoch),    # a seq that matches nothing:
                                      # no fallback to the stop
         (trip, None, stop, epoch + 1),  # no seq: joins on the stop
         (trip, None, None, epoch + 2)],  # neither key: dropped
        "trip_id string, stop_sequence long, stop_id string, "
        "arrival_time long"))
    fact = kpis.observed_vs_scheduled(own_wh, SERVICE_DATE)
    got = sorted((tuple(r) for r in fact.collect()), key=repr)
    want = _python_fact(own_wh)
    assert got == want
    mine = [r for r in got if r[0] == trip and r[3] >= epoch]
    assert [(r[1], r[2], r[3]) for r in mine] == [(seq, stop, epoch + 1)]


def test_delay_fact_on_unchanged_silver_is_the_same_frame(own_wh, spark):
    sc = spark.sparkContext
    first = kpis.observed_vs_scheduled(own_wh, SERVICE_DATE)
    first.count()
    again = []
    assert _jobs(sc, lambda: again.append(
        kpis.observed_vs_scheduled(own_wh, SERVICE_DATE))) == 0
    assert again[0] is first


def test_kpi_over_the_fact_is_one_job_with_no_exchange(own_wh, spark):
    fact = kpis.observed_vs_scheduled(own_wh, SERVICE_DATE)
    fact.count()  # build the cached fact
    kpi = kpis.punctuality_rate(fact)
    # the operators above the cached scan (below it, the printed
    # InMemoryRelation is the fact's own build plan)
    plan = kpi._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "Exchange" not in plan.split("InMemoryTableScan")[0]
    assert _jobs(spark.sparkContext, kpi.collect) == 1


def _counted_refresh(wh, monkeypatch, spark) -> tuple[dict, int, list]:
    """refresh_silver's appends, its Spark jobs and the tables whose
    watermark it scanned."""
    scanned = []
    inner = incremental.destination_watermark

    def destination_watermark(wh, layer, name):
        scanned.append(name)
        return inner(wh, layer, name)
    monkeypatch.setattr(incremental, "destination_watermark",
                        destination_watermark)
    out = {}
    jobs = _jobs(spark.sparkContext, lambda: out.update(refresh_silver(wh)))
    monkeypatch.setattr(incremental, "destination_watermark", inner)
    return out, jobs, scanned


def test_repeated_refresh_reuses_the_watermarks_its_loads_left(
        own_wh, spark, monkeypatch):
    # a copy is a new path: no load has handed it a watermark yet
    appended, jobs, scanned = _counted_refresh(own_wh, monkeypatch, spark)
    assert not any(appended.values())
    assert sorted(scanned) == sorted(silver.TRANSFORMS)
    assert jobs == 21  # 7 x (2 watermark jobs + isEmpty)
    appended, jobs, scanned = _counted_refresh(own_wh, monkeypatch, spark)
    assert not any(appended.values())
    assert scanned == []
    # one isEmpty per RT load; a static load whose bronze listing is
    # the recorded one runs none
    assert jobs == 3


def test_silver_file_from_outside_makes_the_load_scan_again(
        own_wh, spark, monkeypatch):
    _counted_refresh(own_wh, monkeypatch, spark)  # hand over watermarks
    name = "trip_stop_times_silver"
    table = own_wh.path("silver", name)
    part = max((f for f in os.listdir(table) if f.endswith(".parquet")),
               key=lambda f: os.path.getsize(os.path.join(table, f)))
    shutil.copy(os.path.join(table, part),
                os.path.join(table, "part-99999-outside.parquet"))
    held = own_wh.table("silver", name).count()
    feed = parse_feed_json(spark.createDataFrame(
        [(s,) for s in fixtures_gtfs.make_feed_snapshots(1)],
        "feed_json string"))
    _, stops = flatten_trip_updates(feed)
    new = own_wh.append_epoch("bronze", "trip_stop_times", stops, 1)
    appended, _, scanned = _counted_refresh(own_wh, monkeypatch, spark)
    assert scanned == [name]
    assert appended[name] == new
    assert own_wh.table("silver", name).count() == held + new
