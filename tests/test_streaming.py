"""Streaming RT path: exactly-once file ingest across restarts (A7
semantics via checkpoint), watermarked windowed aggregation, and
late/duplicate micro-batch behavior (SURVEY §5.2 item 4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests import fixtures_gtfs
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.streaming.rt_stream import (
    read_feed_stream, start_bronze_ingest, windowed_position_counts,
)


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return d


def _partition_dirs(wh, table: str) -> set[str]:
    root = wh.path("bronze", table)
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}


def _write_snapshot(landing, name: str, payload: str) -> None:
    p = landing / name
    tmp = landing / (name + ".tmp")
    tmp.write_text(payload)
    os.rename(tmp, p)  # atomic move, file-source-safe


def test_exactly_once_across_restart(spark, tmp_path, landing):
    snaps = fixtures_gtfs.make_feed_snapshots(3)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for t in ("trip_updates_raw", "trip_stop_times", "vehicle_positions_raw"):
        wh.create_if_not_exists("bronze", t)
    ckpt = str(tmp_path / "ckpt")

    _write_snapshot(landing, "tu_202403040600.json", snaps[0])
    q = start_bronze_ingest(spark, str(landing), wh, ckpt, available_now=True)
    q.awaitTermination(120)
    n1 = wh.table("bronze", "trip_stop_times").count()
    assert n1 > 0

    # restart with same checkpoint + one NEW file: only the new file
    # is processed (PURGE=TRUE equivalence), old one never replayed
    _write_snapshot(landing, "tu_202403040602.json", snaps[1])
    q = start_bronze_ingest(spark, str(landing), wh, ckpt, available_now=True)
    q.awaitTermination(120)
    n2 = wh.table("bronze", "trip_stop_times").count()
    assert n2 > n1

    # third restart, no new files -> zero new rows
    q = start_bronze_ingest(spark, str(landing), wh, ckpt, available_now=True)
    q.awaitTermination(120)
    assert wh.table("bronze", "trip_stop_times").count() == n2

    # non-matching file ignored by pathGlobFilter (COPY PATTERN)
    _write_snapshot(landing, "ignore_me.csv", "not json")
    q = start_bronze_ingest(spark, str(landing), wh, ckpt, available_now=True)
    q.awaitTermination(120)
    assert wh.table("bronze", "trip_stop_times").count() == n2

    # one directory per micro-batch epoch, and no other level
    assert _partition_dirs(wh, "trip_stop_times") == {
        "ingest_epoch=0", "ingest_epoch=1"}
    for t in ("trip_updates_raw", "vehicle_positions_raw"):
        assert all(d.startswith("ingest_epoch=")
                   for d in _partition_dirs(wh, t))


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the three bronze
    writes replays the whole epoch.  append_epoch must make the replay
    overwrite its own partition, not duplicate rows — including the
    partial-write case and a replay whose rows carry the next day's
    insert_date."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_if_not_exists("bronze", "vehicle_positions_raw")
    rows = spark.createDataFrame(
        [("T1", "R1", "V1", 43.5, 7.25, 90.0, "S1", 1700000000),
         ("T2", "R1", "V2", 43.6, 7.26, 10.0, "S2", 1700000060)],
        "trip_id string, route_id string, vehicle_id string, "
        "latitude double, longitude double, bearing double, "
        "stop_id string, timestamp_epoch long")
    # each write returns the rows it wrote: the replay's, not the
    # table's
    assert wh.append_epoch("bronze", "vehicle_positions_raw", rows,
                           epoch_id=7) == 2
    assert wh.table("bronze", "vehicle_positions_raw").count() == 2

    # full replay of the same epoch: count unchanged
    assert wh.append_epoch("bronze", "vehicle_positions_raw", rows,
                           epoch_id=7) == 2
    assert wh.table("bronze", "vehicle_positions_raw").count() == 2

    # a replay with FEWER rows than the first attempt wrote: the end
    # state is the replay's rows, not the union
    assert wh.append_epoch("bronze", "vehicle_positions_raw",
                           rows.limit(1), epoch_id=7) == 1
    assert wh.table("bronze", "vehicle_positions_raw").count() == 1

    # a different epoch appends
    assert wh.append_epoch("bronze", "vehicle_positions_raw", rows,
                           epoch_id=8) == 2
    assert wh.table("bronze", "vehicle_positions_raw").count() == 3

    # a replay after midnight: epoch 9 replays with rows stamped the
    # next day, and the epoch still holds only the replay's rows
    def stamped(df, ts):
        return df.withColumn("insert_date",
                             F.lit(ts).cast("timestamp_ntz"))
    assert wh.append_epoch("bronze", "vehicle_positions_raw",
                           stamped(rows, "2024-01-01 23:59:00"),
                           epoch_id=9) == 2
    assert wh.append_epoch("bronze", "vehicle_positions_raw",
                           stamped(rows.limit(1), "2024-01-02 00:01:00"),
                           epoch_id=9) == 1
    got = wh.table("bronze", "vehicle_positions_raw")
    assert [str(r["insert_date"]) for r in
            got.filter("ingest_epoch = 9").collect()] == [
        "2024-01-02 00:01:00"]
    assert got.count() == 4
    assert got.filter(F.col("ingest_epoch").isNull()).count() == 0
    # the layout is one directory per epoch, with no date level
    assert _partition_dirs(wh, "vehicle_positions_raw") == {
        "ingest_epoch=7", "ingest_epoch=8", "ingest_epoch=9"}


def test_windowed_counts_with_watermark(spark, landing, tmp_path):
    snaps = fixtures_gtfs.make_feed_snapshots(3)
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_20240304060{i}.json", s)
    stream = read_feed_stream(spark, str(landing))
    agg = windowed_position_counts(stream, window="5 minutes",
                                   watermark="10 minutes")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("vp_windows")
         .option("checkpointLocation", str(tmp_path / "ckpt2")).start())
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM vp_windows")
    rows = out.collect()
    assert rows and all(r.n_reports >= r.n_vehicles >= 1 for r in rows)
    # fixture snapshots include out-of-order timestamps (up to 4 min
    # early) -> they still land in their event-time window
    total = sum(r.n_reports for r in rows)
    assert total == 36  # 12 vehicles x 3 snapshots


def test_session_windows_per_vehicle(spark, landing, tmp_path):
    snaps = fixtures_gtfs.make_feed_snapshots(3)  # 2 min apart
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_20240304060{i}.json", s)
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        sessionized_vehicle_activity)
    stream = read_feed_stream(spark, str(landing))
    agg = sessionized_vehicle_activity(stream, gap="10 minutes",
                                       watermark="15 minutes")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("vp_sessions")
         .option("checkpointLocation", str(tmp_path / "ckpt_s")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM vp_sessions").collect()
    # 6 distinct vehicle ids (V0..V5), reports 2 min apart with a 10 min
    # gap -> exactly ONE session per vehicle spanning all its reports
    assert len(rows) == 6
    assert sum(r.n_reports for r in rows) == 36
    assert all(r.session_end > r.session_start for r in rows)


def test_stream_dedup_within_watermark(spark, landing, tmp_path):
    snaps = fixtures_gtfs.make_feed_snapshots(1)
    # same snapshot content re-delivered as two different files
    _write_snapshot(landing, "vp_202403040600.json", snaps[0])
    _write_snapshot(landing, "vp_202403040600_redelivery.json", snaps[0])
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        deduped_position_reports)
    stream = read_feed_stream(spark, str(landing))
    dedup = deduped_position_reports(stream, watermark="15 minutes")
    q = (dedup.writeStream.outputMode("append").format("memory")
         .queryName("vp_dedup")
         .option("checkpointLocation", str(tmp_path / "ckpt_d")).start())
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT vehicle_id, timestamp_epoch FROM vp_dedup")
    total = out.count()
    distinct = out.distinct().count()
    assert total == distinct  # re-delivered reports dropped
    # one snapshot has 12 reports but duplicate (vehicle,ts) pairs can
    # occur within it too; dedup keeps exactly the distinct set
    assert 1 <= total <= 12


def test_vehicle_odometer_state_across_batches(spark, landing, tmp_path):
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        vehicle_odometer)
    snaps = fixtures_gtfs.make_feed_snapshots(2)

    # One continuous query; files landed between processAllAvailable()
    # calls arrive as separate micro-batches, so per-vehicle state must
    # carry across them.  (The memory sink cannot restart from a
    # checkpoint, so cross-restart recovery is covered by
    # test_exactly_once_across_restart instead.)
    stream = read_feed_stream(spark, str(landing))
    q = (vehicle_odometer(stream).writeStream
         .outputMode("update").format("memory").queryName("vp_odo")
         .option("checkpointLocation", str(tmp_path / "ckpt_o")).start())

    def snapshot_state():
        # update-mode memory sink appends each batch's updated rows;
        # the latest state per vehicle is the max report count.
        rows = spark.sql(
            "SELECT vehicle_id, max(n_reports) AS n_reports, "
            "max(path_degrees) AS path_degrees "
            "FROM vp_odo GROUP BY vehicle_id").collect()
        return {r.vehicle_id: r for r in rows}

    _write_snapshot(landing, "vp_202403040600.json", snaps[0])
    q.processAllAvailable()
    first = snapshot_state()
    assert len(first) == 6  # V0..V5
    assert all(r.n_reports >= 1 for r in first.values())

    _write_snapshot(landing, "vp_202403040602.json", snaps[1])
    q.processAllAvailable()
    q.stop()
    second = snapshot_state()
    for vid, r in second.items():
        assert r.n_reports > first[vid].n_reports
        assert r.path_degrees >= first[vid].path_degrees


def test_stream_static_dimension_join(spark, landing, tmp_path):
    """A24's sensor barrier disappears in the engine: a stream-static
    join against the routes dimension enriches RT rows as soon as the
    static table exists — the dim is re-read per micro-batch (picking
    up daily static refreshes) and broadcast, no state store."""
    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
        flatten_vehicle_positions, parse_feed_json)
    routes = spark.createDataFrame(
        [(f"R{i}", f"Ligne {i}") for i in range(fixtures_gtfs.N_ROUTES)],
        "route_id string, route_long_name string")
    snaps = fixtures_gtfs.make_feed_snapshots(2)
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_20240304060{i}.json", s)
    vp = flatten_vehicle_positions(
        parse_feed_json(read_feed_stream(spark, str(landing))))
    enriched = vp.join(F.broadcast(routes), "route_id", "left")
    q = (enriched.writeStream.outputMode("append").format("memory")
         .queryName("vp_enriched")
         .option("checkpointLocation", str(tmp_path / "ckpt_sj")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM vp_enriched").collect()
    assert len(rows) == 24  # 12 vehicles x 2 snapshots
    assert all(r.route_long_name is not None for r in rows)
    assert all(r.route_long_name == f"Ligne {r.route_id[1:]}" for r in rows)


def test_stream_stream_join_within_window(spark, landing, tmp_path):
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        trip_position_attribution)
    snaps = fixtures_gtfs.make_feed_snapshots(3)  # 2 min apart
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_20240304060{i}.json", s)
    stream = read_feed_stream(spark, str(landing))
    joined = trip_position_attribution(stream, join_window_seconds=300)
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("vp_attrib")
         .option("checkpointLocation", str(tmp_path / "ckpt_ss")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM vp_attrib").collect()
    assert rows, "expected matches: same vehicles report 2 min apart"
    for r in rows:
        delta = (r.cur_ts - r.prev_ts).total_seconds()
        assert 0 < delta <= 300


def test_stream_stream_left_outer_emits_after_watermark(
        spark, landing, tmp_path):
    """Left-outer stream-stream join: reports with no prior fix inside
    the join window must surface with NULL prior columns — but only
    once the watermark proves no match can still arrive.  Files feed
    one per micro-batch so the watermark advances between batches and
    the eviction actually happens inside the test."""
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        trip_position_attribution)
    snaps = fixtures_gtfs.make_feed_snapshots(3)  # 2 min apart
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_20240304060{i}.json", s)
    stream = read_feed_stream(spark, str(landing), max_files_per_trigger=1)
    # 60 s window < 120 s snapshot cadence: cross-snapshot reports
    # mostly miss (per-vehicle jitter lets a few land inside), so
    # null-extended rows MUST appear once evictable
    joined = trip_position_attribution(
        stream, join_window_seconds=60, watermark="1 minute",
        how="left_outer")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("vp_outer")
         .option("checkpointLocation", str(tmp_path / "ckpt_so")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM vp_outer").collect()
    assert rows, "watermark advanced past early batches; expected emissions"
    nulls = [r for r in rows if r.prev_ts is None]
    assert nulls, "unmatched reports must surface null-extended"
    for r in rows:
        if r.prev_ts is not None:
            assert 0 < (r.cur_ts - r.prev_ts).total_seconds() <= 60


def test_timed_out_session_emission(spark, landing, tmp_path):
    """EventTimeTimeout timers: sessions are emitted exactly once,
    when the watermark crosses last_event+gap — idle keys are closed
    by OTHER traffic advancing the watermark."""
    import json

    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_sessions)

    t0 = 1709532000  # 2024-03-04 06:00:00 UTC

    def snap(entities):
        return json.dumps({"entity": entities})

    def veh(eid, vid, epoch):
        return {"id": eid, "vehicle": {
            "trip": {"trip_id": "t", "route_id": "R0"},
            "position": {"latitude": 43.7, "longitude": 7.27},
            "vehicle": {"id": vid}, "timestamp": epoch}}

    stream = read_feed_stream(spark, str(landing))
    out = timed_out_sessions(stream, gap_seconds=300,
                             watermark="5 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("vp_timeout_sessions")
         .option("checkpointLocation", str(tmp_path / "ckpt_t")).start())

    # batch 1: V0 twice, V1 once
    _write_snapshot(landing, "vp_1.json", snap(
        [veh("a", "V0", t0), veh("b", "V0", t0 + 60),
         veh("c", "V1", t0)]))
    q.processAllAvailable()
    # batch 2: unrelated V9 an hour later -> advances the watermark
    _write_snapshot(landing, "vp_2.json",
                    snap([veh("d", "V9", t0 + 3600)]))
    q.processAllAvailable()
    # batch 3: timers fire with the batch-2 watermark (event-time
    # timeouts use the watermark computed from the PREVIOUS batch)
    _write_snapshot(landing, "vp_3.json",
                    snap([veh("e", "V9", t0 + 3700)]))
    q.processAllAvailable()
    q.stop()

    rows = {r.vehicle_id: r for r in
            spark.sql("SELECT * FROM vp_timeout_sessions").collect()}
    assert set(rows) == {"V0", "V1"}  # V9's session still open
    assert rows["V0"].session_start == t0
    assert rows["V0"].session_end == t0 + 60
    assert rows["V0"].n_reports == 2
    assert rows["V1"].n_reports == 1


def test_timed_out_session_intra_batch_gap_split(spark, landing, tmp_path):
    """Events for one key arriving in the SAME micro-batch but > gap
    apart (the availableNow/backlog catch-up shape) must yield two
    sessions — the first closed by in-batch data, not silently merged
    into the carried state (round-3 advice regression)."""
    import json

    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_sessions)

    t0 = 1709532000

    def snap(entities):
        return json.dumps({"entity": entities})

    def veh(eid, vid, epoch):
        return {"id": eid, "vehicle": {
            "trip": {"trip_id": "t", "route_id": "R0"},
            "position": {"latitude": 43.7, "longitude": 7.27},
            "vehicle": {"id": vid}, "timestamp": epoch}}

    stream = read_feed_stream(spark, str(landing))
    out = timed_out_sessions(stream, gap_seconds=300,
                             watermark="5 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("vp_gap_split")
         .option("checkpointLocation", str(tmp_path / "ckpt_g")).start())

    # ONE batch: V0 has a burst at t0..t0+60, then a second burst a
    # full hour later (>> gap) — backlog catch-up in a single batch.
    _write_snapshot(landing, "vp_1.json", snap(
        [veh("a", "V0", t0), veh("b", "V0", t0 + 60),
         veh("c", "V0", t0 + 3600), veh("d", "V0", t0 + 3660)]))
    q.processAllAvailable()
    # advance the watermark so the SECOND session's timer fires too
    _write_snapshot(landing, "vp_2.json",
                    snap([veh("e", "V9", t0 + 8000)]))
    q.processAllAvailable()
    _write_snapshot(landing, "vp_3.json",
                    snap([veh("f", "V9", t0 + 8100)]))
    q.processAllAvailable()
    q.stop()

    rows = sorted(
        (r for r in spark.sql("SELECT * FROM vp_gap_split").collect()
         if r.vehicle_id == "V0"),
        key=lambda r: r.session_start)
    assert [(r.session_start, r.session_end, r.n_reports)
            for r in rows] == [(t0, t0 + 60, 2),
                               (t0 + 3600, t0 + 3660, 2)]


def test_streaming_kmv_accumulation_equals_batch(spark, landing, tmp_path):
    """Accumulated micro-batch KMV state must equal the batch sketch
    of all data — set-merge is lossless and idempotent, so replays
    cannot drift it."""
    from tp_airflow_gtfs_snowflake_spark.operators import kmv
    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
        flatten_vehicle_positions, parse_feed_json)
    from tp_airflow_gtfs_snowflake_spark.streaming.sketch_state import (
        read_sketch_state, start_kmv_accumulation)

    snaps = fixtures_gtfs.make_feed_snapshots(3)
    state_dir = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "ckpt_kmv")

    def run_available():
        stream = read_feed_stream(spark, str(landing))
        vp = flatten_vehicle_positions(parse_feed_json(stream)).select(
            F.col("trip_id").alias("g"),
            F.concat_ws("-", "vehicle_id", "timestamp_epoch")
            .alias("v"))
        q = start_kmv_accumulation(
            spark, vp, group_col="g", value_col="v",
            state_dir=state_dir, checkpoint_dir=ckpt, k=8,
            available_now=True)
        q.awaitTermination(120)

    # two snapshots in batch 1+2, a third after a restart
    _write_snapshot(landing, "vp_a.json", snaps[0])
    _write_snapshot(landing, "vp_b.json", snaps[1])
    run_available()
    _write_snapshot(landing, "vp_c.json", snaps[2])
    run_available()

    got = {r["g"]: list(r["sketch"])
           for r in read_sketch_state(spark, state_dir).collect()}

    # batch recompute over all three snapshots at once
    batch = spark.createDataFrame([(s,) for s in snaps],
                                  "feed_json string")
    vp_all = flatten_vehicle_positions(parse_feed_json(batch)).select(
        F.col("trip_id").alias("g"),
        F.concat_ws("-", "vehicle_id", "timestamp_epoch")
        .alias("v"))
    hashed = vp_all.select("g", kmv.portable_hash48(F.col("v")).alias("h"))
    want = {r["g"]: list(r["sketch"])
            for r in kmv.kmv_sketch(hashed, "g", "h", k=8).collect()}
    assert got == want and len(want) > 0


def test_stream_static_dim_refresh_between_batches(spark, landing,
                                                   tmp_path):
    """Static-dimension refresh for stream-static joins: a running
    query's plan holds the dim's RESOLVED file listing, so an
    in-place overwrite crashes it with FILE_NOT_EXIST — and even
    spark.catalog.refreshByPath cannot fix the already-analyzed
    stream (both verified while writing this test).  The robust
    daily-refresh recipe is re-resolving the dimension INSIDE
    foreachBatch: each micro-batch reads the dim fresh, so a rewrite
    between triggers enriches later batches with the new values, no
    restart."""
    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
        flatten_vehicle_positions, parse_feed_json)
    dim_dir = str(tmp_path / "routes_dim")
    out_dir = str(tmp_path / "enriched_out")

    def write_dim(ver):
        spark.createDataFrame(
            [(f"R{i}", ver) for i in range(fixtures_gtfs.N_ROUTES)],
            "route_id string, dim_ver string").write.mode("overwrite") \
            .parquet(dim_dir)

    write_dim("v1")
    snaps = fixtures_gtfs.make_feed_snapshots(2)
    vp = flatten_vehicle_positions(
        parse_feed_json(read_feed_stream(spark, str(landing))))

    def enrich(batch_df, batch_id):
        dim = F.broadcast(spark.read.parquet(dim_dir))  # fresh resolve
        (batch_df.join(dim, "route_id", "left")
         .select("route_id", "vehicle_id", "dim_ver")
         .write.mode("append").parquet(out_dir))

    q = (vp.writeStream.foreachBatch(enrich)
         .option("checkpointLocation", str(tmp_path / "ckpt_dr")).start())
    _write_snapshot(landing, "vp_a.json", snaps[0])
    q.processAllAvailable()
    write_dim("v2")  # dimension refreshed BETWEEN batches
    _write_snapshot(landing, "vp_b.json", snaps[1])
    q.processAllAvailable()
    q.stop()

    vers = [r.dim_ver for r in spark.read.parquet(out_dir).collect()]
    assert vers.count("v1") == 12 and vers.count("v2") == 12


def test_streaming_query_listener_captures_progress(spark, landing,
                                                    tmp_path):
    """Streaming observability: a StreamingQueryListener receives
    per-batch progress (rows, duration) — the hook perfbench's
    rt_stream workload reads its micro-batch latency through
    (`latency_s_p50`); listeners are where a production job exports
    lag/throughput metrics."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    seen = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append((event.progress.numInputRows,
                         event.progress.batchDuration))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        snaps = fixtures_gtfs.make_feed_snapshots(2)
        for i, s in enumerate(snaps):
            _write_snapshot(landing, f"vp_{i}.json", s)
        stream = read_feed_stream(spark, str(landing))
        q = (stream.select(F.length("feed_json").alias("n"))
             .writeStream.outputMode("append").format("memory")
             .queryName("vp_listener")
             .option("checkpointLocation", str(tmp_path / "ckpt_l"))
             .start())
        q.processAllAvailable()
        q.stop()
        for _ in range(40):  # listener delivery is asynchronous
            if any(rows > 0 for rows, _ in seen):
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    assert any(rows == 2 for rows, _ in seen)  # both snapshot files
    assert all(dur >= 0 for _, dur in seen)


def test_max_files_per_trigger_bounds_batches(spark, landing, tmp_path):
    """Ingest backpressure: maxFilesPerTrigger=1 must split an
    availableNow catch-up into one micro-batch per file — the knob
    that keeps recovery from a landing-dir backlog from loading the
    whole backlog as one giant batch."""
    snaps = fixtures_gtfs.make_feed_snapshots(3)
    for i, s in enumerate(snaps):
        _write_snapshot(landing, f"vp_{i}.json", s)
    stream = read_feed_stream(spark, str(landing),
                              max_files_per_trigger=1)
    q = (stream.select(F.length("feed_json").alias("n"))
         .writeStream.outputMode("append").format("memory")
         .queryName("vp_backpressure")
         .option("checkpointLocation", str(tmp_path / "ckpt_bp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    progress = q.recentProgress
    q.stop()
    batches = [p["numInputRows"] for p in progress
               if p["numInputRows"] > 0]
    assert batches == [1, 1, 1]  # one file per micro-batch
    assert spark.sql("SELECT count(*) c FROM vp_backpressure") \
        .collect()[0]["c"] == 3


def test_merge_gap_intervals_shared_helper():
    """The extracted gap-merge used by both timeout sessionizers:
    adjacency at exactly the gap merges, one past it splits; counts
    accumulate; input order does not matter."""
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        _merge_gap_intervals)

    iv = [[100, 110, 2], [110 + 30, 110 + 30, 1],  # == gap: merge
          [200, 200, 1], [171, 171, 1]]            # 171 -> 140+30+1: split
    got = _merge_gap_intervals(iv, 30)
    assert got == [[100, 140, 3], [171, 200, 2]]
    # order-insensitive and input not mutated
    assert _merge_gap_intervals(list(reversed(iv)), 30) == got
    assert iv[0] == [100, 110, 2]
    assert _merge_gap_intervals([], 30) == []


def test_watermark_jump_emits_stale_session_instead_of_crashing(
        spark, tmp_path):
    """Regression (r07): applyInPandasWithState does NOT drop
    below-watermark input rows, so a batch whose rows close BEFORE an
    already-advanced watermark used to register an event-time timer
    below the watermark — Spark throws INVALID_TIMEOUT_TIMESTAMP and
    the query dies (observed in the b136 driver when a sentinel and
    phase-2 files landed in adjacent polls).  The sessionizer must
    instead emit the provably-closed trailing session eagerly."""
    from pyspark.sql import functions as F

    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_user_sessions)

    t0_us = 1_709_532_000_000_000
    gap_us = 300 * 1_000_000
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        (spark.createDataFrame(rows, "user_id long, ts_us long")
         .select("user_id", F.timestamp_micros("ts_us").alias("ts"))
         .coalesce(1).write.mode("append").parquet(landing))

    def drain(max_files=None):
        reader = spark.readStream.schema("user_id long, ts timestamp")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        stream = reader.parquet(landing)
        out = timed_out_user_sessions(stream, gap_seconds=300,
                                      watermark="1 second")
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # run 1: user 1 opens a session at t0 (watermark ~ t0)
    land([(1, t0_us), (1, t0_us + 1_000_000)])
    drain()
    # run 2, ONE file per batch: batch 1 is a sentinel 100 gaps ahead
    # (the watermark jumps at its end); batch 2 carries user 2's OLD
    # rows — the late-events filter lags one batch, so they still
    # reach the handler, whose timer registration is then validated
    # against the JUMPED watermark.  The unclamped code died here
    # with INVALID_TIMEOUT_TIMESTAMP (verified: reverting the clamp
    # makes this test fail with STREAM_FAILED).
    land([(99, t0_us + 100 * gap_us)])
    import time
    time.sleep(1.1)  # distinct file modification times => batch order
    land([(2, t0_us + 2 * gap_us), (2, t0_us + 2 * gap_us + 5_000_000)])
    drain(max_files=1)
    # one more run so remaining timers (user 1) fire
    land([(99, t0_us + 101 * gap_us)])
    drain()

    rows = spark.read.parquet(sink).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # user 2's session was emitted EXACTLY once, eagerly, despite its
    # close predating the watermark
    assert len(by_user.get(2, [])) == 1
    s2 = by_user[2][0]
    assert (s2.session_start_us, s2.session_end_us, s2.n_events) == \
        (t0_us + 2 * gap_us, t0_us + 2 * gap_us + 5_000_000, 2)
    # user 1's session closed exactly once too (timer or eager path)
    assert len(by_user.get(1, [])) == 1
    assert by_user[1][0].n_events == 2


def test_timer_at_watermark_equality_is_legal():
    """Contract pin for the gap sessionizer's eager-close clamp (ADVICE
    r07): PySpark's setTimeoutTimestamp rejects only timestamps
    STRICTLY below the watermark, so the clamp must use `<` — at
    exact equality (end + gap == watermark) the timer stays legal and
    must stay armed, because a next-batch event at ts == end + gap
    passes the lagging late filter and extends the session under the
    gap<= merge rule.  If a future PySpark makes equality illegal,
    this fails first and the clamp in stateful._gap_sessions must
    revert to `<=`."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    def mk():
        return GroupState(
            optionalValue=Row(v=1),
            batchProcessingTimeMs=1_000_000,
            eventTimeWatermarkMs=500_000,
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
            hasTimedOut=False,
            watermarkPresent=True,
            defined=True,
            updated=False,
            removed=False,
            timeoutTimestamp=GroupState.NO_TIMESTAMP,
            keyAsUnsafe=b"",
            valueSchema=StructType([StructField("v", LongType())]),
        )

    state = mk()
    state.setTimeoutTimestamp(500_000)  # == watermark: legal, keeps timer
    assert state._timeout_timestamp == 500_000
    with pytest.raises(Exception, match="INVALID_TIMEOUT_TIMESTAMP"):
        mk().setTimeoutTimestamp(499_999)  # strictly below: illegal
