"""Streaming RT path: exactly-once file ingest across restarts (A7
semantics via checkpoint), late/duplicate micro-batch behavior
(SURVEY §5.2 item 4), the timer-driven gap sessionizer and streaming
KMV state."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests import fixtures_gtfs
from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.streaming.rt_stream import (
    read_feed_stream, start_bronze_ingest)


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


T0_US = 1_709_532_000_000_000  # 2024-03-04 06:00:00 UTC
S_US = 1_000_000


def _land_user_events(spark, landing: str, rows) -> None:
    """Land one parquet file of ``(user_id, ts)`` events; ``rows`` are
    ``(user_id, ts_us)`` pairs."""
    (spark.createDataFrame(rows, "user_id long, ts_us long")
     .select("user_id", F.timestamp_micros("ts_us").alias("ts"))
     .coalesce(1).write.mode("append").parquet(landing))


def _user_sessions_to_memory(spark, landing: str, name: str, ckpt: str):
    """timed_out_user_sessions (gap 300 s) over the parquet files in
    ``landing``, appended to the memory table ``name``."""
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_user_sessions)
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(landing))
    out = timed_out_user_sessions(stream, gap_seconds=300,
                                  watermark="5 seconds")
    return (out.writeStream.outputMode("append").format("memory")
            .queryName(name).option("checkpointLocation", ckpt).start())


def test_timed_out_session_emission(spark, tmp_path):
    """EventTimeTimeout timers: sessions are emitted exactly once,
    when the watermark crosses last_event+gap — idle keys are closed
    by OTHER traffic advancing the watermark."""
    landing = str(tmp_path / "landing")
    # batch 1: user 0 twice, user 1 once
    _land_user_events(spark, landing, [
        (0, T0_US), (0, T0_US + 60 * S_US), (1, T0_US)])
    q = _user_sessions_to_memory(spark, landing, "timeout_sessions",
                                 str(tmp_path / "ckpt_t"))
    q.processAllAvailable()
    # batch 2: unrelated user 9 an hour later -> advances the watermark
    _land_user_events(spark, landing, [(9, T0_US + 3600 * S_US)])
    q.processAllAvailable()
    # batch 3: timers fire with the batch-2 watermark (event-time
    # timeouts use the watermark computed from the PREVIOUS batch)
    _land_user_events(spark, landing, [(9, T0_US + 3700 * S_US)])
    q.processAllAvailable()
    q.stop()

    rows = {r.user_id: r for r in
            spark.sql("SELECT * FROM timeout_sessions").collect()}
    assert set(rows) == {0, 1}  # user 9's session still open
    assert rows[0].session_start_us == T0_US
    assert rows[0].session_end_us == T0_US + 60 * S_US
    assert rows[0].n_events == 2
    assert rows[1].n_events == 1


def test_timed_out_session_intra_batch_gap_split(spark, tmp_path):
    """Events for one key arriving in the SAME micro-batch but > gap
    apart (the availableNow/backlog catch-up shape) must yield two
    sessions — the first closed by in-batch data, not silently merged
    into the carried state (round-3 advice regression)."""
    landing = str(tmp_path / "landing")
    # ONE batch: user 0 has a burst at t0..t0+60, then a second burst
    # a full hour later (>> gap) — backlog catch-up in a single batch.
    _land_user_events(spark, landing, [
        (0, T0_US), (0, T0_US + 60 * S_US),
        (0, T0_US + 3600 * S_US), (0, T0_US + 3660 * S_US)])
    q = _user_sessions_to_memory(spark, landing, "gap_split",
                                 str(tmp_path / "ckpt_g"))
    q.processAllAvailable()
    # advance the watermark so the SECOND session's timer fires too
    _land_user_events(spark, landing, [(9, T0_US + 8000 * S_US)])
    q.processAllAvailable()
    _land_user_events(spark, landing, [(9, T0_US + 8100 * S_US)])
    q.processAllAvailable()
    q.stop()

    rows = sorted(
        (r for r in spark.sql("SELECT * FROM gap_split").collect()
         if r.user_id == 0),
        key=lambda r: r.session_start_us)
    assert [(r.session_start_us, r.session_end_us, r.n_events)
            for r in rows] == [
        (T0_US, T0_US + 60 * S_US, 2),
        (T0_US + 3600 * S_US, T0_US + 3660 * S_US, 2)]


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
    """The gap merge of the timeout sessionizer:
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
    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_user_sessions)

    t0_us = T0_US
    gap_us = 300 * S_US
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        _land_user_events(spark, landing, rows)

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
    this fails first and the clamp in
    stateful.timed_out_user_sessions must revert to `<=`."""
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
