"""High-watermark incremental append (A21/A22) and keyed merges.

reference: every silver load shares
  INSERT INTO dst SELECT ... FROM src
  WHERE src.insert_date > COALESCE((SELECT MAX(insert_date) FROM dst),
                                   '1900-01-01'::TIMESTAMP_NTZ)
(dags/gtfs_silver.py:125-213).

A load appends only source rows newer than the destination's
MAX(insert_date) watermark (the filter pushes down to the source
scan).  Each load hands the next one its watermark: after its write it
records the destination's file listing with max(old watermark,
max insert_date written), the max observed by the write job itself.
The next load lists the destination (no Spark job) and, when the
listing is the recorded one, uses the recorded watermark; when an
unpartitioned source's listing is also the one recorded with it, the
load appends 0 without reading the source at all.  Any other
destination listing (a new process, a write from outside the session
or straight into silver) falls back to destination_watermark, a scan
of the whole insert_date column: parquet is a V1 source here
(spark.sql.sources.useV1SourceList) and
spark.sql.parquet.aggregatePushdown is off, so the plan is
Scan parquet [insert_date] -> HashAggregate -> Exchange SinglePartition
-> HashAggregate, two jobs, not a footer-statistics lookup.  Restart
safety comes from the append-only watermark monotonicity: a crashed
run re-appends nothing already visible, exactly like the reference.

merge_upsert (latest-wins keyed MERGE) and retraction_apply_batch (a
grouped aggregate maintained under upserts) back the registry's
incremental-maintenance queries.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.catalog import (
    Warehouse, _observe_rows, list_dir)

EPOCH_FLOOR = dt.datetime(1900, 1, 1)  # '1900-01-01'::TIMESTAMP_NTZ

# destination path -> (its listing after the last load, the watermark
# that load left, its source's listing when unpartitioned, else None).
# Module-level: a Warehouse object lives no longer than a refresh, the
# handover must outlive it.
_handover: dict[str, tuple] = {}


def destination_watermark(wh: Warehouse, layer: str,
                          name: str) -> dt.datetime:
    """(SELECT MAX(insert_date) FROM dst) — scalar agg over a scan of
    the destination's whole insert_date column (no aggregate pushdown
    into parquet row-group statistics; see the module docstring).
    incremental_append runs it only when the destination's listing is
    not the one its last load recorded."""
    if not wh.exists(layer, name):
        return EPOCH_FLOOR
    row = wh.table(layer, name).agg(
        F.max("insert_date").alias("wm")).collect()[0]
    return row["wm"] or EPOCH_FLOOR


def incremental_append(
    wh: Warehouse,
    src_name: str,
    dst_name: str,
    transform: Callable[[DataFrame], DataFrame] | None,
) -> int:
    """Append transform(rows of bronze src_name newer than the silver
    dst's insert_date watermark) to silver dst_name.

    Returns the number of appended rows, counted by the write job.
    `transform` is the declarative silver select-list, or None to
    append the source's columns (the append keeps the ones the
    destination's schema declares); the watermark filter is applied
    on the *source* before the transform so Catalyst pushes it into
    the source scan.

    The source's listing, taken before it is read, decides two things
    without a read.  A source with no files yet (no RT snapshot has
    landed) appends 0.  An unpartitioned source's listing (the static
    tables) is recorded with the watermark, and when both it and the
    destination's listing are the recorded ones the load appends 0
    without a job.  A partitioned source (RT bronze, by ingest_epoch)
    is always probed: its root lists epoch directories, which a
    replay rewrites inside without changing the root listing.

    The watermark is the one the last load into dst_name recorded when
    the destination's file listing is still the one it recorded, and a
    destination_watermark scan otherwise (module docstring).  That
    relies on one writer per table, as merge_upsert states: a second
    writer racing this load between its write and its listing would
    have its rows taken for this load's.
    """
    src_listing = list_dir(wh.spark, wh.path("bronze", src_name))
    if not src_listing:
        return 0
    if wh._parts("bronze", src_name):
        src_listing = None
    path = wh.path("silver", dst_name)
    listing = list_dir(wh.spark, path)
    held = _handover.get(path)
    if held is not None and held[0] == listing:
        wm = held[1]
        if src_listing is not None and held[2] == src_listing:
            return 0
    else:
        wm = destination_watermark(wh, "silver", dst_name)
    out = wh.table("bronze", src_name).filter(
        F.col("insert_date") > F.lit(wm))
    if transform is not None:
        out = transform(out)
    # an empty append still writes a schema-only part file into an
    # unpartitioned table, so a no-op refresh must not write at all;
    # isEmpty stops at the first row of the pushed-down scan
    if out.isEmpty():
        _handover[path] = (listing, wm, src_listing)
        return 0
    # DELIBERATE DEVIATION: carry the BRONZE insert_date into
    # silver (the transform keeps it, so append does not stamp).  The
    # reference's silver INSERTs omit insert_date, so the column
    # DEFAULT stamps silver-load time (gtfs_silver.py:126-213) — but
    # then a bronze row committed between a silver run's watermark
    # read and its insert could be skipped forever (watermark already
    # advanced past it).  Keying the watermark on the carried bronze
    # timestamp removes that missed-row race; consumers reading silver
    # insert_date get bronze-ingest recency, not silver-load recency.
    written = Observation()  # observed after isEmpty: the write fills it
    rows = wh.append("silver", dst_name, out.observe(
        written, F.max("insert_date").alias("wm")))
    _handover[path] = (list_dir(wh.spark, path),
                       max(wm, written.get["wm"] or wm), src_listing)
    return rows


def _holds_parquet(spark, path: str) -> bool:
    """`path` holds a parquet data file at some partition depth: the
    keyed merges' first-build test.  Lists through `list_dir` (one
    listing per directory level), as `Warehouse.exists` does, and
    reads nothing, so a failed read or analysis of a table that exists
    propagates instead of passing for a first build (which would
    overwrite the table, or skip retractions).  A table written from
    zero rows with partitionBy holds no data file, so it counts as not
    built yet."""
    for name, is_dir, *_ in list_dir(spark, path) or ():
        if name.startswith(("_", ".")):  # _SUCCESS, _temporary, .crc
            continue
        if (_holds_parquet(spark, f"{path.rstrip('/')}/{name}") if is_dir
                else name.endswith(".parquet")):
            return True
    return False


def merge_upsert(
    spark,
    updates: DataFrame,
    table_path: str,
    *,
    key_cols: list[str],
    order_col: str,
    partition_col: str | None = None,
) -> int:
    """Latest-wins keyed MERGE into a path-based parquet table (the
    UPDATE-by-key half the append-only loaders can't express — what
    MERGE INTO does on a transactional table format, built from
    primitives so it needs none).

    Rows with the same key collapse to the one with the highest
    `order_col` (use an ingest stamp; it must be unique per key for
    the winner to be well-defined).  With `partition_col` set, only
    partitions present in `updates` are read and rewritten (dynamic
    partition overwrite) — at 100 TB a trickle of updates rewrites
    the handful of dates it touches, never the table.  The merge
    itself is one hash aggregation on the keys: max_by(payload,
    order) — no window sort.

    NOT atomic across concurrent writers (parquet has no transaction
    log); single-writer-per-table is the operating contract, same as
    the reference's serialized loader DAGs.  Returns the number of
    rows written (with `partition_col`, the rows of the touched
    partitions), counted by the write job itself.
    """
    if _holds_parquet(spark, table_path):
        existing = spark.read.parquet(table_path)
        if partition_col:
            touched = [r[0] for r in
                       updates.select(partition_col).distinct().collect()]
            existing = existing.filter(F.col(partition_col).isin(touched))
        combined = existing.unionByName(updates)
    else:  # first build
        combined = updates
    payload = [c for c in combined.columns if c not in key_cols]
    merged, obs = _observe_rows(
        combined.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*payload), F.col(order_col)).alias("_p"))
        .select(*key_cols, "_p.*"))

    writer = merged.write
    if partition_col:
        writer = (writer.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy(partition_col))
    else:
        writer = writer.mode("overwrite")
    writer.parquet(table_path)
    return obs.get["rows"]


def retraction_apply_batch(
    spark,
    updates: DataFrame,
    *,
    ustate_path: str,
    adj_path: str,
    epoch_id: int,
    key_col: str = "user_id",
    group_col: str = "event_type",
    value_col: str = "value_cents",
    order_col: str = "ord",
) -> None:
    """Apply one micro-batch of latest-wins upserts to an incrementally
    maintained grouped aggregate WITH RETRACTIONS (the streaming-matview
    delta algebra; the streaming twin of b158's batch form, value-
    oracled across a restart by b161).

    State: ``ustate_path`` holds latest-per-key rows (maintained by
    `merge_upsert`); ``adj_path`` is an epoch-partitioned ±adjustment
    log — the served view is the SUMMED LOG, never recomputed from
    user state.  Per batch: collapse the batch to latest-per-key (one
    hash agg), join ONCE against the state, and for each key whose
    batch row strictly wins emit a retraction of the old contribution
    (possibly from a DIFFERENT group) plus an addition of the new one.

    At-least-once replay safety (the crash window between the two
    writes): on redelivery of an already-applied batch, every batch
    row compares EQUAL to the state's order key, the strict ``>``
    win predicate excludes it, the winners frame is EMPTY — and a
    dynamic-partition-overwrite of zero rows touches no partitions,
    so the original epoch's adjustment rows survive intact while the
    latest-wins upsert is idempotent by construction.  (Pinned by
    tests/test_round12.py::test_retraction_batch_replay_is_noop.)
    """
    if updates.isEmpty():
        return
    blat = (updates.groupBy(key_col)
            .agg(F.max_by(F.struct(group_col, value_col),
                          F.col(order_col)).alias("_n"),
                 F.max(order_col).alias(order_col))
            .select(key_col, order_col,
                    F.col(f"_n.{group_col}").alias("new_grp"),
                    F.col(f"_n.{value_col}").alias("new_val")))
    if _holds_parquet(spark, ustate_path):
        old = (spark.read.parquet(ustate_path)
               .select(key_col,
                       F.col(group_col).alias("old_grp"),
                       F.col(value_col).alias("old_val"),
                       F.col(order_col).alias("old_ord")))
        winners = (blat.join(old, key_col, "left")
                   .filter(F.col("old_ord").isNull()
                           | (F.col(order_col) > F.col("old_ord"))))
    else:  # first batch
        winners = (blat
                   .withColumn("old_grp", F.lit(None).cast("string"))
                   .withColumn("old_val", F.lit(None).cast("long")))
    winners = winners.localCheckpoint(eager=False)  # feeds both branches
    retract = (winners.filter(F.col("old_grp").isNotNull())
               .select(F.col("old_grp").alias(group_col),
                       F.lit(-1).cast("long").alias("d_users"),
                       (-F.col("old_val")).alias("d_cents")))
    add = (winners
           .select(F.col("new_grp").alias(group_col),
                   F.lit(1).cast("long").alias("d_users"),
                   F.col("new_val").alias("d_cents")))
    # adjustment log first (epoch-keyed dynamic overwrite)...
    (retract.unionByName(add)
     .withColumn("ingest_epoch", F.lit(int(epoch_id)).cast("long"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_epoch").parquet(adj_path))
    # ...then the keyed state upsert (idempotent latest-wins)
    merge_upsert(spark,
                 blat.select(key_col,
                             F.col("new_grp").alias(group_col),
                             F.col("new_val").alias(value_col),
                             order_col),
                 ustate_path, key_cols=[key_col], order_col=order_col)
