"""Streaming GTFS-RT ingestion (SURVEY §3.4, M5).

Replaces the reference's 2-minute cron + PUT/COPY/PURGE loop
(dags/gtfs_rt_minutely.py:225-257, schedule :262):

- landing dir of minute-stamped feed snapshots (the reference's
  `exports/rt/<name>_YYYYMMDD_HHMM.csv` convention, :29-31) becomes a
  Structured Streaming *file source*;
- `PATTERN='regex'` on COPY -> `pathGlobFilter`;
- `PURGE=TRUE` exactly-once -> the streaming checkpoint (each file
  processed exactly once across restarts);
- the ExternalTaskSensor barrier (A24) disappears: the stream-static
  join with the static tables just works once they exist.

Scale: file-source listing is O(files) per trigger — at production
scale set `maxFilesPerTrigger` and archive consumed snapshots to keep
the listing bounded.  The ingest is stateless: no state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse, concurrently
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
)


def read_feed_stream(spark: SparkSession, landing_dir: str, *,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Stream of feed snapshots: one row per landed `*.json` snapshot
    file."""
    reader = (spark.readStream
              .format("text")
              .option("wholetext", "true")
              .option("pathGlobFilter", "*.json"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir).withColumnRenamed("value", "feed_json")


def start_bronze_ingest(spark: SparkSession, landing_dir: str, wh: Warehouse,
                        checkpoint_dir: str, *,
                        trigger_seconds: int | None = None,
                        available_now: bool = False,
                        max_files_per_trigger: int | None = None
                        ) -> StreamingQuery:
    """readStream(snapshots) -> flatten -> append bronze RT tables.

    Each micro-batch parses its snapshots once, then writes the three
    bronze RT tables concurrently (catalog.concurrently), in the
    stream's job group and batch properties; the batch commits only
    after all three writes have finished.

    Exactly-once semantics, honestly: the checkpoint guarantees each
    source FILE enters exactly one epoch, but foreachBatch itself is
    at-least-once — a crash during the three table writes replays the
    whole epoch.  Replay is made idempotent by append_epoch: every
    write lands under the epoch's own partition directories via dynamic
    partition overwrite, so the replay overwrites its previous
    (possibly partial) output instead of appending duplicates, and
    keeps the insert_date the first attempt stamped, so a silver load
    between the two attempts does not load the epoch twice.  This is
    the engine's equivalent of the reference's per-file COPY INTO load
    history + PURGE=TRUE one-shot loads.
    """
    feed_stream = read_feed_stream(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        """One micro-batch, on the stream's thread: parse the feed
        once, then the three bronze appends concurrently; returns (and
        the batch commits) once all three have finished."""
        # a stateless file-source query runs foreachBatch only for
        # batches with data, so there is nothing to probe.  Materialize
        # the parsed feed ONCE: the three table writes would otherwise
        # re-read and re-JSON-parse every snapshot file per write (3x
        # I/O on the hot 2-minute cadence path)
        feed = parse_feed_json(batch_df).localCheckpoint(eager=True)
        headers, stops = flatten_trip_updates(feed)
        tables = {"trip_updates_raw": headers, "trip_stop_times": stops,
                  "vehicle_positions_raw": flatten_vehicle_positions(feed)}
        concurrently(spark, lambda name: wh.append_epoch(
            "bronze", name, tables[name], epoch_id), tables)

    writer = (feed_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()

