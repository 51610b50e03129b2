"""Batch gaps-and-islands sessionization.

A session breaks where the gap between a user's consecutive events
exceeds ``gap_seconds``.  One per-user shuffle does the work (window
lag, running sum of break flags, one aggregate per session); the
registry's batch session query (b115) runs it.  The incremental
sessionizer is streaming/stateful.timed_out_user_sessions (b136), a
GroupState operator that closes a session when the event-time
watermark passes its gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def sessionize(events: DataFrame, *, user_col: str = "user",
               ts_col: str = "ts", gap_seconds: int) -> DataFrame:
    """Whole-input gaps-and-islands sessionization:
    ``(user, start_epoch, end_epoch, n)``."""
    ev = events.select(F.col(user_col).alias("user"),
                       F.col(ts_col).cast("long").alias("ts"))
    w = W.partitionBy("user").orderBy("ts")
    flagged = ev.withColumn(
        "brk", F.when(F.col("ts") - F.lag("ts").over(w) > gap_seconds, 1)
        .otherwise(0))
    sid = flagged.withColumn("sid", F.sum("brk").over(
        w.rowsBetween(W.unboundedPreceding, 0)))
    return (sid.groupBy("user", "sid")
            .agg(F.min("ts").alias("start_epoch"),
                 F.max("ts").alias("end_epoch"),
                 F.count("*").alias("n"))
            .drop("sid"))
