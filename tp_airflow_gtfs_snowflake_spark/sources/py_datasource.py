"""Custom Spark 4 Python DataSource for GTFS-RT landing directories.

reference: dags/gtfs_rt_minutely.py:71-176 fetches feed snapshots and
lands them as timestamped files; every consumer then re-implements the
listing/parse glue.  Spark 4's Python DataSource API (public:
pyspark.sql.datasource, SPARK-44076) lets that glue live INSIDE the
engine as a named streaming format, so consumers just say
``spark.readStream.format("gtfs_rt_snapshots").option("path", dir)``
to tail the landing directory incrementally (b155).  Snapshots are
written with Spark's own text sink; this source only reads.

Design for scale:
- one InputPartition per snapshot file: listing happens once on the
  driver (cheap metadata), payload bytes are read ONLY inside the
  executor-side ``read`` — the driver never holds file contents.
- the streaming reader's offset is a monotone position in the
  sorted-by-name file listing (landing names embed the fetch
  timestamp, reference naming vp_YYYYMMDDHHMM.json), so restarts
  resume exactly and each file is emitted once — the same contract as
  Spark's own file source, without its per-file state log.
- rows are (path, mtime_epoch, feed_json); parsing stays in the
  shared native path (sources/gtfs_rt.parse_feed_json + flatten), so
  this source composes with every downstream query unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)

SCHEMA = "path string, mtime_epoch long, feed_json string"


def _list_snapshots(path: str, suffix: str) -> list[str]:
    """Sorted snapshot listing (name order == fetch order for the
    reference's timestamped names)."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"landing dir not found: {path}")
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(suffix))


class _SnapshotPartition(InputPartition):
    def __init__(self, filepath: str):
        self.filepath = filepath


def _read_file(filepath: str):
    with open(filepath, encoding="utf-8") as fh:
        body = fh.read()
    yield (filepath, int(os.path.getmtime(filepath)), body)


class GtfsRtSnapshotStreamReader(DataSourceStreamReader):
    """Micro-batch tail of the landing dir.  Offsets are
    {"last": basename} = the last file (in name order) already
    emitted; a landing producer must write new files with
    later-sorting names (true for timestamped names), matching the
    reference's cadence.

    NAME-based offsets on purpose: a positional index into a
    re-computed listing silently re-emits or skips files as soon as
    a retention job deletes old snapshots (the listing shifts under
    the checkpoint).  A name high-watermark is immune — deleting
    already-emitted files cannot move it.

    ``maxFilesPerBatch`` caps how far latestOffset advances past the
    last planned batch (the maxFilesPerTrigger analogue).  The first
    batch after a restart is uncapped — the reader instance cannot
    see the checkpointed start before latestOffset is called — so a
    long-idle stream's catch-up lands in one batch; documented
    trade-off of the simple reader (Spark's own file source pays a
    per-file commit log for finer resume)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.suffix = options.get("suffix", ".json")
        cap = options.get("maxFilesPerBatch")
        self.max_files = int(cap) if cap is not None else None
        self._floor: str | None = None  # last name planned/committed

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        # Never report an offset below the highest name already
        # planned/committed: after a restart a retention-pruned (or
        # emptied) landing dir would otherwise regress the offset
        # below the checkpoint, and Spark committing that lower
        # offset re-admits still-present older files as duplicates.
        floor = self._floor or ""
        names = [os.path.basename(f)
                 for f in _list_snapshots(self.path, self.suffix)]
        if not names:
            return {"last": floor}
        if self.max_files is not None and self._floor is not None:
            pending = [n for n in names if n > floor]
            if pending:
                return {"last": pending[:self.max_files][-1]}
            return {"last": floor}
        return {"last": max(names[-1], floor)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["last"], end["last"]
        # seed the floor from the checkpointed start too: on restart
        # this is the first place the reader sees the committed
        # watermark, and it must cap every later latestOffset().
        self._floor = max(self._floor or "", lo, hi)
        files = _list_snapshots(self.path, self.suffix)
        return [_SnapshotPartition(f) for f in files
                if lo < os.path.basename(f) <= hi]

    def read(self, partition: _SnapshotPartition):
        yield from _read_file(partition.filepath)

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor or "", end["last"])


class GtfsRtSnapshotDataSource(DataSource):
    """format("gtfs_rt_snapshots"): streaming reader over a landing
    directory of feed-snapshot JSON files."""

    @classmethod
    def name(cls) -> str:
        return "gtfs_rt_snapshots"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> GtfsRtSnapshotStreamReader:
        return GtfsRtSnapshotStreamReader(self.options)


def register(spark) -> None:
    """Idempotent format registration for the current session."""
    spark.dataSource.register(GtfsRtSnapshotDataSource)
