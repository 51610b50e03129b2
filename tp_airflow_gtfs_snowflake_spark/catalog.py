"""Parquet warehouse with BRONZE/SILVER namespaces (SURVEY §1.3-1.4).

Replaces the reference's Snowflake DDL layer
(dags/gtfs_static_daily.py:44-106, dags/gtfs_silver.py:22-120):
- CREATE TABLE IF NOT EXISTS  -> directory + empty typed parquet write
- insert_date DEFAULT CONVERT_TIMEZONE('Europe/Paris', CURRENT_TIMESTAMP())
  -> injected by the writer (Spark has no column DEFAULT on write)
- schema-on-write, never inferred.

Every table is a parquet directory; appends create new files (the
reference's append-only INSERT INTO semantics,
dags/gtfs_silver.py:125-213).  The layout comes from the schema: a
table whose schema has `ingest_epoch` (the three RT bronze tables) is
partitioned by it, one directory per streaming micro-batch epoch, so
replay is idempotent (append_epoch: dynamic partition overwrite
replaces exactly the replayed epoch's files — the engine's equivalent
of Snowflake's per-file COPY load history).  Every other table is
unpartitioned.
"""

from __future__ import annotations

import functools
import os
import posixpath
import re
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tp_airflow_gtfs_snowflake_spark import schemas

LAYERS = ("bronze", "silver")


def paris_now() -> F.Column:
    """Europe/Paris wall-clock 'now' as TIMESTAMP_NTZ — the engine
    equivalent of the reference's column DEFAULT
    (gtfs_static_daily.py:58, gtfs_silver.py:15)."""
    return F.from_utc_timestamp(F.current_timestamp(), "Europe/Paris").cast(
        T.TimestampNTZType())


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """df with a row count attached to its next action: the write job
    itself counts what it writes, so no second pass re-reads the data
    and the count cannot disagree with the files."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


# one Hadoop FileStatus.toString(): path, isDirectory, length (files
# only), ..., modification_time, ... (access_time is left out: a read
# moves it)
_STATUS = re.compile(r"path=(.*?); isDirectory=(true|false)"
                     r"(?:; length=(\d+))?.*?; modification_time=(-?\d+)")


@functools.cache
def _hadoop_classes(jvm) -> tuple:
    """Path and ArrayUtils, resolved once per JVM: each dotted lookup
    through the py4j view is a round trip per name segment."""
    return (jvm.org.apache.hadoop.fs.Path,
            jvm.org.apache.commons.lang3.ArrayUtils)


def list_dir(spark: SparkSession,
             path: str) -> tuple[tuple[str, bool, int, int], ...] | None:
    """The entries directly under directory `path` as sorted (name,
    is_dir, length, modification_time) tuples, or None when `path` is
    not a directory.

    Goes through the Hadoop FileSystem API, so a file://, hdfs:// or
    s3a:// root answers like a local path, and crosses into the JVM a
    fixed number of times whatever the number of files: the whole
    listing comes back as one string (FileStatus.toString of every
    entry).  It reads no data and runs no Spark job, so comparing two
    listings is the cheap "did anyone write here" check."""
    path_cls, array_utils = _hadoop_classes(spark._jvm)
    p = path_cls(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.isDirectory(p):
        return None
    statuses = fs.listStatus(p)
    text = array_utils.toString(statuses)
    entries = tuple(sorted(
        (posixpath.basename(m[1]), m[2] == "true", int(m[3] or 0),
         int(m[4]))
        for m in _STATUS.finditer(text)))
    # a FileStatus subclass printing another format would make a table
    # look empty, and create_if_not_exists overwrite it
    if len(entries) != len(statuses):
        raise RuntimeError(f"cannot parse the listing of {path}: {text[:300]}")
    return entries


def concurrently(spark: SparkSession, fn: Callable,
                 items: Iterable) -> list:
    """Run fn(item) once per item, all at once, one thread each, and
    return the results in input order.

    For a pipeline step's independent table writes: each write is its
    own Spark job, and jobs submitted from separate threads run side by
    side, where one thread would queue them behind each other while
    cores sit idle.

    Each call first installs its own clone of the caller's Spark local
    properties, read in the caller's thread: the jobs run in the
    caller's job group (a streaming query's run id, a tracer's span)
    with its batch properties, and a job group one call sets stays
    that call's.  (`pyspark.inheritable_thread_target` clones once per
    wrapped function, so every call would share, and overwrite, one
    Properties object.)

    Waits for every call before returning or raising, so no write is
    still running when the step ends; on failure, re-raises the first
    failure in input order.
    """
    items = list(items)
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties()

    def call(item, own_props):
        jsc.setLocalProperties(own_props)
        return fn(item)

    with ThreadPoolExecutor(max_workers=max(1, len(items))) as pool:
        futures = [pool.submit(call, item, props.clone()) for item in items]
    return [f.result() for f in futures]


class Warehouse:
    """create-if-not-exists parquet tables + typed reads + appends."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, name: str) -> str:
        assert layer in LAYERS, layer
        return os.path.join(self.root, layer, name)

    def _schema(self, layer: str, name: str) -> T.StructType:
        reg = schemas.BRONZE if layer == "bronze" else schemas.SILVER
        if name not in reg:
            raise KeyError(f"unknown {layer} table {name!r}")
        return reg[name]

    def _parts(self, layer: str, name: str) -> list[str]:
        """The table's partition columns: ingest_epoch when its schema
        has that column, none otherwise."""
        fields = self._schema(layer, name).fieldNames()
        return ["ingest_epoch"] if "ingest_epoch" in fields else []

    def exists(self, layer: str, name: str) -> bool:
        """The table directory holds a parquet file or a _SUCCESS
        marker (one `list_dir`)."""
        return any(f.endswith(".parquet") or f == "_SUCCESS"
                   for f, *_ in list_dir(self.spark, self.path(layer, name))
                   or ())

    def create_if_not_exists(self, layer: str, name: str) -> None:
        """CREATE TABLE IF NOT EXISTS: write an empty, fully-typed
        parquet footprint so downstream reads see the schema.  For
        partitioned tables the empty write goes through partitionBy so
        no root-level data file ever conflicts with the hive-style
        partition directories appends create later."""
        if not self.exists(layer, name):
            empty = self.spark.createDataFrame([], self._schema(layer, name))
            (empty.write.mode("overwrite")
             .partitionBy(*self._parts(layer, name))
             .parquet(self.path(layer, name)))

    def create_all(self) -> None:
        for name in schemas.BRONZE:
            self.create_if_not_exists("bronze", name)
        for name in schemas.SILVER:
            self.create_if_not_exists("silver", name)

    def table(self, layer: str, name: str) -> DataFrame:
        return self.spark.read.schema(self._schema(layer, name)).parquet(
            self.path(layer, name))

    def append(self, layer: str, name: str, df: DataFrame) -> int:
        """Append with schema alignment + insert_date injection (A8/A9/A23).

        Columns are matched by name and cast to the declared type
        (mirrors the reference's positional COPY column list +
        Snowflake implicit casts); missing columns become NULL, and a
        frame without insert_date is stamped with paris_now().
        Creates the table if it does not exist.  Returns the rows
        written, counted by the write job (COPY's "rows loaded").
        A table partitioned by ingest_epoch (RT bronze) is written only
        through append_epoch.
        """
        if self._parts(layer, name):
            raise ValueError(
                f"{name!r} is partitioned by ingest_epoch: write it "
                f"with append_epoch")
        out, obs = _observe_rows(self._aligned(layer, name, df))
        out.write.mode("append").parquet(self.path(layer, name))
        return obs.get["rows"]

    def _aligned(self, layer: str, name: str, df: DataFrame) -> DataFrame:
        cols = []
        for field in self._schema(layer, name).fields:
            if field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            elif field.name == "insert_date":
                cols.append(paris_now().alias("insert_date"))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return df.select(*cols)

    def append_epoch(self, layer: str, name: str, df: DataFrame,
                     epoch_id: int) -> int:
        """Idempotent micro-batch append: rows are stamped with
        `ingest_epoch` and written with DYNAMIC partition overwrite, so
        a replayed epoch (foreachBatch is at-least-once after a crash
        mid-batch) overwrites exactly its own `ingest_epoch=N`
        directory instead of duplicating rows.  A replay also keeps the
        insert_date its epoch's first attempt stamped (read back from
        the epoch's files, the one extra job a replay runs), so a
        silver load that ran between the two attempts does not load
        the epoch again; rows that bring their own insert_date keep
        it.  Requires ingest_epoch in the table's schema.  Returns the
        rows written, counted by the write job; an empty frame writes
        no file."""
        parts = self._parts(layer, name)
        if not parts:
            raise ValueError(
                f"append_epoch needs an ingest_epoch column in the "
                f"schema of {name!r}")
        epoch = F.lit(int(epoch_id)).cast("long")
        if "insert_date" not in df.columns and any(
                is_dir and f == f"ingest_epoch={int(epoch_id)}"
                for f, is_dir, *_ in list_dir(
                    self.spark, self.path(layer, name)) or ()):
            stamped = (self.table(layer, name)
                       .filter(F.col("ingest_epoch") == epoch)
                       .agg(F.max("insert_date")).collect()[0][0])
            if stamped is not None:  # a zone-free string cast
                df = df.withColumn("insert_date", F.lit(
                    stamped.isoformat(" ")).cast(T.TimestampNTZType()))
        out, obs = _observe_rows(self._aligned(
            layer, name, df.withColumn("ingest_epoch", epoch)))
        (out.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*parts)
         .parquet(self.path(layer, name)))
        return obs.get["rows"]
