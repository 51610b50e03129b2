"""Parquet warehouse with BRONZE/SILVER namespaces (SURVEY §1.3-1.4).

Replaces the reference's Snowflake DDL layer
(dags/gtfs_static_daily.py:44-106, dags/gtfs_silver.py:22-120):
- CREATE TABLE IF NOT EXISTS  -> directory + empty typed parquet write
- insert_date DEFAULT CONVERT_TIMEZONE('Europe/Paris', CURRENT_TIMESTAMP())
  -> injected by the writer (Spark has no column DEFAULT on write)
- schema-on-write, never inferred.

Scale: every table is a parquet directory; appends create new files
(the reference's append-only INSERT INTO semantics,
dags/gtfs_silver.py:125-213).  The high-volume RT bronze tables are
date-partitioned BY DEFAULT (DEFAULT_PARTITION_COLS) so KPI recency
filters prune partitions instead of scanning history (README.md:139),
and sub-partitioned by ingest_epoch so streaming micro-batch replay is
idempotent (append_epoch: dynamic partition overwrite replaces exactly
the replayed epoch's files — the engine's equivalent of Snowflake's
per-file COPY load history).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tp_airflow_gtfs_snowflake_spark import schemas

LAYERS = ("bronze", "silver")

# event_date first so recency filters prune at the top directory level;
# ingest_epoch second so one micro-batch epoch maps to whole leaf dirs.
DEFAULT_PARTITION_COLS: dict[str, list[str]] = {
    "trip_updates_raw": ["event_date", "ingest_epoch"],
    "trip_stop_times": ["event_date", "ingest_epoch"],
    "vehicle_positions_raw": ["event_date", "ingest_epoch"],
}


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

    def __init__(self, spark: SparkSession, root: str,
                 partition_cols: dict[str, list[str]] | None = None):
        self.spark = spark
        self.root = root
        self.partition_cols = {**DEFAULT_PARTITION_COLS,
                               **(partition_cols or {})}

    def path(self, layer: str, name: str) -> str:
        assert layer in LAYERS, layer
        return os.path.join(self.root, layer, name)

    def _schema(self, layer: str, name: str) -> T.StructType:
        reg = schemas.BRONZE if layer == "bronze" else schemas.SILVER
        if name not in reg:
            raise KeyError(f"unknown {layer} table {name!r}")
        return reg[name]

    def exists(self, layer: str, name: str) -> bool:
        """The table directory holds a parquet file or a _SUCCESS
        marker.  Goes through the Hadoop FileSystem API, so a
        file://, hdfs:// or s3a:// root answers like a local path."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path(layer, name))
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs.isDirectory(p) and any(
            f.getPath().getName().endswith(".parquet")
            or f.getPath().getName() == "_SUCCESS"
            for f in fs.listStatus(p))

    def create_if_not_exists(self, layer: str, name: str) -> None:
        """CREATE TABLE IF NOT EXISTS: write an empty, fully-typed
        parquet footprint so downstream reads see the schema.  For
        partitioned tables the empty write goes through partitionBy so
        no root-level data file ever conflicts with the hive-style
        partition directories appends create later."""
        if not self.exists(layer, name):
            empty = self.spark.createDataFrame([], self._schema(layer, name))
            writer = empty.write.mode("overwrite")
            parts = self.partition_cols.get(name)
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(self.path(layer, name))

    def create_all(self) -> None:
        for name in schemas.BRONZE:
            self.create_if_not_exists("bronze", name)
        for name in schemas.SILVER:
            self.create_if_not_exists("silver", name)

    def table(self, layer: str, name: str) -> DataFrame:
        return self.spark.read.schema(self._schema(layer, name)).parquet(
            self.path(layer, name))

    def append(self, layer: str, name: str, df: DataFrame,
               stamp_insert_date: bool = True) -> int:
        """Append with schema alignment + insert_date injection (A8/A9/A23).

        Columns are matched by name and cast to the declared type
        (mirrors the reference's positional COPY column list +
        Snowflake implicit casts); missing columns become NULL.
        Creates the table if it does not exist.  Returns the rows
        written, counted by the write job (COPY's "rows loaded").
        """
        out, obs = _observe_rows(
            self._aligned(layer, name, df, stamp_insert_date))
        writer = out.write.mode("append")
        parts = self.partition_cols.get(name)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.path(layer, name))
        return obs.get["rows"]

    def _aligned(self, layer: str, name: str, df: DataFrame,
                 stamp_insert_date: bool = True) -> DataFrame:
        schema = self._schema(layer, name)
        cols = []
        for field in schema.fields:
            if field.name == "insert_date" and stamp_insert_date \
                    and "insert_date" not in df.columns:
                cols.append(paris_now().alias("insert_date"))
            elif field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        out = df.select(*cols)
        # partition key for the RT tables: derive from the ingestion
        # timestamp when the caller didn't supply one (README.md:139
        # recency pruning wants a date, whatever the write path)
        if "event_date" in schema.fieldNames() \
                and "event_date" not in df.columns:
            out = out.withColumn("event_date", F.to_date("insert_date"))
        return out

    def append_epoch(self, layer: str, name: str, df: DataFrame,
                     epoch_id: int) -> int:
        """Idempotent micro-batch append: rows are stamped with
        `ingest_epoch` and written with DYNAMIC partition overwrite, so
        a replayed epoch (foreachBatch is at-least-once after a crash
        mid-batch) overwrites exactly its own partition directories
        instead of duplicating rows.  Requires ingest_epoch among the
        table's partition columns.  Returns the rows written, counted
        by the write job; an empty frame writes no file."""
        parts = self.partition_cols.get(name) or []
        if "ingest_epoch" not in parts:
            raise ValueError(
                f"append_epoch needs ingest_epoch in partition_cols of "
                f"{name!r}; got {parts}")
        out, obs = _observe_rows(self._aligned(
            layer, name,
            df.withColumn("ingest_epoch", F.lit(int(epoch_id)).cast("long"))))
        # Midnight-replay hole: event_date defaults to wall-clock
        # paris_now(), so a crash-replay of epoch N after midnight
        # writes under a DIFFERENT event_date — dynamic overwrite
        # would then leave the first attempt's files alive and the
        # epoch duplicated.  Drop any existing directory of THIS
        # epoch under another event_date before writing (a bounded
        # directory listing: dates x one subdir check).  Goes through
        # the Hadoop FileSystem API (like _delete_vacated_partitions)
        # so the replay guarantee holds on any table path scheme, not
        # just the local filesystem.
        table_path = self.path(layer, name)
        if parts == ["event_date", "ingest_epoch"]:
            spark = out.sparkSession
            jvm = spark._jvm
            root = jvm.org.apache.hadoop.fs.Path(table_path)
            fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(root):
                for st in fs.listStatus(root):
                    if not st.isDirectory() or not \
                            st.getPath().getName().startswith("event_date="):
                        continue
                    stale = jvm.org.apache.hadoop.fs.Path(
                        st.getPath(), f"ingest_epoch={int(epoch_id)}")
                    if fs.exists(stale):
                        fs.delete(stale, True)
        (out.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*parts)
         .parquet(table_path))
        return obs.get["rows"]

    def register_views(self, prefix: str = "") -> None:
        """Register every existing table as a temp view so the SQL API
        (spark.sql) can address the catalog (A8)."""
        for layer in LAYERS:
            reg = schemas.BRONZE if layer == "bronze" else schemas.SILVER
            for name in reg:
                if self.exists(layer, name):
                    self.table(layer, name).createOrReplaceTempView(
                        f"{prefix}{name}")


def write_bucketed(df: DataFrame, table_name: str, *, bucket_col: str,
                   n_buckets: int = 32,
                   sorted_within: bool = True) -> None:
    """Materialize df as a bucketed (and optionally sorted) catalog
    table: co-locates rows by hash(bucket_col) at WRITE time so later
    equi-joins and aggregations on that key need no Exchange — the
    'pay the shuffle once' strategy for fact tables that are joined on
    the same key query after query (stop_times ⋈ trips at 100 TB).

    Bucketing metadata lives in the session catalog (saveAsTable);
    path-based reads of the same files will NOT see it.
    """
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sorted_within:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").mode("overwrite").saveAsTable(table_name)


def write_range_layout(df: DataFrame, path: str, *, sort_col: str,
                       n_ranges: int = 32,
                       extra_sort: list[str] | None = None) -> None:
    """Materialize df range-partitioned AND sorted on `sort_col`:
    `repartitionByRange` (one sampled range shuffle) then
    `sortWithinPartitions`, so every output file covers a disjoint
    key range with tight parquet min/max footer stats.

    This is the data-layout half of scan performance at 100 TB: a
    later `WHERE sort_col BETWEEN a AND b` skips every row group whose
    stats miss the range — the engine-agnostic equivalent of
    clustering keys / Z-ordering on a single dimension.  Unlike
    write_bucketed this is pure path-based parquet: any reader gets
    the skipping for free from footer stats, no catalog needed.
    """
    out = df.repartitionByRange(n_ranges, F.col(sort_col))
    out = out.sortWithinPartitions(sort_col, *(extra_sort or []))
    out.write.mode("overwrite").parquet(path)


def compact_parquet(spark: SparkSession, src_path: str, dst_path: str, *,
                    target_mb: int = 128,
                    sort_within: list[str] | None = None) -> int:
    """Small-file compaction (the lakehouse OPTIMIZE primitive): read a
    parquet directory fragmented by streaming/incremental appends and
    rewrite it as ceil(bytes / target_mb) right-sized files.  Returns
    the output file count.

    Listing and task-scheduling cost at 100 TB is driven by FILE COUNT,
    not bytes — a bronze table taking one file per micro-batch epoch
    accumulates millions of tiny files that stall every downstream
    scan.  Compaction is a full rewrite, so it pairs with the
    partition-scoped patterns (incremental_rollup_refresh overwrites
    only touched partitions; run compaction per partition the same
    way).  Uses coalesce (no shuffle) — file sizes stay approximate;
    pass sort_within to restore clustering while the data is in hand.
    """
    import glob as _glob

    total = sum(os.path.getsize(f) for f in
                _glob.glob(os.path.join(src_path, "**", "*.parquet"),
                           recursive=True))
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    out = df.coalesce(n_out)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.mode("overwrite").parquet(dst_path)
    return n_out


def zorder_key(cols: list[Column], *, bits: int = 16) -> Column:
    """Morton/Z-order key: interleave the low `bits` bits of each
    (non-negative integer) column so rows close in ANY dimension land
    close in the 1-D sort order.  Pure bit arithmetic — a narrow JVM
    expression, no UDF.

    Callers quantize first (e.g. epoch-day, bucketed id): the key only
    sees `bits` bits per dimension, so map each column onto
    [0, 2^bits) for full resolution."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} dims x {bits} bits exceeds a signed long")
    parts = []
    for d, c in enumerate(cols):
        v = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        # spread bit b of dimension d to output position b*n + d
        parts.extend(
            v.bitwiseAND(F.lit(1 << b))
             .cast("long").__mul__(F.lit(1 << (b * (n - 1) + d)))
            for b in range(bits))
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def write_zorder_layout(df: DataFrame, path: str, *,
                        zorder_cols: list[str],
                        n_ranges: int = 32, bits: int = 16) -> None:
    """Multi-dimensional clustering: range-partition + sort on the
    Morton key of `zorder_cols`, so parquet footer min/max stats stay
    tight on EVERY z-ordered column at once — a filter on any one of
    them skips most files.  The single-dimension write_range_layout
    gives perfect pruning on one column and none on the others;
    Z-ordering trades a little per-column tightness for usable pruning
    on all of them (the standard lakehouse OPTIMIZE ZORDER BY layout).
    """
    z = zorder_key([F.col(c) for c in zorder_cols], bits=bits)
    out = (df.withColumn("__z", z)
           .repartitionByRange(n_ranges, F.col("__z"))
           .sortWithinPartitions("__z")
           .drop("__z"))
    out.write.mode("overwrite").parquet(path)


def _part_member(col: Column, values, lit=F.lit) -> Column:
    """NULL-safe partition membership: `col.isin([...])` evaluates to
    NULL (never true) for rows whose partition value is NULL, so the
    NULL partition would silently escape every rewrite.

    ``lit`` lets callers supply typed literals (e.g. cast to the
    inferred partition dtype) so the IN-list never relies on implicit
    string coercion — required for guaranteed partition pruning."""
    non_null = [v for v in values if v is not None]
    cond = (col.isin([lit(v) for v in non_null]) if non_null
            else F.lit(False))
    if any(v is None for v in values):
        cond = cond | col.isNull()
    return cond


def _part_dir(spark: SparkSession, table_path: str,
              partition_col: str, value) -> "object":
    """Hadoop Path of a partition directory with HIVE-STYLE escaping:
    Spark percent-encodes special characters in partition dir names
    ('a:b' -> 'a%3Ab') and stores NULL as __HIVE_DEFAULT_PARTITION__ —
    a raw f-string of the value targets a directory that does not
    exist and the delete silently no-ops."""
    jvm = spark._jvm
    if value is None:
        name = "__HIVE_DEFAULT_PARTITION__"
    else:
        name = jvm.org.apache.spark.sql.catalyst.catalog \
            .ExternalCatalogUtils.escapePathName(str(value))
    return jvm.org.apache.hadoop.fs.Path(
        f"{table_path}/{partition_col}={name}")


def _delete_vacated_partitions(spark: SparkSession, table_path: str,
                               partition_col: str, vacated) -> None:
    """Remove partition directories whose every row moved or was
    erased (dynamic overwrite only rewrites partitions present in the
    output frame)."""
    for v in vacated:
        path = _part_dir(spark, table_path, partition_col, v)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(path, True)


def erase_keys(spark: SparkSession, table_path: str, *, key_col: str,
               keys: list, partition_col: str) -> dict:
    """Right-to-erasure (GDPR art. 17) as a SURGICAL partition
    rewrite: find the partitions that actually contain the doomed
    keys (one pruned scan), anti-join ONLY those partitions' rows,
    and dynamic-partition-overwrite them back.  Untouched partition
    directories keep their files byte-for-byte (pinned by
    tests/test_incremental_rollup.py's byte-stability pattern), so
    at 100 TB an erasure of one user's rows costs O(partitions
    containing that user), not a table rewrite — the same touched-
    partition discipline as incremental_rollup_refresh.

    Returns {"partitions_rewritten": n, "rows_erased": n}."""
    df = spark.read.parquet(table_path)
    doomed = [k for k in keys]
    hit_parts = [r[partition_col] for r in
                 (df.filter(F.col(key_col).isin(doomed))
                  .select(partition_col).distinct().collect())]
    if not hit_parts:
        return {"partitions_rewritten": 0, "rows_erased": 0}
    affected = df.filter(_part_member(F.col(partition_col), hit_parts))
    # NULL keys: `key IN (...)` is NULL for NULL keys, so a bare
    # negation would silently DROP null-keyed rows from the rewritten
    # partitions (round-3 advice).  Keep them explicitly — only rows
    # that positively match a doomed key are erased.
    erased = affected.filter(F.col(key_col).isin(doomed)).count()
    kept = affected.filter((~F.col(key_col).isin(doomed))
                           | F.col(key_col).isNull())
    kept = kept.localCheckpoint(eager=True)  # sever from the files
    (kept.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col)
     .parquet(table_path))
    # dynamic overwrite only touches partitions present in `kept`: a
    # partition whose every row was erased must be deleted explicitly
    # or the doomed files would survive.
    still = {r[partition_col] for r in
             kept.select(partition_col).distinct().collect()}
    _delete_vacated_partitions(spark, table_path, partition_col,
                               set(hit_parts) - still)
    return {"partitions_rewritten": len(hit_parts),
            "rows_erased": int(erased)}


def merge_replace(spark: SparkSession, table_path: str,
                  updates: DataFrame, *, key_col: str,
                  partition_col: str) -> dict:
    """Delta-style MERGE (match on key -> replace row, else insert)
    as a SURGICAL partition rewrite — the write-side twin of
    erase_keys: only partitions that receive updated or inserted rows
    are rewritten; every other partition directory keeps its files
    byte-for-byte.  At 100 TB an upsert batch costs O(partitions
    touched by the batch), never a table rewrite.

    Complements operators/incremental.py's merge_upsert (latest-wins
    by an order stamp, reads only the partitions PRESENT IN the
    updates — which silently strands a stale row if a key changes
    partition): this variant LOCATES each matched key's current
    partition with a pruned scan and vacates it, so a key moving
    partitions is deleted from the old one and written to the new one
    (both count as touched).  `updates` must carry the full table
    schema.  Matching is whole-row replacement, the SCD1 semantics
    (b38 builds SCD2 interval history when you need the audit trail
    instead).

    Returns {"partitions_rewritten": n, "rows_updated": n,
    "rows_inserted": n}."""
    df = spark.read.parquet(table_path)
    up = updates.localCheckpoint(eager=True)  # read twice + keys twice
    if up.filter(F.col(key_col).isNull()).limit(1).count():
        # a NULL merge key matches nothing and would silently insert
        # unmatchable rows — refuse loudly instead
        raise ValueError(f"merge_replace: NULL {key_col!r} in updates")
    up_keys = [r[key_col] for r in
               up.select(key_col).distinct().collect()]
    # touched = partitions where a matched key currently lives (the
    # delete side) + partitions the update rows land in (the write
    # side).  Matched keys, their partitions, and the update count
    # come from ONE filtered aggregation (three separate actions
    # re-planned and re-ran the pruned scan each time); collect_set
    # drops NULLs, so NULL-partition residency is counted explicitly.
    m = (df.filter(F.col(key_col).isin(up_keys))
         .agg(F.collect_set(key_col).alias("mk"),
              F.collect_set(partition_col).alias("op"),
              F.sum(F.when(F.col(partition_col).isNull(), 1)
                    .otherwise(0)).alias("null_part"),
              F.count("*").alias("nu")).first())
    matched = set(m["mk"] or [])
    old_parts = set(m["op"] or [])
    if (m["null_part"] or 0) > 0:
        old_parts.add(None)
    new_parts = {r[partition_col] for r in
                 up.select(partition_col).distinct().collect()}
    # None is not orderable against strings/dates — sort NULL first
    touched = sorted(old_parts | new_parts,
                     key=lambda v: (v is not None, str(v)))
    n_updated = int(m["nu"] or 0)
    kept = (df.filter(_part_member(F.col(partition_col), touched))
            .filter((~F.col(key_col).isin(up_keys))
                    | F.col(key_col).isNull()))
    out = kept.unionByName(up.select(*df.columns))
    out = out.localCheckpoint(eager=True)  # sever from source files
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col)
     .parquet(table_path))
    # a touched partition whose rows ALL moved elsewhere must be
    # deleted explicitly (dynamic overwrite only rewrites partitions
    # present in `out`)
    still = {r[partition_col] for r in
             out.select(partition_col).distinct().collect()}
    _delete_vacated_partitions(spark, table_path, partition_col,
                               set(touched) - still)
    n_inserted = (up.count() if not matched
                  else up.filter(~F.col(key_col)
                                 .isin(list(matched))).count())
    return {"partitions_rewritten": len(touched),
            "rows_updated": int(n_updated),
            "rows_inserted": int(n_inserted)}


def compact_partitions(spark: SparkSession, table_path: str, *,
                       partition_col: str, max_files: int = 4,
                       target_mb: int = 128) -> dict:
    """In-place partition-scoped OPTIMIZE: find partitions fragmented
    past ``max_files`` parquet files, rewrite ONLY those as
    ceil(bytes/target_mb) right-sized files via dynamic partition
    overwrite, and leave every other partition's files byte-for-byte
    untouched (the incremental_rollup_refresh touched-partition
    discipline applied to layout maintenance).

    This is the missing half of :func:`compact_parquet` for streaming
    tables: bronze accumulates one file per micro-batch epoch per
    partition, and at 100 TB compaction must be surgical — a full
    rewrite of a petabyte table to fix yesterday's 400 tiny files is
    not a plan.  Data is localCheckpoint'ed before the overwrite of
    its own directory (same hazard as merge_replace).

    Returns {"partitions_compacted": n, "files_before": n,
    "files_after": n} for the touched partitions.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    frag: dict[str, tuple[int, int]] = {}  # dirname -> (n_files, bytes)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(
                f"{partition_col}="):
            continue
        files = [f for f in fs.listStatus(st.getPath())
                 if f.getPath().getName().endswith(".parquet")]
        if len(files) > max_files:
            frag[name] = (len(files), sum(f.getLen() for f in files))
    if not frag:
        return {"partitions_compacted": 0, "files_before": 0,
                "files_after": 0}
    df = spark.read.parquet(table_path)
    # _unescape_part_value always yields a string, but the parquet
    # read infers typed partition columns (int/date); an un-cast
    # string literal would make both the filter semantics and —
    # critically — partition PRUNING depend on implicit coercion.
    # Pruning must be guaranteed here: without it, iteration N+1
    # scans the stale file index and hits part files iteration N's
    # dynamic overwrite already deleted (FileNotFoundException
    # mid-compaction).  Cast every literal to the column's dtype.
    part_type = df.schema[partition_col].dataType

    def _typed(value):
        return F.lit(value).cast(part_type)

    values = [_unescape_part_value(spark, d.split("=", 1)[1])
              for d in frag]
    touched = df.filter(
        _part_member(F.col(partition_col), values, lit=_typed))
    files_after = 0
    # per-partition coalesce widths differ, so write partition by
    # partition: the touched set is small by construction and each
    # write is one job over one directory
    for dirname, (n_files, nbytes) in sorted(frag.items()):
        value = _unescape_part_value(spark, dirname.split("=", 1)[1])
        n_out = max(1, -(-nbytes // (target_mb * 1024 * 1024)))
        part_df = (touched.filter(
            F.col(partition_col).eqNullSafe(_typed(value)))
            .coalesce(n_out)
            .localCheckpoint(eager=True))
        (part_df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col)
         .parquet(table_path))
        files_after += n_out
    return {"partitions_compacted": len(frag),
            "files_before": sum(n for n, _ in frag.values()),
            "files_after": files_after}


def _unescape_part_value(spark: SparkSession, name: str):
    """Inverse of the hive-style escaping in _part_dir (NULL dirs map
    back to None)."""
    if name == "__HIVE_DEFAULT_PARTITION__":
        return None
    return spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.unescapePathName(name)
