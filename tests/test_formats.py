"""Reader behaviour the pipeline relies on: parquet schema merging,
CSV malformed-row modes, and file-stream offsets."""

from __future__ import annotations

import pytest


def test_merge_schema_across_evolving_parquet(spark, tmp_path):
    """Schema evolution on read: batches written before/after a column
    was added must union under mergeSchema (the b53 unionByName
    reconciliation, done by the scan itself)."""
    old = spark.createDataFrame([(1, "a")], "id long, v string")
    new = spark.createDataFrame([(2, "b", 9)], "id long, v string, extra long")
    old.write.parquet(str(tmp_path / "t" / "batch=1"))
    new.write.parquet(str(tmp_path / "t" / "batch=2"))
    got = (spark.read.option("mergeSchema", "true")
           .parquet(str(tmp_path / "t")).orderBy("id").collect())
    assert [r["extra"] for r in got] == [None, 9]
    assert len(got[0].asDict()) == 4  # id, v, extra, batch


@pytest.mark.parametrize("mode,expect", [
    ("PERMISSIVE", 3), ("DROPMALFORMED", 2)])
def test_csv_malformed_row_modes(spark, tmp_path, mode, expect):
    """COPY ON_ERROR semantics, natively: PERMISSIVE keeps malformed
    rows (nulled + captured in _corrupt_record), DROPMALFORMED drops
    them, FAILFAST (below) aborts — the three Snowflake ON_ERROR
    postures (reference dags/gtfs_static_daily.py COPY options)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    p = tmp_path / "in.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = StructType([StructField("id", LongType()),
                         StructField("qty", LongType()),
                         StructField("_corrupt_record", StringType())])
    df = (spark.read.schema(schema).option("header", "true")
          .option("mode", mode)
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(str(p)))
    rows = df.collect()
    assert len(rows) == expect
    if mode == "PERMISSIVE":
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 1 and bad[0]["qty"] is None
        assert "notanumber" in bad[0]["_corrupt_record"]


def test_csv_failfast_aborts(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n")
    df = (spark.read.schema("id long, qty long")
          .option("header", "true").option("mode", "FAILFAST")
          .csv(str(p)))
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        df.collect()


def test_stream_offsets_survive_deletion_of_emitted_files(
        spark, tmp_path):
    """Name-based offsets: deleting already-emitted snapshots must not
    re-emit or skip anything (a positional index would shift)."""
    import os

    from tp_airflow_gtfs_snowflake_spark.sources.py_datasource import (
        GtfsRtSnapshotStreamReader)

    land = tmp_path / "landing"
    land.mkdir()
    for n in ("vp_202401010001.json", "vp_202401010002.json"):
        (land / n).write_text("{}")
    r = GtfsRtSnapshotStreamReader({"path": str(land)})
    o0, o1 = r.initialOffset(), r.latestOffset()
    batch1 = [os.path.basename(p.filepath)
              for p in r.partitions(o0, o1)]
    assert batch1 == ["vp_202401010001.json", "vp_202401010002.json"]
    r.commit(o1)
    # retention deletes the oldest emitted file; two new files land
    os.remove(land / "vp_202401010001.json")
    for n in ("vp_202401010003.json", "vp_202401010004.json"):
        (land / n).write_text("{}")
    o2 = r.latestOffset()
    batch2 = [os.path.basename(p.filepath)
              for p in r.partitions(o1, o2)]
    assert batch2 == ["vp_202401010003.json", "vp_202401010004.json"]


def test_stream_max_files_per_batch_caps_progress(spark, tmp_path):
    import os

    from tp_airflow_gtfs_snowflake_spark.sources.py_datasource import (
        GtfsRtSnapshotStreamReader)

    land = tmp_path / "landing"
    land.mkdir()
    for i in range(5):
        (land / f"vp_20240101000{i}.json").write_text("{}")
    r = GtfsRtSnapshotStreamReader({"path": str(land),
                                    "maxFilesPerBatch": "2"})
    o0 = r.initialOffset()
    o1 = r.latestOffset()          # first call: uncapped (no floor)
    r.partitions(o0, o1)           # plan it -> floor = o1
    for n in ("vp_202401010005.json", "vp_202401010006.json",
              "vp_202401010007.json"):
        (land / n).write_text("{}")
    o2 = r.latestOffset()          # capped: 2 of the 3 pending
    batch = [os.path.basename(p.filepath)
             for p in r.partitions(o1, o2)]
    assert batch == ["vp_202401010005.json", "vp_202401010006.json"]


def test_stream_offset_never_regresses_below_committed(spark, tmp_path):
    """ADVICE r04: after a restart (fresh reader, _floor=None) an
    emptied or retention-pruned landing dir must not make latestOffset
    report an offset BELOW the checkpointed watermark — Spark would
    commit the lower offset and still-present older files would be
    re-emitted as duplicates on later triggers."""
    import os

    from tp_airflow_gtfs_snowflake_spark.sources.py_datasource import (
        GtfsRtSnapshotStreamReader)

    land = tmp_path / "landing"
    land.mkdir()
    (land / "vp_202401010005.json").write_text("{}")
    committed = {"last": "vp_202401010005.json"}

    # restart: fresh reader; retention deleted the newest file so the
    # listing's max is now BELOW the committed watermark
    r = GtfsRtSnapshotStreamReader({"path": str(land)})
    # Spark replans the restart batch first: partitions(committed, ...)
    # must seed the floor from the checkpointed start
    r.partitions(committed, committed)
    os.remove(land / "vp_202401010005.json")
    (land / "vp_202401010001.json").write_text("{}")  # older name
    o = r.latestOffset()
    assert o["last"] >= committed["last"]
    # and the older still-present file is never re-admitted
    assert r.partitions(committed, o) == []

    # same with an EMPTY dir
    os.remove(land / "vp_202401010001.json")
    assert r.latestOffset()["last"] == committed["last"]
