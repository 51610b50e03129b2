"""A4: protobuf FeedMessage wire decode without bindings.

Round-trips a hand-encoded `.pb` fixture through the binaryFile source
-> parse_feed_protobuf -> flatten -> bronze -> silver and asserts the
result matches the JSON-snapshot path row for row (the reference's two
representations of the same feed, gtfs_rt_minutely.py:79 vs
exports/test.ipynb)."""

from __future__ import annotations

import json
import os

import pytest

from tp_airflow_gtfs_snowflake_spark.catalog import Warehouse
from tp_airflow_gtfs_snowflake_spark.silver import refresh_silver
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt import (
    flatten_trip_updates, flatten_vehicle_positions, parse_feed_json,
    parse_feed_protobuf,
)
from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt_pb import (
    _tag, _varint, decode_feed_message, encode_feed_message,
)

# lat/lon/bearing chosen exactly representable in float32 so the wire
# fixed32 path and the JSON double path yield identical doubles.
FEED = {
    "entity": [
        {"id": "tu-1", "trip_update": {
            "trip": {"trip_id": "T1", "route_id": "R1", "direction_id": 1},
            "stop_time_update": [
                {"stop_sequence": 1, "stop_id": "S1",
                 "arrival": {"time": 1700000000},
                 "departure": {"time": 1700000030}},
                {"stop_sequence": 2, "arrival": {"time": 1700000120}},
            ]}},
        # duplicate trip entity: header must first-win, stop rows must
        # BOTH land (gtfs_rt_minutely.py:98-100 vs :103-109)
        {"id": "tu-1-dup", "trip_update": {
            "trip": {"trip_id": "T1", "route_id": "DUP"},
            "stop_time_update": [
                {"stop_sequence": 1, "arrival": {"time": 1700000001}}]}},
        # no trip_id: no header, stop row kept with NULL trip_id
        {"id": "tu-null", "trip_update": {
            "trip": {"route_id": "R2"},
            "stop_time_update": [
                {"stop_sequence": 5, "stop_id": "S5",
                 "departure": {"time": 1700000500}}]}},
        {"id": "vp-1", "vehicle": {
            "trip": {"trip_id": "T1", "route_id": "R1"},
            "position": {"latitude": 43.5, "longitude": 7.25,
                         "bearing": 90.0},
            "vehicle": {"id": "V1"}, "stop_id": "S1",
            "timestamp": 1700000060}},
        {"id": "vp-2", "vehicle": {
            "trip": {"trip_id": "T2"},
            "position": {"latitude": 43.75, "longitude": 7.5},
            "vehicle": {"id": "V2"}, "timestamp": 1700000061}},
    ]
}


def test_decoder_roundtrip():
    assert decode_feed_message(encode_feed_message(FEED)) == FEED


def test_decoder_skips_unknown_fields():
    """Real feeds carry fields the reference never reads (header,
    alerts, delay/uncertainty...) — the decoder must skip any unknown
    field of any wire type, like a proto2 reader."""
    import struct
    noise = (
        _tag(12, 0) + _varint(12345)                    # unknown varint
        + _tag(13, 1) + struct.pack("<d", 1.5)          # unknown fixed64
        + _tag(14, 2) + _varint(3) + b"xyz"             # unknown bytes
        + _tag(15, 5) + struct.pack("<f", 2.5)          # unknown fixed32
    )
    body = encode_feed_message(FEED)
    assert decode_feed_message(noise + body + noise) == FEED


def test_decoder_rejects_truncated():
    body = encode_feed_message(FEED)
    with pytest.raises(ValueError):
        decode_feed_message(body[:-3])


def _rows(df, drop=("insert_date",)):
    cols = [c for c in df.columns if c not in drop]
    rows = [tuple(r[c] for c in cols) for r in df.select(cols).collect()]
    return sorted(rows, key=lambda t: [(v is None, v if v is not None else 0)
                                       for v in t])


def test_pb_path_matches_json_path_bronze_to_silver(spark, tmp_path):
    pb_dir = tmp_path / "pb"
    pb_dir.mkdir()
    (pb_dir / "feed_20240304_0600.pb").write_bytes(encode_feed_message(FEED))

    feeds = {
        "json": parse_feed_json(spark.createDataFrame(
            [(json.dumps(FEED),)], "feed_json string")),
        "pb": parse_feed_protobuf(
            spark,
            spark.read.format("binaryFile").load(str(pb_dir))),
    }
    silvers = {}
    for kind, feed in feeds.items():
        wh = Warehouse(spark, str(tmp_path / f"wh_{kind}"))
        wh.create_all()
        headers, stops = flatten_trip_updates(feed)
        wh.append_epoch("bronze", "trip_updates_raw", headers, 0)
        wh.append_epoch("bronze", "trip_stop_times", stops, 0)
        wh.append_epoch("bronze", "vehicle_positions_raw",
                        flatten_vehicle_positions(feed), 0)
        refresh_silver(wh)
        silvers[kind] = {
            t: _rows(wh.table("silver", t))
            for t in ("trip_updates_silver", "trip_stop_times_silver",
                      "vehicle_positions_silver")}

    assert silvers["pb"] == silvers["json"]
    # and the fixture actually exercised the tricky semantics:
    tu = silvers["pb"]["trip_updates_silver"]
    assert len(tu) == 1, "dup trip entity must not emit a second header"
    st = silvers["pb"]["trip_stop_times_silver"]
    assert len(st) == 4, "dup + null-trip entities must emit stop rows"
    assert any(r[0] is None for r in st), "null trip_id stop row dropped"
    assert len(silvers["pb"]["vehicle_positions_silver"]) == 2
