"""Minimal pure-Python protobuf wire-format decoder for the GTFS-RT
FeedMessage subset the reference reads (A4).

reference: dags/gtfs_rt_minutely.py:88-109,139-162 consume exactly
these fields of gtfs_realtime_pb2.FeedMessage; the field numbers and
wire types below come from the public gtfs-realtime.proto spec
(Apache-2.0, google/transit) — no generated bindings needed.

This is NOT a general protobuf implementation: it understands the four
standard wire types, decodes only the fields listed in the schema
tables, and skips everything else (forward-compatible, like real
proto2 readers).  It is the engine's only protobuf decoder:
sources/gtfs_rt.py's `parse_feed_protobuf` runs it on real `.pb` feed
payloads.

Output shape matches sources.gtfs_rt.FEED_MESSAGE (snake_case proto
field names, integers as JSON numbers):
a dict {"entity": [{"id", "trip_update": {...}, "vehicle": {...}}]}
with absent optional fields absent from the dict (-> NULL after
from_json), mirroring the reference's HasField guards.
"""

from __future__ import annotations

import struct
from typing import Any

# --- wire-format schema tables (field number -> (name, kind)) ---------
# kind: "str" | "uint" (varint, unsigned) | "f32" (fixed32 float)
#       | ("msg", table) nested message | ("rep", table) repeated msg

_TRIP_DESCRIPTOR = {
    1: ("trip_id", "str"),
    5: ("route_id", "str"),
    6: ("direction_id", "uint"),
}
_STOP_TIME_EVENT = {
    2: ("time", "uint"),  # POSIX seconds (int64 in the proto)
}
_STOP_TIME_UPDATE = {
    1: ("stop_sequence", "uint"),
    2: ("arrival", ("msg", _STOP_TIME_EVENT)),
    3: ("departure", ("msg", _STOP_TIME_EVENT)),
    4: ("stop_id", "str"),
}
_TRIP_UPDATE = {
    1: ("trip", ("msg", _TRIP_DESCRIPTOR)),
    2: ("stop_time_update", ("rep", _STOP_TIME_UPDATE)),
}
_POSITION = {
    1: ("latitude", "f32"),
    2: ("longitude", "f32"),
    3: ("bearing", "f32"),
}
_VEHICLE_DESCRIPTOR = {
    1: ("id", "str"),
}
_VEHICLE_POSITION = {
    1: ("trip", ("msg", _TRIP_DESCRIPTOR)),
    2: ("position", ("msg", _POSITION)),
    5: ("timestamp", "uint"),
    7: ("stop_id", "str"),
    8: ("vehicle", ("msg", _VEHICLE_DESCRIPTOR)),
}
_FEED_ENTITY = {
    1: ("id", "str"),
    3: ("trip_update", ("msg", _TRIP_UPDATE)),
    4: ("vehicle", ("msg", _VEHICLE_POSITION)),
}
_FEED_MESSAGE = {
    2: ("entity", ("rep", _FEED_ENTITY)),
}


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val & 0xFFFFFFFFFFFFFFFF, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _decode_message(buf: bytes, schema: dict) -> dict[str, Any]:
    out: dict[str, Any] = {}
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        field_no, wire = tag >> 3, tag & 0x7
        spec = schema.get(field_no)
        if wire == 0:  # varint
            val, i = _read_varint(buf, i)
            if spec and spec[1] == "uint":
                out[spec[0]] = val
        elif wire == 1:  # fixed64
            i += 8
        elif wire == 2:  # length-delimited
            ln, i = _read_varint(buf, i)
            chunk = buf[i:i + ln]
            if len(chunk) != ln:
                raise ValueError("truncated length-delimited field")
            i += ln
            if spec:
                kind = spec[1]
                if kind == "str":
                    out[spec[0]] = chunk.decode("utf-8", errors="replace")
                elif isinstance(kind, tuple):
                    tag_kind, sub = kind
                    msg = _decode_message(chunk, sub)
                    if tag_kind == "msg":
                        out[spec[0]] = msg  # last-wins, proto2 merge-lite
                    else:  # "rep"
                        out.setdefault(spec[0], []).append(msg)
        elif wire == 5:  # fixed32
            chunk = buf[i:i + 4]
            if len(chunk) != 4:
                raise ValueError("truncated fixed32 field")
            i += 4
            if spec and spec[1] == "f32":
                out[spec[0]] = struct.unpack("<f", chunk)[0]
        else:
            raise ValueError(f"unsupported wire type {wire}")
    return out


def decode_feed_message(data: bytes) -> dict[str, Any]:
    """FeedMessage bytes -> {"entity": [...]} dict (see module doc)."""
    msg = _decode_message(bytes(data), _FEED_MESSAGE)
    msg.setdefault("entity", [])
    return msg


# --- test-support encoder (the inverse, for fixtures) -----------------

def _varint(v: int) -> bytes:
    out = bytearray()
    v &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field_no: int, wire: int) -> bytes:
    return _varint(field_no << 3 | wire)


def encode_message(obj: dict[str, Any], schema: dict) -> bytes:
    """Dict -> wire bytes for the schema subset; used by tests to build
    `.pb` fixtures without protobuf bindings."""
    by_name = {name: (no, kind) for no, (name, kind) in schema.items()}
    out = bytearray()
    for name, val in obj.items():
        field_no, kind = by_name[name]
        if kind == "uint":
            out += _tag(field_no, 0) + _varint(int(val))
        elif kind == "str":
            raw = str(val).encode("utf-8")
            out += _tag(field_no, 2) + _varint(len(raw)) + raw
        elif kind == "f32":
            out += _tag(field_no, 5) + struct.pack("<f", float(val))
        else:
            tag_kind, sub = kind
            vals = val if tag_kind == "rep" else [val]
            for v in vals:
                raw = encode_message(v, sub)
                out += _tag(field_no, 2) + _varint(len(raw)) + raw
    return bytes(out)


def encode_feed_message(obj: dict[str, Any]) -> bytes:
    return encode_message(obj, _FEED_MESSAGE)
