"""Timer-driven gap sessionization of an event stream (SURVEY M5
beyond the basics), the stateful operator b136 runs.

A session breaks where the gap between a user's consecutive events
exceeds ``gap_seconds``, the streaming twin of the batch
gaps-and-islands spec (operators/sessions.py, b29/b115).
applyInPandasWithState holds each user's open session across
micro-batches and closes it with an event-time timer
(EventTimeTimeout) once the watermark passes its gap; it runs without
the protobuf package that transformWithState needs.

Scale notes: the operator shuffles on its key exactly once per
micro-batch; state lives in the executor state store (RocksDB-backed
in production) and is bounded by the timeout, so a 1000-executor
cluster shards state by key range with no driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def _merge_gap_intervals(intervals: list[list[int]],
                         gap: int) -> list[list[int]]:
    """Merge ``[start, end, count]`` intervals whose gap to the
    previous merged interval is <= ``gap`` (all in one time unit)."""
    intervals = sorted(intervals, key=lambda iv: iv[0])
    merged: list[list[int]] = []
    for iv in intervals:
        if merged and iv[0] - merged[-1][1] <= gap:
            merged[-1][1] = max(merged[-1][1], iv[1])
            merged[-1][2] += iv[2]
        else:
            merged.append(list(iv))
    return merged


_GAP_SESSION_STATE = StructType([
    StructField("start", LongType()),
    StructField("end", LongType()),
    StructField("n", LongType()),
])


USER_SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start_us", LongType()),
    StructField("session_end_us", LongType()),
    StructField("n_events", LongType()),
])


def timed_out_user_sessions(events_stream: DataFrame, *,
                            gap_seconds: int = 1800,
                            watermark: str = "1 second") -> DataFrame:
    """TIMER-driven sessionization of a ``(user_id long, ts
    timestamp)`` event stream, at microsecond precision (so its output
    is comparable against the batch gaps-and-islands spec, b29): emits
    ``USER_SESSION_SCHEMA`` rows, one per session, exactly once.

    Each user re-arms ``setTimeoutTimestamp(end + gap)`` on every
    update; when the watermark crosses it, the callback runs with
    ``state.hasTimedOut`` and NO input rows, emits the final session,
    and clears state.  State per user is the open session, three
    longs — bounded no matter how long the session runs — and expiry
    is driven by the engine's watermark bookkeeping, not by data
    arrival for that user (an idle user's session closes because
    OTHER traffic advances the watermark, which needs a later batch
    to advance it, then one more batch to run the timers).

    Known limit (shared by every eager-emission GroupState
    sessionizer): a session closed by an IN-BATCH gap is emitted
    immediately, so a late event that would have bridged that gap —
    arriving in a later batch but inside the watermark — starts a
    new session instead of extending the emitted one.  When batches
    arrive in event-time order the emitted session set equals the
    batch gaps-and-islands sessionization exactly.
    """
    gap = gap_seconds * 1_000_000
    names = USER_SESSION_SCHEMA.fieldNames()

    def emit(key_value, sessions) -> pd.DataFrame:
        return pd.DataFrame([dict(zip(names, (key_value, s, e, c)))
                             for s, e, c in sessions])

    def fn(key_value: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            session = state.get
            state.remove()
            yield emit(key_value[0], [session])
            return
        # Gap-aware merge (round-3 advice): the timer only fires for
        # keys with NO input this batch, so events arriving in one
        # batch but > gap apart (guaranteed during availableNow /
        # backlog catch-up) must be split HERE, not folded into one
        # carried session.  Treat the carried state as an interval,
        # each event as a point interval, sort, and merge on the gap;
        # every merged session except the last is provably closed by
        # in-batch data and is emitted now, the last stays in state.
        intervals: list[list[int]] = []
        if state.exists:
            intervals.append(list(state.get))
        times: list[int] = []
        for pdf in pdfs:
            if len(pdf):
                times.extend(int(x) for x in pdf["ts_us"])
        intervals.extend([t, t, 1] for t in sorted(times))
        merged = _merge_gap_intervals(intervals, gap)
        if not merged:
            return
        *closed, (start, end, n) = merged
        # Timers are millisecond-granular: round the expiry UP so it
        # never fires a sub-millisecond fraction early.  A timer
        # STRICTLY below the current watermark is ILLEGAL to register
        # (the engine throws INVALID_TIMEOUT_TIMESTAMP — observed when
        # a batch jumps the watermark far past a session close, e.g. a
        # concurrent writer landing a sentinel in the same poll) and
        # unnecessary: the watermark already proves the trailing
        # session can never be extended, so emit it eagerly.  At exact
        # equality the timer stays legal (setTimeoutTimestamp rejects
        # only `<`, pinned by test_timer_at_watermark_equality_is_legal)
        # and must stay armed — a next-batch event at end + gap passes
        # the lagging late filter and extends the session under the
        # gap<= merge rule.
        expiry_ms = -(-(end + gap) // 1000)
        if expiry_ms < state.getCurrentWatermarkMs():
            closed.append((start, end, n))
            if state.exists:
                state.remove()
        else:
            state.update((start, end, n))
            state.setTimeoutTimestamp(expiry_ms)
        if closed:
            yield emit(key_value[0], closed)

    rows = events_stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"))
    return (rows.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn, USER_SESSION_SCHEMA, _GAP_SESSION_STATE, "append",
                GroupStateTimeout.EventTimeTimeout))
