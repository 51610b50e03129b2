"""Property-based tests (SURVEY §5.2): random inputs against
independent reference implementations — the GTFS >24h time parser vs
integer arithmetic, the as-of join vs pandas merge_asof, salted
count-distinct vs the exact aggregate, and text-quality score bounds.

Each example builds ONE DataFrame for a whole batch of generated rows
(a Spark job per generated row would be minutes per test); examples
are capped low because the per-example cost is a Spark job, not a
function call.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.functions import text as T
from tp_airflow_gtfs_snowflake_spark.functions.gtfs_time import (
    gtfs_time_to_seconds)
from tp_airflow_gtfs_snowflake_spark.operators.asof import asof_join
from tp_airflow_gtfs_snowflake_spark.operators.skew import (
    salted_count_distinct)

SETTINGS = dict(max_examples=5, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 47), st.integers(0, 59),
                          st.integers(0, 59)),
                min_size=1, max_size=50))
def test_gtfs_time_parse_matches_arithmetic(spark, hms):
    rows = [(f"{h:02d}:{m:02d}:{s:02d}", h * 3600 + m * 60 + s)
            for h, m, s in hms]
    df = spark.createDataFrame(rows, "t string, expect long")
    out = df.select((gtfs_time_to_seconds(F.col("t"))
                     == F.col("expect")).alias("ok")).collect()
    assert all(r["ok"] for r in out)


@settings(**SETTINGS)
@given(st.data())
def test_asof_join_matches_pandas_merge_asof(spark, data):
    base = dt.datetime(2026, 1, 1)
    ts = st.integers(0, 10_000)
    keys = st.integers(0, 3)
    left_rows = data.draw(st.lists(st.tuples(keys, ts),
                                   min_size=1, max_size=30))
    right_rows = data.draw(st.lists(st.tuples(keys, ts),
                                    min_size=1, max_size=30))
    # unique (key, ts) on the right: with duplicates both
    # implementations tie-break arbitrarily (documented), so the
    # property quantifies over the unambiguous domain.
    right_rows = list({(k, t): (k, t) for k, t in right_rows}.values())

    left = [(i, k, base + dt.timedelta(seconds=t))
            for i, (k, t) in enumerate(left_rows)]
    right = [(k, base + dt.timedelta(seconds=t), f"p{k}_{t}")
             for k, t in right_rows]
    ldf = spark.createDataFrame(left, "lid long, k long, ts timestamp")
    rdf = spark.createDataFrame(right, "k long, ts timestamp, payload string")

    got = {r["lid"]: r["payload"]
           for r in asof_join(ldf, rdf, on=["k"], left_ts="ts",
                              right_ts="ts").collect()}

    lpd = pd.DataFrame(left, columns=["lid", "k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(right, columns=["k", "ts", "payload"]).sort_values("ts")
    merged = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    want = {int(r.lid): (None if pd.isna(r.payload) else r.payload)
            for r in merged.itertuples()}
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.sampled_from(["a", "b", "hot"]),
                          st.integers(0, 30)),
                min_size=1, max_size=200))
def test_salted_count_distinct_matches_exact(spark, rows):
    df = spark.createDataFrame(rows, "g string, u long")
    exact = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.countDistinct("u").alias("n")).collect()}
    salted = {r["g"]: r["n_distinct"] for r in salted_count_distinct(
        df, group_cols=["g"], distinct_col="u", salt_buckets=4).collect()}
    assert salted == exact


@settings(**SETTINGS)
@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=80), min_size=1, max_size=30))
def test_quality_score_bounded_or_null(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    scores = [r[0] for r in
              df.select(T.quality_score(F.col("text"))).collect()]
    for s in scores:
        assert s is None or (0.0 <= s <= 1.000001)


# --- codec/wire-format properties (pure Python, no Spark job) ---------

_token = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789._-",
                 min_size=1, max_size=12)
_maybe = lambda strat: st.none() | strat  # noqa: E731


@st.composite
def _feed_messages(draw):
    def clean(d):
        return {k: v for k, v in d.items() if v is not None}

    def stu():
        return clean({
            "stop_sequence": draw(_maybe(st.integers(0, 500))),
            "stop_id": draw(_maybe(_token)),
            "arrival": draw(_maybe(st.builds(
                lambda t: {"time": t}, st.integers(0, 2**33)))),
            "departure": draw(_maybe(st.builds(
                lambda t: {"time": t}, st.integers(0, 2**33)))),
        })

    def trip():
        return clean({
            "trip_id": draw(_maybe(_token)),
            "route_id": draw(_maybe(_token)),
            "direction_id": draw(_maybe(st.integers(0, 1))),
        })

    entities = []
    for i in range(draw(st.integers(0, 5))):
        kind = draw(st.sampled_from(["trip_update", "vehicle"]))
        if kind == "trip_update":
            body = clean({
                "trip": trip() or None,
                "stop_time_update":
                    [stu() for _ in range(draw(st.integers(0, 3)))] or None,
            })
        else:
            body = clean({
                "trip": trip() or None,
                "position": clean({
                    "latitude": draw(_maybe(st.integers(-2**22, 2**22)
                                            .map(lambda v: v / 2**10))),
                    "longitude": draw(_maybe(st.integers(-2**22, 2**22)
                                             .map(lambda v: v / 2**10))),
                    "bearing": draw(_maybe(st.integers(0, 359 * 8)
                                           .map(lambda v: v / 8))),
                }) or None,
                "vehicle": draw(_maybe(st.builds(
                    lambda i: {"id": i}, _token))),
                "stop_id": draw(_maybe(_token)),
                "timestamp": draw(_maybe(st.integers(0, 2**33))),
            })
        ent = {"id": f"e{i}", kind: body}
        entities.append(ent)
    return {"entity": entities} if entities else {}


@settings(max_examples=200, deadline=None)
@given(_feed_messages())
def test_pb_wire_roundtrip(feed):
    """encode -> decode is the identity on the FeedMessage subset
    (fractions chosen exactly representable in float32)."""
    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt_pb import (
        decode_feed_message, encode_feed_message)
    got = decode_feed_message(encode_feed_message(feed))
    want = dict(feed)
    want.setdefault("entity", [])
    assert got == want


@settings(max_examples=100, deadline=None)
@given(_feed_messages(), st.binary(max_size=12))
def test_pb_decoder_survives_unknown_field_noise(feed, blob):
    """Unknown fields of every wire type interleaved at top level must
    not disturb the known fields (proto2 forward compatibility)."""
    import struct

    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt_pb import (
        _tag, _varint, decode_feed_message, encode_feed_message)
    noise = (_tag(9, 0) + _varint(7)
             + _tag(10, 2) + _varint(len(blob)) + blob
             + _tag(11, 5) + struct.pack("<f", 1.5)
             + _tag(12, 1) + struct.pack("<d", 2.5))
    want = dict(feed)
    want.setdefault("entity", [])
    body = encode_feed_message(feed)
    assert decode_feed_message(noise + body) == want
    assert decode_feed_message(body + noise) == want


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
       st.sampled_from([8000, 16000, 44100]), st.integers(1, 2))
def test_wav_decode_matches_direct_stats(samples, rate, channels):
    import math

    from tests.test_operators_extra import _make_wav
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _wav_decode)
    got = _wav_decode(_make_wav(samples, rate=rate, channels=channels))
    assert got[0:3] == (rate, channels, 16)
    assert got[3] == len(samples) // channels
    assert got[4] == max(abs(s) for s in samples)
    assert got[5] == math.isqrt(sum(s * s for s in samples) // len(samples))


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 9), st.integers(1, 6), st.booleans(), st.data())
def test_bmp_decode_dims_and_histogram(width, height, top_down, data):
    from tests.test_operators_extra import _make_bmp
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _bmp_decode)
    rows = [bytes(data.draw(st.lists(st.integers(0, 255),
                                     min_size=width * 3, max_size=width * 3)))
            for _ in range(height)]
    w, h, c, hist = _bmp_decode(_make_bmp(width, height, rows,
                                          top_down=top_down))
    assert (w, h, c) == (width, height, 3)
    flat = b"".join(rows)
    expect = [0] * 8
    for b in flat:
        expect[b >> 5] += 1
    assert hist == [v * 1_000_000 // len(flat) for v in expect]


@settings(**SETTINGS)
@given(st.lists(st.lists(st.floats(-8, 8, allow_nan=False,
                                   width=32),
                         min_size=8, max_size=8),
                min_size=3, max_size=12))
def test_pq_m1_corpus_codebook_is_identity(spark, vecs):
    """With ONE subspace and the corpus itself as the codebook, every
    vector must encode to its own id (distance 0 beats everything,
    ties break to the lowest id — exact duplicates map to the first
    copy)."""
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = SIM.pq_codebooks(df, m=1, k=len(rows))
    got = {r["vec_id"]: r["codes"][0] for r in
           SIM.pq_encode(df, books).collect()}
    for i, v in rows:
        # own id unless an earlier exact duplicate claims the code
        assert got[i] <= i


@settings(**SETTINGS)
@given(st.lists(
    st.lists(st.sampled_from(list("abcdef")), min_size=3, max_size=12),
    min_size=2, max_size=14))
def test_prefix_filter_jaccard_complete_on_random_corpora(spark, corpora):
    """PPJoin completeness is a pigeonhole theorem, not a heuristic:
    on random small-vocab corpora (engineered for heavy shingle
    collisions) the prefix-filtered pair set must equal the naive
    inverted-index pair set exactly."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        ngram_jaccard_pairs, prefix_filtered_jaccard_pairs)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        naive = {(r["d1"], r["d2"], r["n_common"])
                 for r in ngram_jaccard_pairs(
                     df, "doc_id", "text", n=2, threshold=t).collect()}
        pref = {(r["d1"], r["d2"], r["n_common"])
                for r in prefix_filtered_jaccard_pairs(
                    df, "doc_id", "text", n=2, threshold=t).collect()}
        assert naive == pref


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(-300, 300),
                          st.integers(-300, 300)),
                min_size=2, max_size=60),
       st.integers(1, 400))
def test_spatial_radius_join_lossless_any_radius(spark, pts, radius):
    """Grid blocking must be lossless for ARBITRARY point sets and
    radii — including negative coordinates (the double-width cell
    straddling zero) and radii larger than the point cloud."""
    import itertools

    from tp_airflow_gtfs_snowflake_spark.operators import spatial
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {(r["id_a"], r["id_b"], r["dist_sq"]) for r in
           spatial.radius_pairs(df, radius=radius).collect()}
    want = set()
    for (i, x1, y1), (j, x2, y2) in itertools.combinations(rows, 2):
        d = (x1 - x2) ** 2 + (y1 - y2) ** 2
        if d < radius * radius:
            want.add((min(i, j), max(i, j), d))
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 200), st.integers(1, 500)),
                min_size=1, max_size=60, unique_by=lambda t: t[0]))
def test_two_pass_prefix_sum_equals_global_window(spark, rows):
    """The b107-style blocked prefix sum (local cumsum per id-range
    block + block offsets) must equal the single global-ordered window
    for arbitrary ids and weights — including ids straddling block
    boundaries and single-row blocks."""
    from pyspark.sql import Window as W
    df = spark.createDataFrame(rows, "doc_id long, w long")
    want = {(r["doc_id"], r["cum"]) for r in df.select(
        "doc_id",
        F.sum("w").over(W.orderBy("doc_id")
                        .rowsBetween(W.unboundedPreceding, 0))
        .alias("cum")).collect()}
    blk = df.withColumn("_b", F.expr("doc_id div 16"))
    local = blk.withColumn(
        "_lc", F.sum("w").over(W.partitionBy("_b").orderBy("doc_id")
                               .rowsBetween(W.unboundedPreceding, 0)))
    boff = (blk.groupBy("_b").agg(F.sum("w").alias("_bt"))
            .select("_b", F.coalesce(
                F.sum("_bt").over(W.orderBy("_b")
                                  .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)).alias("_off")))
    got = {(r["doc_id"], r["cum"]) for r in
           local.join(F.broadcast(boff), "_b")
           .select("doc_id", (F.col("_lc") + F.col("_off")).alias("cum"))
           .collect()}
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
                min_size=1, max_size=60))
def test_two_pass_skyline_equals_brute_force(spark, pts):
    """b106's blocked skyline (per-block strictly-greater window +
    suffix-max carry-in over higher blocks) must equal the O(n^2)
    dominance spec for arbitrary (x, y) points with ties."""
    from pyspark.sql import Window as W
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    want = {(i, x, y) for i, x, y in rows
            if not any((x2 >= x and y2 >= y and (x2 > x or y2 > y))
                       for _, x2, y2 in rows)}
    s = spark.createDataFrame(rows, "doc_id long, x long, y long")
    blk = s.withColumn("_b", F.expr("x div 8"))
    bhi = (blk.groupBy("_b").agg(F.max("y").alias("_bm"))
           .select("_b", F.max("_bm").over(
               W.orderBy(F.col("_b").desc())
               .rowsBetween(W.unboundedPreceding, -1)).alias("_hi")))
    w_gt = (W.partitionBy("_b").orderBy(F.col("x").desc())
            .rangeBetween(W.unboundedPreceding, -1))
    w_eq = W.partitionBy("x")
    flagged = (blk.join(F.broadcast(bhi), "_b")
               .select("doc_id", "x", "y",
                       F.greatest(F.max("y").over(w_gt),
                                  F.col("_hi")).alias("mg"),
                       F.max("y").over(w_eq).alias("me")))
    got = {(r["doc_id"], r["x"], r["y"]) for r in
           flagged.filter((F.col("mg").isNull()
                           | (F.col("mg") < F.col("y")))
                          & (F.col("me") <= F.col("y"))).collect()}
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=80),
       st.integers(2, 10))
def test_two_pass_ntile_formula_equals_ntile(spark, vals, n_buckets):
    """b47's reconstructed-rank ntile formula (first n%k buckets one
    row larger) must equal F.ntile for arbitrary values, tie runs and
    bucket counts."""
    from pyspark.sql import Window as W
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    want = {(r["k"], r["t"]) for r in df.select(
        "k", F.ntile(n_buckets).over(W.orderBy("v", "k")).alias("t"))
        .collect()}
    blk = df.withColumn("_b", F.expr("v div 512"))
    local = blk.withColumn(
        "_lr", F.row_number().over(W.partitionBy("_b").orderBy("v", "k")))
    boff = (blk.groupBy("_b").agg(F.count("*").alias("_c"))
            .select("_b", F.coalesce(
                F.sum("_c").over(W.orderBy("_b")
                                 .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)).alias("_off")))
    n = len(vals)
    ranked = (local.join(F.broadcast(boff), "_b")
              .withColumn("_r", F.col("_off") + F.col("_lr")))
    q, rem = n // n_buckets, n % n_buckets
    tile = F.expr(
        f"CASE WHEN _r <= ({q} + 1) * {rem} "
        f"THEN (_r - 1) div ({q} + 1) + 1 "
        f"ELSE {rem} + (_r - ({q} + 1) * {rem} - 1) div {max(q, 1)} + 1 "
        f"END")
    got = {(r["k"], r["t"]) for r in
           ranked.select("k", tile.alias("t")).collect()}
    assert got == want


@settings(**SETTINGS)
@given(st.lists(
    st.lists(st.sampled_from(list("abc")), min_size=0, max_size=12),
    min_size=1, max_size=10))
def test_duplicated_spans_match_reference(spark, docs):
    """ExactSubstr span detection vs a pure-Python reference: windows
    of L tokens occurring >1 time in the corpus mark spans, islands
    merge, per-doc totals agree — for arbitrary tiny corpora with
    repeats, overlaps, and sub-L docs."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        duplicated_spans)
    L = 3
    texts = [" ".join(toks) for toks in docs]

    # pure-Python reference; Spark split(" +") on "" yields [""]
    from collections import Counter
    tok = [t.strip().lower().split(" ") if t else [""] for t in texts]
    wins = Counter()
    for ts in tok:
        for i in range(len(ts) - L + 1):
            wins[" ".join(ts[i:i + L])] += 1
    want = {}
    for d, ts in enumerate(tok):
        hits = [i for i in range(len(ts) - L + 1)
                if wins[" ".join(ts[i:i + L])] > 1]
        if not hits:
            continue
        spans = []
        for i in hits:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + L - 1)
            else:
                spans.append([i, i + L - 1])
        dup = sum(f - s + 1 for s, f in spans)
        want[d] = (len(ts), len(spans), dup,
                   dup * 1_000_000 // len(ts))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_tokens"],
                         r["dup_ppm"])
           for r in duplicated_spans(df, "doc_id", "text",
                                     window_tokens=L).collect()}
    assert got == want
