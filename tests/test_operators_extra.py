"""Unit tests for the as-of join, text-analysis functions, multimodal
plumbing, and the dedup-suite edge cases the oracle queries don't hit
(short documents, ties, tolerance windows, stub contracts)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.functions import text as T
from tp_airflow_gtfs_snowflake_spark.operators import dedup as D
from tp_airflow_gtfs_snowflake_spark.operators.asof import asof_join
from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
    decode_image_features, sample_frames)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, _ts("2026-01-01T10:00:00"), "l1"),
         (1, _ts("2026-01-01T12:00:00"), "l2"),
         (2, _ts("2026-01-01T10:30:00"), "l3"),
         (3, _ts("2026-01-01T09:00:00"), "l4")],
        "k long, ts timestamp, lval string")
    right = spark.createDataFrame(
        [(1, _ts("2026-01-01T09:59:00"), "r1"),
         (1, _ts("2026-01-01T11:00:00"), "r2"),
         (2, _ts("2026-01-01T10:30:00"), "r3"),   # exact tie with l3
         (3, _ts("2026-01-01T09:30:00"), "r4")],  # after l4 only
        "k long, ts timestamp, rval string")
    return left, right


def test_asof_backward_latest_match(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    got = {r["lval"]: r["rval"] for r in out.collect()}
    assert got == {"l1": "r1",   # 09:59 <= 10:00
                   "l2": "r2",   # latest of r1/r2
                   "l3": "r3",   # equal timestamps match (<= semantics)
                   "l4": None}   # right row is in the future


def test_asof_tolerance_nulls_stale_matches(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                    tolerance_seconds=120)
    got = {r["lval"]: r["rval"] for r in out.collect()}
    # l2's latest match (r2) is 3600s old -> nulled by the tolerance.
    assert got == {"l1": "r1", "l2": None, "l3": "r3", "l4": None}


def test_asof_preserves_left_rowcount(spark, asof_frames):
    left, right = asof_frames
    assert asof_join(left, right, on=["k"], left_ts="ts",
                     right_ts="ts").count() == left.count()


# --- text functions ---------------------------------------------------

def test_lang_id_basic(spark):
    df = spark.createDataFrame(
        [("the cat of the house is big and in a box",),
         ("le chat de la maison et les oiseaux des bois",),
         ("xyzzy qwerty 12345",)],
        "text string")
    out = [r[0] for r in df.select(T.lang_id(F.col("text"))).collect()]
    assert out == ["en", "fr", "und"]


def test_bpe_token_count_matches_manual(spark):
    df = spark.createDataFrame([("Ab, c12 d",)], "text string")
    # lowercased: 'ab' ',' 'c' '12' 'd' -> 5 tokens
    assert df.select(T.bpe_token_count(F.col("text"))).first()[0] == 5


def test_winnow_fingerprint_short_doc_is_null(spark):
    df = spark.createDataFrame([("one two three",), ("a b c d e",)],
                               "text string")
    rows = df.select(T.winnow_fingerprint(F.col("text"), k=4)).collect()
    assert rows[0][0] is None          # 3 tokens < k=4 -> no windows
    assert isinstance(rows[1][0], int)  # 5 tokens -> a fingerprint


def test_quality_score_orders_texts_sensibly(spark):
    good = "the quick brown fox jumps over the lazy dog and runs away"
    bad = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    df = spark.createDataFrame([(good,), (bad,)], "text string")
    scores = [r[0] for r in df.select(T.quality_score(F.col("text"))).collect()]
    assert scores[0] > scores[1]
    assert 0.0 <= scores[1] <= scores[0] <= 1.0


# --- dedup edge cases -------------------------------------------------

def test_token_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c",)], "text string")
    rows = df.select(D.token_shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == []
    assert rows[1]["s"] == ["a b c"]


def test_simhash_multitable_finds_prefix_breaking_pair(spark):
    """Full-recall regression for the multi-table block LSH: docs 0/1
    ('...mu' vs '...nu') have Hamming distance 6 with differing bits in
    the TOP 16 bits of the signature (verified below), so the previous
    single-16-bit-prefix candidate table missed the pair; the
    radius+1-block scheme must find it (pigeonhole guarantee)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
    df = spark.createDataFrame(
        [(0, base + "mu"), (1, base + "nu"),
         (2, "totally different words nothing shared here at all")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in D.simhash_signatures(
        df, "doc_id", "text", shingle_n=2,
        hash_fn=D.portable_hash64).collect()}
    x = (sigs[0] ^ sigs[1]) & 0xFFFFFFFFFFFFFFFF
    assert bin(x).count("1") <= 6, "fixture drifted: pair not in radius"
    assert (x >> 48) != 0, "fixture drifted: pair no longer prefix-breaking"
    out = D.simhash_near_duplicates(df, "doc_id", "text", radius=6,
                                    shingle_n=2,
                                    hash_fn=D.portable_hash64).collect()
    assert {(r["d1"], r["d2"]) for r in out} == {(0, 1)}


def test_simhash_multitable_full_recall_vs_brute_force(spark):
    """On a corpus of single-token perturbations, the block-LSH output
    must equal the exact all-pairs Hamming filter (100% recall AND no
    duplicate pairs from multi-table collisions)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
    words = ["mu", "nu", "xi", "omicron", "pi", "rho", "sigma", "tau",
             "upsilon", "phi", "chi", "psi", "omega", "one", "two"]
    df = spark.createDataFrame(
        [(i, base + w) for i, w in enumerate(words)],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in D.simhash_signatures(
        df, "doc_id", "text", shingle_n=2,
        hash_fn=D.portable_hash64).collect()}
    expect = set()
    for i in sigs:
        for j in sigs:
            if i < j and bin((sigs[i] ^ sigs[j])
                             & 0xFFFFFFFFFFFFFFFF).count("1") <= 6:
                expect.add((i, j))
    out = D.simhash_near_duplicates(df, "doc_id", "text", radius=6,
                                    shingle_n=2,
                                    hash_fn=D.portable_hash64).collect()
    got = [(r["d1"], r["d2"]) for r in out]
    assert len(got) == len(set(got)), "duplicate pairs emitted"
    assert set(got) == expect


def test_minhash_finds_planted_neardup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "totally different words "
          "nothing shared here at all among these tokens")],
        "doc_id long, text string")
    out = D.minhash_near_duplicates(df, "doc_id", "text", num_hashes=16,
                                    bands=4, shingle_n=3, threshold=0.5,
                                    hash_fn=D.portable_hash64).collect()
    pairs = {(r["d1"], r["d2"]) for r in out}
    assert pairs == {(1, 2)}


def test_minhash_candidate_recall_grows_with_bands(spark):
    """Banding math: lowering rows-per-band lowers the collision
    threshold (t* = (1/b)^(1/r)), so 8x2 candidates must be a
    SUPERSET of 4x4 candidates on the same signatures — the property
    behind c06f's r05 re-banding (the sf0.1 recall miss happened at
    4x4, whose t* = 0.71 sits above the 0.5 verify threshold)."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta "
                f"iota kappa word{i % 4}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", num_hashes=16,
                                shingle_n=3, hash_fn=D.portable_hash64)
    sigs = sigs.localCheckpoint()
    c44 = {(r["d1"], r["d2"]) for r in D.minhash_lsh_candidates(
        sigs, bands=4, rows_per_band=4).collect()}
    c82 = {(r["d1"], r["d2"]) for r in D.minhash_lsh_candidates(
        sigs, bands=8, rows_per_band=2).collect()}
    assert c44 <= c82, "8x2 must never candidate fewer pairs than 4x4"
    assert c82, "planted near-dups produced no candidates"


# --- multimodal plumbing ----------------------------------------------

@pytest.fixture(scope="module")
def payload_df(spark):
    return spark.createDataFrame(
        [(1, b"x" * 300), (2, b"hello world " * 40), (3, b"")],
        "doc_id long, payload binary")


def test_decode_image_features_contract(spark, payload_df):
    out = decode_image_features(payload_df, id_col="doc_id",
                                payload_col="payload", fake=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 3
    r = rows[1]
    assert r["n_bytes"] == 300 and 64 <= r["width"] < 256
    assert len(r["features"]) == 8
    # 'x' = 0x78 -> bin 3; exact ppm
    assert r["features"][3] == 1_000_000
    assert sum(rows[3]["features"]) == 0  # empty payload, no div-by-zero


def test_decode_image_features_deterministic(spark, payload_df):
    a = decode_image_features(payload_df, id_col="doc_id",
                              payload_col="payload", fake=True).collect()
    b = decode_image_features(payload_df, id_col="doc_id",
                              payload_col="payload", fake=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_decode_raises_without_codec(spark, payload_df):
    # non-BMP payloads still raise on the real path (no codec library)
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception) as exc:
        decode_image_features(payload_df, id_col="doc_id",
                              payload_col="payload", fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, Py4JJavaError)


def _make_bmp(width: int, height: int, pixel_rows: list[bytes], *,
              bpp: int = 24, top_down: bool = False) -> bytes:
    """Hand-assemble an uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER) from top-to-bottom pixel rows."""
    channels = bpp // 8
    stride = (width * channels + 3) // 4 * 4
    data_off = 14 + 40
    stored = pixel_rows if top_down else list(reversed(pixel_rows))
    body = b"".join(r + b"\x00" * (stride - len(r)) for r in stored)
    hdr = (b"BM" + (data_off + len(body)).to_bytes(4, "little")
           + b"\x00\x00\x00\x00" + data_off.to_bytes(4, "little"))
    dib = ((40).to_bytes(4, "little")
           + width.to_bytes(4, "little", signed=True)
           + (-height if top_down else height).to_bytes(4, "little",
                                                        signed=True)
           + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
           + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
           + b"\x00" * 16)
    return hdr + dib + body


def test_real_bmp_decode_through_spark(spark):
    """fake=False really decodes: a generated 3x2 24bpp BMP (odd width
    -> padded rows) comes back with the right dims, channel count and
    exact pixel histogram; the padding bytes must NOT pollute it."""
    rows_top = [bytes([0, 0, 0, 255, 255, 255, 32, 32, 32]),
                bytes([64, 96, 128, 200, 220, 240, 10, 20, 30])]
    bmp = _make_bmp(3, 2, rows_top)
    pixels = b"".join(reversed(rows_top))  # decoder emits bottom-up scan
    expect_hist = [0] * 8
    for b in pixels:
        expect_hist[b >> 5] += 1
    expect_hist = [h * 1_000_000 // len(pixels) for h in expect_hist]

    df = spark.createDataFrame([(7, bmp)], "doc_id long, payload binary")
    out = decode_image_features(df, id_col="doc_id", payload_col="payload",
                                fake=False).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"], r["n_channels"]) == (3, 2, 3)
    assert r["n_bytes"] == len(bmp)
    assert r["features"] == expect_hist


def test_real_bmp_decode_top_down_equals_bottom_up(spark):
    rows_top = [bytes(range(12)), bytes(range(100, 112)),
                bytes(range(200, 212))]
    df = spark.createDataFrame(
        [(1, _make_bmp(4, 3, rows_top, top_down=False)),
         (2, _make_bmp(4, 3, rows_top, top_down=True))],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_image_features(
        df, id_col="doc_id", payload_col="payload", fake=False).collect()}
    assert out[1]["features"] == out[2]["features"]
    assert out[1]["width"] == out[2]["width"] == 4
    assert out[1]["height"] == out[2]["height"] == 3


def _make_wav(samples: list[int], *, rate: int = 16000, channels: int = 1,
              bits: int = 16, extra_chunk: bool = False) -> bytes:
    """Hand-assemble a PCM WAV (RIFF + fmt + optional junk + data)."""
    import struct
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes(s + 128 for s in samples)
    byte_rate = rate * channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate,
                      channels * bits // 8, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # e.g. a LIST/INFO chunk real encoders emit
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_real_wav_decode_through_spark(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        decode_audio_features)
    samples = [0, 1000, -1000, 2000, -3000, 3000, 0, -500]
    wav = _make_wav(samples, rate=22050, channels=2, extra_chunk=True)
    df = spark.createDataFrame([(3, wav)], "doc_id long, payload binary")
    out = decode_audio_features(df, id_col="doc_id", payload_col="payload",
                                fake=False).collect()
    r = out[0]
    assert (r["sample_rate"], r["n_channels"], r["bit_depth"]) == (22050, 2, 16)
    assert r["n_samples"] == len(samples) // 2  # per channel
    assert r["peak"] == 3000
    import math
    assert r["rms"] == math.isqrt(
        sum(s * s for s in samples) // len(samples))


def test_wav_8bit_and_unsupported(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _wav_decode)
    rate, ch, bits, n, peak, rms = _wav_decode(
        _make_wav([0, 10, -10, 127], bits=8, rate=8000))
    assert (rate, ch, bits, n, peak) == (8000, 1, 8, 4, 127)
    with pytest.raises(ValueError, match="not a RIFF"):
        _wav_decode(b"ID3\x03" + b"\x00" * 60)  # mp3-ish magic
    with pytest.raises(ValueError, match="truncated"):
        _wav_decode(_make_wav([1, 2, 3, 4])[:-3])


def test_sample_frames_counts_and_slices(spark, payload_df):
    out = sample_frames(payload_df, id_col="doc_id", payload_col="payload",
                        every_n_bytes=128, max_frames=8, fake=True)
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    # 300 bytes // 128 -> 2 frames; 480 -> 3; empty payload -> 1 empty frame
    assert len(per_doc[1]) == 2 and len(per_doc[2]) == 3
    assert len(per_doc[3]) == 1 and per_doc[3][0]["frame_bytes"] == b""
    f0 = sorted(per_doc[1], key=lambda r: r["frame_idx"])[0]
    assert bytes(f0["frame_bytes"]) == b"x" * 128


# --- skew operators ---------------------------------------------------

def test_salted_count_distinct_exact(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.skew import (
        salted_count_distinct)
    df = spark.createDataFrame(
        [("hot", i % 37) for i in range(5000)]
        + [("cold", i) for i in range(11)], "g string, u long")
    got = {r["g"]: r["n_distinct"] for r in salted_count_distinct(
        df, group_cols=["g"], distinct_col="u", salt_buckets=8).collect()}
    assert got == {"hot": 37, "cold": 11}


# --- similarity search ------------------------------------------------

def test_ivf_full_probe_equals_brute_force(spark):
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    from tests.conftest import SF_ORACLE
    emb = _t(spark, SF_ORACLE, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qemb"))
    bf = {r["vec_id"] for r in SIM.brute_force_topk(
        emb, qv, k=20, payload=["vec_id"]).collect()}

    def recall(n_probe):
        iv = {r["vec_id"] for r in SIM.ivf_topk(
            emb, qv, n_cents=8, n_probe=n_probe, k=20,
            payload=["vec_id"]).collect()}
        return len(bf & iv) / len(bf)

    # probing every cell IS exact search; fewer probes degrade
    # monotonically (allowing ties in the middle).
    r2, r4, r8 = recall(2), recall(4), recall(8)
    assert r8 == 1.0
    assert r2 <= r4 + 1e-9 <= r8 + 1e-9
    assert r2 > 0.0


def test_kmeans_ivf_full_probe_equals_brute_force(spark):
    """Trained centroids partition the space differently than the
    first-n stand-ins, but the IVF invariant is partition-independent:
    probing every cell IS exact search."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    cents = SIM.kmeans_centroids(emb, k=8, seed=42, max_iter=5)
    assert len(cents) == 8 and all(len(v) > 0 for _, v in cents)
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qemb"))
    bf = {r["vec_id"] for r in SIM.brute_force_topk(
        emb, qv, k=20, payload=["vec_id"]).collect()}
    full = {r["vec_id"] for r in SIM.ivf_topk(
        emb, qv, n_cents=8, n_probe=8, k=20, payload=["vec_id"],
        centroids=cents).collect()}
    assert full == bf
    # trained cells should be usable at low probe counts too
    iv2 = {r["vec_id"] for r in SIM.ivf_topk(
        emb, qv, n_cents=8, n_probe=2, k=20, payload=["vec_id"],
        centroids=cents).collect()}
    assert len(iv2 & bf) / len(bf) > 0.0


# ---------------------------------------------------------------------
# connected components (operators.components)
# ---------------------------------------------------------------------

def test_connected_components_chain_and_clique(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.components import (
        connected_components)
    # chain 1-2-3-4-5 (diameter 4: needs real iteration, not just the
    # min-neighbor seed), clique {10,11,12}, isolated pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)], "d1 int, d2 int")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_label_is_global_min_not_neighbor_min(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.components import (
        connected_components)
    # star with the min id at a leaf: 7-3, 7-9, 7-1 -> all label 1,
    # which only propagates through the hub (two hops for 3 and 9)
    edges = spark.createDataFrame([(7, 3), (7, 9), (7, 1)],
                                  "d1 int, d2 int")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 3: 1, 7: 1, 9: 1}


def test_dedup_keep_canonical_keeps_min_and_unpaired(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.components import (
        dedup_keep_canonical)
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 50)], "doc_id int, text string")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "d1 int, d2 int")
    kept = sorted(r["doc_id"]
                  for r in dedup_keep_canonical(docs, edges).collect())
    assert kept == [1, 50]


# ---------------------------------------------------------------------
# real PNG decode (pure-Python chunk walk + zlib inflate + unfilter)
# ---------------------------------------------------------------------

def _make_png(width: int, height: int, raw_rows: list[bytes],
              color_type: int, filters: list[int]) -> bytes:
    """Hand-assemble a PNG, FORWARD-applying the requested per-row
    filter so the decoder's unfilter math is genuinely exercised."""
    import struct
    import zlib
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _PNG_CHANNELS)

    ch = _PNG_CHANNELS[color_type]
    stride = width * ch

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    filtered = bytearray()
    prev = bytes(stride)
    have_prev = False
    for r, (row, ftype) in enumerate(zip(raw_rows, filters)):
        assert len(row) == stride
        filtered.append(ftype)
        for i in range(stride):
            a = row[i - ch] if i >= ch else 0
            b = prev[i] if have_prev else 0
            c = prev[i - ch] if (have_prev and i >= ch) else 0
            x = row[i]
            if ftype == 0:
                v = x
            elif ftype == 1:
                v = (x - a) & 0xFF
            elif ftype == 2:
                v = (x - b) & 0xFF
            elif ftype == 3:
                v = (x - (a + b) // 2) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                v = (x - pred) & 0xFF
            filtered.append(v)
        prev, have_prev = row, True
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + chunk(b"IEND", b""))


def test_png_decode_every_filter_type():
    """One row per spec filter (None/Sub/Up/Average/Paeth) over RGB:
    decode must reconstruct the exact raw bytes regardless of filter."""
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _hist_ppm, _png_decode)
    raw = [bytes((r * 50 + i) % 256 for i in range(4 * 3))
           for r in range(5)]
    png = _make_png(4, 5, raw, color_type=2, filters=[0, 1, 2, 3, 4])
    w, h, ch, hist = _png_decode(png)
    assert (w, h, ch) == (4, 5, 3)
    assert hist == _hist_ppm(b"".join(raw))


def test_png_decode_gray_and_rgba():
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _hist_ppm, _png_decode)
    gray = [bytes((i * 37) % 256 for i in range(6)) for _ in range(2)]
    w, h, ch, hist = _png_decode(_make_png(6, 2, gray, 0, [4, 4]))
    assert (w, h, ch) == (6, 2, 1) and hist == _hist_ppm(b"".join(gray))
    rgba = [bytes((i * 11 + r) % 256 for i in range(2 * 4))
            for r in range(3)]
    w, h, ch, hist = _png_decode(_make_png(2, 3, rgba, 6, [1, 3, 2]))
    assert (w, h, ch) == (2, 3, 4) and hist == _hist_ppm(b"".join(rgba))


def test_png_decode_through_spark_real_path(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _hist_ppm, decode_image_features)
    raw = [bytes((r + i * 3) % 256 for i in range(8 * 3))
           for r in range(4)]
    png = _make_png(8, 4, raw, color_type=2, filters=[0, 4, 1, 2])
    df = spark.createDataFrame([(11, png)], "doc_id long, payload binary")
    out = decode_image_features(df, id_col="doc_id", payload_col="payload",
                                fake=False).collect()[0]
    assert (out["width"], out["height"], out["n_channels"]) == (8, 4, 3)
    assert out["features"] == _hist_ppm(b"".join(raw))


def test_png_unsupported_variants_raise():
    import pytest as _pytest
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _png_decode)
    raw = [bytes(6)]
    png = bytearray(_make_png(2, 1, raw, 2, [0]))
    # corrupt IHDR color type to palette (3): offset = 8 sig + 8 len/id
    # + 4 w + 4 h + 1 depth = 25
    png[25] = 3
    with _pytest.raises(ValueError):
        _png_decode(bytes(png))


def test_pq_full_refine_equals_brute_force(spark):
    """With refine >= |corpus| the PQ approx ordering only gates a
    re-rank over everything, so the result IS exact brute force —
    partition-independent, codebook-independent."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qemb"))
    bf = SIM.brute_force_topk(emb, qv, k=20, payload=["vec_id"]).collect()
    pq = SIM.pq_topk(emb, qv, m=4, n_words=16, k=20, refine=10 ** 9,
                     payload=["vec_id"]).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in pq] \
        == [(r["vec_id"], r["cos_sim"]) for r in bf]


def test_pq_refine_recall(spark):
    """Recall@20 degrades monotonically as refine shrinks and stays
    useful at refine=100 on the oracle corpus."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qemb"))
    bf = {r["vec_id"] for r in SIM.brute_force_topk(
        emb, qv, k=20, payload=["vec_id"]).collect()}

    def recall(refine):
        got = {r["vec_id"] for r in SIM.pq_topk(
            emb, qv, m=4, n_words=16, k=20, refine=refine,
            payload=["vec_id"]).collect()}
        return len(bf & got) / len(bf)

    r100, r1000 = recall(100), recall(1000)
    assert r100 <= r1000 + 1e-9
    assert r100 >= 0.25
    assert r1000 >= 0.5


def test_pq_encode_is_narrow(spark):
    """pq_encode must stay a pure per-row projection: no Exchange, no
    Join, no Window in the physical plan (the codes column is what
    makes a 100 TB ANN scan affordable — shuffling to compute it
    would defeat the point)."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    books = SIM.pq_codebooks(emb, m=4, k=16)
    plan = SIM.pq_encode(emb, books)._jdf.queryExecution() \
        .executedPlan().toString()
    for bad in ("Exchange", "Join", "Window"):
        assert bad not in plan, plan


def test_cell_blocked_neardup_sub_blocks_invariant(spark):
    """Sub-block gridding is a pure physical rewrite: for every
    sub_blocks value the emitted pair set must be identical (each
    unordered pair meets in exactly one block-pair task)."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    base = {(r["d1"], r["d2"], r["cos_sim"]) for r in
            SIM.cell_blocked_neardup(emb, threshold=0.3).collect()}
    assert base, "threshold too high — invariant would be vacuous"
    for sb in (2, 3, 5):
        got = {(r["d1"], r["d2"], r["cos_sim"]) for r in
               SIM.cell_blocked_neardup(
                   emb, threshold=0.3, sub_blocks=sb).collect()}
        assert got == base, f"sub_blocks={sb} diverged"


def test_cell_blocked_neardup_auto_engages_on_hot_cell(spark):
    """sub_blocks=None auto-sizing: a skewed corpus (one dominant IVF
    cell) must trigger the block-pair grid with ceil(max/cap) blocks
    — and the result must still equal the unblocked pair set."""
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    emb = _t(spark, SF_ORACLE, "embeddings")
    # tiny cap -> even the oracle fixture has a "hot" cell
    auto = {(r["d1"], r["d2"], r["cos_sim"]) for r in
            SIM.cell_blocked_neardup(emb, threshold=0.3,
                                     hot_cell_cap=16).collect()}
    plain = {(r["d1"], r["d2"], r["cos_sim"]) for r in
             SIM.cell_blocked_neardup(emb, threshold=0.3,
                                      sub_blocks=1).collect()}
    assert auto == plain and plain
    # the auto rule itself: max cell size 100, cap 16 -> 7 blocks
    asg = SIM.ivf_assign(emb)
    mx = (asg.groupBy("cent_id").agg(F.count("*").alias("n"))
          .agg(F.max("n").alias("m")).first()["m"])
    assert mx > 16, "fixture not skewed enough for the cap"
    assert -(-int(mx) // 16) > 1


class TestPagerank:
    def _pr(self, spark, pairs, **kw):
        from tp_airflow_gtfs_snowflake_spark.operators.components import (
            pagerank)
        e = spark.createDataFrame(pairs, "a long, b long")
        return {r["node"]: r["rank"]
                for r in pagerank(e, checkpoint=False, **kw).collect()}

    def test_two_node_symmetry(self, spark):
        r = self._pr(spark, [(1, 2), (2, 1)])
        assert abs(r[1] - r[2]) < 1e-9
        assert abs(r[1] - 1.0) < 1e-9  # symmetric 2-cycle fixes rank=1

    def test_chain_middle_dominates(self, spark):
        # undirected chain 1-2-3: the middle node receives from both ends
        r = self._pr(spark, [(1, 2), (2, 1), (2, 3), (3, 2)])
        assert r[2] > r[1] and r[2] > r[3]
        assert abs(r[1] - r[3]) < 1e-9

    def test_star_center_dominates_and_mass_conserved(self, spark):
        leaves = list(range(2, 7))
        edges = [(1, l) for l in leaves] + [(l, 1) for l in leaves]
        r = self._pr(spark, edges)
        assert all(r[1] > r[l] for l in leaves)
        # undirected connected graph: no dangling loss -> sum == |V|
        assert abs(sum(r.values()) - len(r)) < 1e-6


class TestPagerankInt:
    """pagerank_int must equal a sequential pure-Python reference of
    the same integer recurrence EXACTLY (that determinism is what buys
    the c104 value-hash oracle), and preserve the float ranks'
    centrality order."""

    @staticmethod
    def _ref(pairs, n_iter=3):
        from collections import defaultdict
        outdeg = defaultdict(int)
        for a, _ in pairs:
            outdeg[a] += 1
        nodes = {a for a, _ in pairs} | {b for _, b in pairs}
        rank = {n: 1_000_000 for n in nodes}
        for _ in range(n_iter):
            s = defaultdict(int)
            for a, b in pairs:
                s[b] += rank[a] // outdeg[a]
            rank = {n: 150_000 + 85 * s[n] // 100 for n in nodes}
        return rank

    def _pr(self, spark, pairs, **kw):
        from tp_airflow_gtfs_snowflake_spark.operators.components import (
            pagerank_int)
        e = spark.createDataFrame(pairs, "a long, b long")
        return {r["node"]: r["rank"]
                for r in pagerank_int(e, checkpoint=False, **kw).collect()}

    def test_exact_equality_with_sequential_reference(self, spark):
        graphs = [
            [(1, 2), (2, 1)],
            [(1, 2), (2, 1), (2, 3), (3, 2)],
            [(1, l) for l in range(2, 7)] + [(l, 1) for l in range(2, 7)],
            # asymmetric out-degrees exercise the per-edge div split
            [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 2)],
        ]
        for pairs in graphs:
            assert self._pr(spark, pairs) == self._ref(pairs), pairs

    def test_symmetric_cycle_fixed_point(self, spark):
        # 2-cycle: 150000 + 85*1000000//100 = 1000000 exactly, every round
        r = self._pr(spark, [(1, 2), (2, 1)])
        assert r == {1: 1_000_000, 2: 1_000_000}

    def test_star_center_dominates(self, spark):
        leaves = list(range(2, 7))
        edges = [(1, l) for l in leaves] + [(l, 1) for l in leaves]
        r = self._pr(spark, edges)
        assert all(r[1] > r[l] for l in leaves)


def _make_ppm(width: int, height: int, rgb: bytes, *,
              magic: bytes = b"P6", comment: bool = False) -> bytes:
    hdr = magic + b"\n"
    if comment:
        hdr += b"# synthetic fixture\n"
    hdr += b"%d %d\n255\n" % (width, height)
    return hdr + rgb


def test_real_netpbm_decode_through_spark(spark):
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        decode_image_features)
    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255,
                 10, 20, 30, 200, 210, 220, 5, 5, 5])  # 3x2 RGB
    gray = bytes([0, 64, 128, 255])                    # 2x2 gray
    df = spark.createDataFrame(
        [(1, _make_ppm(3, 2, rgb, comment=True)),
         (2, _make_ppm(2, 2, gray, magic=b"P5"))],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r
           for r in decode_image_features(
               df, id_col="doc_id", payload_col="payload",
               fake=False).collect()}
    assert (out[1]["width"], out[1]["height"],
            out[1]["n_channels"]) == (3, 2, 3)
    assert (out[2]["width"], out[2]["height"],
            out[2]["n_channels"]) == (2, 2, 1)
    # gray fixture: one sample per coarse bin 0/2/4/7
    assert [i for i, v in enumerate(out[2]["features"]) if v] == [0, 2, 4, 7]
    for r in out.values():
        assert abs(sum(r["features"]) - 1000000) <= 8


def test_prefix_filter_jaccard_equals_naive(spark):
    """PPJoin prefix filtering is complete: identical pair set, counts
    and scores as the naive inverted-index join on the real corpus."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        ngram_jaccard_pairs, prefix_filtered_jaccard_pairs)
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    naive = {(r["d1"], r["d2"]): (r["n_common"], round(r["jaccard"], 9))
             for r in ngram_jaccard_pairs(
                 docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    pref = {(r["d1"], r["d2"]): (r["n_common"], round(r["jaccard"], 9))
            for r in prefix_filtered_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    assert naive == pref
    assert naive, "fixture produced no near-dup pairs (vacuous test)"


def test_prefix_filter_prunes_candidates(spark):
    """The point of the prefix index: strictly fewer candidate pairs
    than shingle-sharing pairs on a corpus with hot shingles."""
    from pyspark.sql import functions as F
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    sh = D._shingle_rows(docs, "doc_id", "text", 3)
    naive_pairs = (sh.alias("a").join(
        sh.alias("b"), (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count())
    t = 0.5
    from pyspark.sql.window import Window
    freq = sh.groupBy("sh").agg(F.count("*").alias("gf"))
    ranked = (sh.join(freq, "sh")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("gf", "sh")))
              .withColumn("n_sh", F.count("*").over(
                  Window.partitionBy("doc_id"))))
    prefix = ranked.filter(
        F.col("rnk") <= F.col("n_sh") - F.ceil(F.col("n_sh") * t) + 1)
    pref_pairs = (prefix.alias("a").join(
        prefix.alias("b"), (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count())
    assert pref_pairs < naive_pairs


def test_minhash_bipartite_finds_cross_pair_only(spark):
    """Bipartite LSH: a planted near-dup ACROSS corpora is found; the
    near-dup pair WITHIN corpus A must not be emitted."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        minhash_bipartite_pairs, portable_hash64)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    a = spark.createDataFrame(
        [(1, base + "mu"), (2, base + "nu"),   # intra-A near-dups
         (3, "completely unrelated text having no overlap at all ok")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(101, base + "mu"),                    # cross near-dup of 1
         (102, "different holdout content with nothing in common xyz")],
        "doc_id long, text string")
    out = minhash_bipartite_pairs(a, b, "doc_id", "text",
                                  num_hashes=16, bands=4, shingle_n=3,
                                  threshold=0.5,
                                  hash_fn=portable_hash64).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 101) in pairs
    assert all(ib >= 100 for _, ib in pairs), "intra-corpus pair leaked"


def test_leakage_free_split_never_straddles_components(spark):
    """Every near-dup pair must land entirely in one split: group-keyed
    hashing makes straddling impossible by construction — verify on the
    real corpus edge set."""
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as DD
    from tp_airflow_gtfs_snowflake_spark.operators.components import (
        connected_components)
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    edges = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                   threshold=0.5).select("d1", "d2")
    comp = connected_components(edges).withColumnRenamed("node", "doc_id")
    keyed = (docs.join(comp, "doc_id", "left")
             .withColumn("group_id", F.coalesce("component", "doc_id")))
    split = F.pmod(DD.portable_hash64(
        F.concat(F.col("group_id").cast("string"), F.lit(":split"))),
        F.lit(10)) < 8
    assign = {r["doc_id"]: r["s"]
              for r in keyed.select("doc_id", split.alias("s")).collect()}
    pairs = edges.collect()
    assert pairs, "no near-dup pairs: vacuous"
    for r in pairs:
        assert assign[r["d1"]] == assign[r["d2"]], \
            f"pair ({r['d1']},{r['d2']}) straddles the split"


def test_mllib_tfidf_invariants(spark):
    """c44: one vector per doc; a token present in EVERY doc has IDF 0
    (so a single-token corpus yields all-zero tf-idf vectors)."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array
    df = spark.createDataFrame(
        [(1, "common common"), (2, "common"), (3, "common")],
        "doc_id long, text string")
    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=64)
    tfd = tf.transform(tok.transform(df))
    out = IDF(inputCol="tf", outputCol="tfidf").fit(tfd).transform(tfd)
    rows = out.select(
        F.aggregate(vector_to_array("tfidf"), F.lit(0.0),
                    lambda a, x: a + F.abs(x)).alias("l1")).collect()
    assert len(rows) == 3
    # idf = ln((n+1)/(df+1)) = ln(4/4) = 0 for the ubiquitous token
    assert all(abs(r["l1"]) < 1e-12 for r in rows)


def test_avi_frame_sampling_real_path(spark):
    """fake=False really demuxes an uncompressed AVI: hand-built RIFF
    with 5 distinct '00db' DIB frames; sample_frames must return the
    exact frame bytes, in order, frame-capped."""
    import struct

    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _avi_frames, sample_frames)

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body \
            + (b"\0" if len(body) & 1 else b"")

    frames = [bytes([i]) * (24 + i) for i in range(5)]  # odd+even sizes
    movi = b"movi" + b"".join(chunk(b"00db", f) for f in frames)
    hdrl = b"hdrl" + chunk(b"avih", struct.pack("<14I", *([0] * 14)))
    body = (b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi))
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    assert _avi_frames(avi) == frames

    df = spark.createDataFrame([(1, bytearray(avi))],
                               "doc_id long, payload binary")
    got = (sample_frames(df, id_col="doc_id", payload_col="payload",
                         max_frames=3, fake=False)
           .orderBy("frame_idx").collect())
    assert len(got) == 3
    assert [bytes(r["frame_bytes"]) for r in got] == \
        [frames[0], frames[1], frames[2]]

    import pytest as _pytest
    bad = spark.createDataFrame([(2, bytearray(b"not an avi"))],
                                "doc_id long, payload binary")
    with _pytest.raises(Exception, match="AVI|fake"):
        sample_frames(bad, id_col="doc_id", payload_col="payload",
                      fake=False).collect()


def _gif_pack_codes(codes, width0, min_code):
    """LSB-first GIF bit packing with the same width-growth schedule
    as a real encoder (width bumps when the decoder's table fills)."""
    out = bytearray()
    bitbuf = bitcnt = 0
    clear = 1 << min_code
    width = width0
    table_len = clear + 2
    prev_seen = False
    for c in codes:
        bitbuf |= c << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8
        if c == clear:
            table_len, prev_seen = clear + 2, False
        elif c != clear + 1:
            if prev_seen:
                table_len += 1
                if table_len == (1 << width) and width < 12:
                    width += 1
            prev_seen = True
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _make_gif(codes, *, w, h, min_code=2):
    import struct
    gct = bytes([0, 0, 0, 255, 255, 255, 10, 10, 10, 200, 200, 200])
    lzw = _gif_pack_codes(codes, min_code + 1, min_code)
    sub = bytes([len(lzw)]) + lzw + b"\x00"
    return (b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + gct
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + bytes([min_code]) + sub + b"\x3b")


def test_gif_decode_dict_growth_and_kwkwk(spark):
    """Real GIF LZW: dictionary growth (code 6 = '01') and pixel
    mapping through the global palette."""
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        _gif_decode)
    # clear, A, B, AB, end  ->  pixels 0 1 0 1 (2x2)
    w, h, ch, hist = _gif_decode(_make_gif([4, 0, 1, 6, 5], w=2, h=2))
    assert (w, h, ch) == (2, 2, 3)
    # palette: color0 black (bin 0), color1 white (bin 7), 6 bytes each
    assert hist[0] == 500000 and hist[7] == 500000

    # KwKwK: clear, 0, 6 -> A, AA (code equals next table slot)
    w2, h2, _, hist2 = _gif_decode(_make_gif([4, 0, 6, 5], w=3, h=1))
    assert (w2, h2) == (3, 1)
    assert hist2[0] == 1000000  # AAA -> all black


def test_gif_decode_through_mapinpandas(spark):
    """The GIF path composes with decode_image_features end to end
    (extensions skipped, uncompressed-style clear-heavy streams)."""
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        decode_image_features)
    # uncompressed trick: CLEAR before every symbol
    codes = []
    for px in (0, 1, 1, 0):
        codes += [4, px]
    codes.append(5)
    gif = _make_gif(codes, w=2, h=2)
    # splice a comment extension before the frame to exercise skipping
    ext = b"\x21\xfe\x03abc\x00"
    gif = gif[:13 + 12] + ext + gif[13 + 12:]
    df = spark.createDataFrame([(1, bytearray(gif))],
                               "doc_id long, payload binary")
    row = decode_image_features(df, id_col="doc_id",
                                payload_col="payload",
                                fake=False).collect()[0]
    assert (row["width"], row["height"], row["n_channels"]) == (2, 2, 3)


class TestKcorePeel:
    def _peel(self, spark, pairs, **kw):
        from tp_airflow_gtfs_snowflake_spark.operators.components import (
            kcore_peel)
        sym = pairs + [(b, a) for a, b in pairs]
        e = spark.createDataFrame(sym, "a long, b long")
        return {r["node"]: r["deg"]
                for r in kcore_peel(e, checkpoint=False, **kw).collect()}

    def test_clique_is_stable(self, spark):
        # triangle: every node keeps degree 2 forever at k=2
        tri = [(1, 2), (2, 3), (1, 3)]
        assert self._peel(spark, tri, k=2, rounds=3) == {1: 2, 2: 2, 3: 2}

    def test_chain_peels_one_layer_per_round(self, spark):
        # path 1-2-3-4-5-6-7: ends have degree 1, so each round strips
        # one vertex from each end; after 3 rounds only node 4 remains
        # (with no surviving edges -> empty result)
        path = [(i, i + 1) for i in range(1, 7)]
        assert self._peel(spark, path, k=2, rounds=1) \
            == {i: (1 if i in (2, 6) else 2) for i in range(2, 7)}
        assert self._peel(spark, path, k=2, rounds=3) == {}

    def test_core_plus_pendant(self, spark):
        # triangle with a pendant: the pendant (and only it) peels
        g = [(1, 2), (2, 3), (1, 3), (3, 4)]
        assert self._peel(spark, g, k=2, rounds=2) == {1: 2, 2: 2, 3: 2}


# --- round-4 review-fix regressions ----------------------------------

def test_simhash_single_table_radius_zero(spark):
    """n_tables=1 (the radius=0 default) must work: the single block
    spans all 64 bits and lit(2^64-1) would overflow long."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string")
    out = D.simhash_near_duplicates(df, "doc_id", "text", radius=0,
                                    shingle_n=2,
                                    hash_fn=D.portable_hash64).collect()
    assert {(r["d1"], r["d2"]) for r in out} == {(1, 2)}


def test_prefix_filter_exact_threshold_boundary(spark):
    """threshold * n_sh products that float-round UP (e.g. 29 shingles
    at t where t*29 lands epsilon above an integer) must not shorten
    the prefix and lose threshold-exact pairs: prefix output == naive
    inverted-index output."""
    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(30)))
            for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.29, 0.3, 0.58):
        naive = {(r["d1"], r["d2"]) for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=t).collect()}
        pref = {(r["d1"], r["d2"]) for r in
                D.prefix_filtered_jaccard_pairs(
                    df, "doc_id", "text", n=2, threshold=t).collect()}
        assert pref == naive, f"recall loss at t={t}"


def test_exact_dedup_null_text_passes_through(spark):
    """Rows with NULL text are failed extractions, not copies of each
    other: dedup must keep them all."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        dedup_exact, exact_duplicates)
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_exact(df, "doc_id", "text")
            .collect()}
    assert kept == {1, 3, 4}
    groups = exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["n_copies"] == 2


def test_brute_force_topk_ignores_zero_norm_vectors(spark):
    """A zero vector's cosine is NaN, and NaN sorts ABOVE every number
    in desc order — it must not crowd out genuine neighbors."""
    from tp_airflow_gtfs_snowflake_spark.operators.similarity import (
        brute_force_topk)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame([([1.0, 0.0],)], "qemb array<double>")
    got = [r["vec_id"] for r in
           brute_force_topk(emb, q, k=2).collect()]
    assert got == [1, 3]


def test_pq_encode_impls_agree_on_non_dense_codebook(spark):
    """The encoder emits positions in the id-SORTED codebook (the
    order pq_topk's lookup table uses), so gapped/non-zero-based
    codeword ids cannot diverge encode and scoring."""
    from tp_airflow_gtfs_snowflake_spark.operators.similarity import (
        pq_encode)
    books = [[(5, [1.0, 1.0]), (9, [0.0, 0.0])],
             [(3, [0.5, 0.5]), (7, [2.0, 2.0])]]
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.4, 0.4]), (2, [0.1, 0.1, 1.9, 2.1])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: list(r["codes"]) for r in
           pq_encode(emb, books).collect()}
    assert got == {1: [0, 0], 2: [1, 1]}


def test_containment_prefix_filter_equals_naive(spark):
    """The asymmetric (min-side-prefix) containment join is complete:
    identical pair set, overlap counts and sizes as the naive
    inverted-index join on the real corpus."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        containment_pairs_prefix_filtered, ngram_jaccard_pairs)
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    tau = 800_000
    naive = {}
    for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                 threshold=0.0,
                                 keep_sizes=True).collect():
        if r["n_common"] * 1000000 // min(r["n1"], r["n2"]) >= tau:
            naive[(r["d1"], r["d2"])] = (r["n_common"], r["n1"], r["n2"])
    pref = {(r["d1"], r["d2"]): (r["n_common"], r["n1"], r["n2"])
            for r in containment_pairs_prefix_filtered(
                docs, "doc_id", "text", n=3, tau_ppm=tau).collect()}
    assert naive == pref
    assert naive, "fixture produced no containment pairs (vacuous test)"


def test_containment_prefix_filter_catches_exact_inclusion(spark):
    """Adversarial completeness control: a small doc fully quoted
    inside a large one (C = 1, J far below threshold) MUST surface,
    including when the pair's shingles are the corpus's hottest."""
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        containment_pairs_prefix_filtered)
    inner = "alpha beta gamma delta epsilon zeta"
    rows = [(1, inner),
            (2, "preamble words " + inner + " trailing boilerplate"),
            # hot-shingle noise: many docs sharing one dominant trigram
            *[(10 + i, f"alpha beta gamma filler{i} x{i} y{i}")
              for i in range(20)]]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["d1"], r["d2"]): r["n_common"]
           for r in containment_pairs_prefix_filtered(
               docs, "doc_id", "text", n=3, tau_ppm=800_000).collect()}
    assert (1, 2) in got
    assert got[(1, 2)] == 4  # all 4 trigrams of the inner doc


# --- keyed merge --------------------------------------------------------

def test_merge_upsert_returns_rows_the_table_holds(spark, tmp_path):
    """merge_upsert's return value is the rows its write put in the
    table: the whole table on a first build and on a non-partitioned
    upsert, the touched partition's rows on a partitioned one."""
    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        merge_upsert)
    schema = "id long, v long, ingest long, day long"
    base = spark.createDataFrame(
        [(1, 10, 1, 1), (2, 20, 1, 1), (3, 30, 1, 2)], schema)
    # key 1 newer, key 2 stale (must lose), key 4 new; all in day 1
    upd = spark.createDataFrame(
        [(1, 11, 5, 1), (2, 0, 0, 1), (4, 40, 5, 1)], schema)

    flat = str(tmp_path / "flat")
    assert merge_upsert(spark, base, flat, key_cols=["id"],
                        order_col="ingest") == 3
    assert spark.read.parquet(flat).count() == 3
    assert merge_upsert(spark, upd, flat, key_cols=["id"],
                        order_col="ingest") == 4
    assert spark.read.parquet(flat).count() == 4

    parted = str(tmp_path / "parted")
    assert merge_upsert(spark, base, parted, key_cols=["id"],
                        order_col="ingest", partition_col="day") == 3
    assert merge_upsert(spark, upd, parted, key_cols=["id"],
                        order_col="ingest", partition_col="day") == 3
    table = spark.read.parquet(parted)
    assert table.filter("day = 1").count() == 3
    assert table.count() == 4


def test_merge_upsert_first_build_reads_nothing(spark, tmp_path,
                                                monkeypatch):
    """A first build is decided by listing the path, not by a read
    that fails: the missing table is never read."""
    from pyspark.sql.readwriter import DataFrameReader

    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        merge_upsert)
    base = spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1), (3, 30, 1)], "id long, v long, ingest long")
    read = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    path = str(tmp_path / "t")
    assert merge_upsert(spark, base, path, key_cols=["id"],
                        order_col="ingest") == 3
    assert path not in read


@pytest.mark.parametrize("partition_col", [None, "day"])
def test_merge_upsert_after_zero_row_first_build(spark, tmp_path,
                                                 partition_col):
    """A first build from zero rows leaves a table the next upsert
    builds on (partitioned, it holds no data file at all)."""
    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        merge_upsert)
    schema = "id long, v long, ingest long, day long"
    path = str(tmp_path / "t")
    kw = dict(key_cols=["id"], order_col="ingest",
              partition_col=partition_col)
    assert merge_upsert(spark, spark.createDataFrame([], schema),
                        path, **kw) == 0
    rows = [(1, 10, 1, 1), (2, 20, 1, 2)]
    assert merge_upsert(spark, spark.createDataFrame(rows, schema),
                        path, **kw) == 2
    got = spark.read.parquet(path).select("id", "v", "ingest", "day")
    assert sorted(tuple(r) for r in got.collect()) == rows


def test_retraction_rejects_state_with_other_schema(spark, tmp_path):
    """A user state that exists but does not resolve is an error, not
    a first batch: the call raises before writing any adjustment-log
    epoch (a first-batch reading would add without retracting, and the
    served view would double-count)."""
    from pyspark.errors import AnalysisException

    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        retraction_apply_batch)
    ustate = str(tmp_path / "ustate")
    adj = str(tmp_path / "adj")
    spark.createDataFrame(
        [(1, "a", 100, "a")],
        "user_id long, kind string, value_cents long, ord string",
    ).write.parquet(ustate)
    batch = spark.createDataFrame(
        [(1, "b", 50, "b")],
        "user_id long, event_type string, value_cents long, ord string")
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        retraction_apply_batch(spark, batch, ustate_path=ustate,
                               adj_path=adj, epoch_id=0)
    assert not (tmp_path / "adj").exists()
