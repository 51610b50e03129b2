"""Extension queries beyond the first registry batch: as-of / range
joins, grouping sets, set operations (SURVEY §2.4 "engine gets them
free — declare only what we test"), the full C-tier dedup suite
(MinHash-LSH, SimHash, n-gram Jaccard), IVF-bucketed ANN, text
analysis (language-ID, quality score, BPE-ish token count, winnowing
fingerprint), and the multimodal mapInPandas plumbing.

Registered into driver_queries.REGISTRY so the driver sees one flat
queries()/oracle_sql() surface.  Same engine-parity conventions as
driver_queries (BIGINT casts, identical aliases, deterministic
orders, double arithmetic only where both engines see identical
inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.functions import text as T
from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine
from tp_airflow_gtfs_snowflake_spark.operators import dedup as D
from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
from tp_airflow_gtfs_snowflake_spark.operators.asof import asof_join
from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
    decode_image_features, sample_frames)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _register, _t


# =====================================================================
# B-tier extensions: as-of join, range join, grouping sets, set ops
# =====================================================================

@_register(
    "b14_asof_join",
    """
    WITH l AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts, event_id AS click_event_id,
                      value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
           r.click_event_id, r.click_value, epoch_us(r.ts) AS asof_ts_us
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "as-of join (generalizes B11 latest-per-key, README.md:127): "
    "per purchase, the user's most recent click at-or-before it; "
    "union+window plan, one shuffle of |l|+|r| rows",
)
def b14_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts", "value")
    right = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts",
                F.col("event_id").alias("click_event_id"),
                F.col("value").alias("click_value"))
    out = asof_join(left, right, on=["user_id"], left_ts="ts",
                    right_ts="ts",
                    right_payload=["click_event_id", "click_value"])
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value",
        "click_event_id", "click_value",
        F.unix_micros("asof_ts").alias("asof_ts_us"))


@_register(
    "b15_range_bucket_join",
    """
    WITH b(lo, hi, bucket) AS (VALUES
      (0.0, 1.0, 'xs'), (1.0, 10.0, 's'), (10.0, 50.0, 'm'),
      (50.0, 100.0, 'l'), (100.0, 1e9, 'xl'))
    SELECT b.bucket, CAST(count(*) AS BIGINT) AS n,
           min(e.value) AS min_value, max(e.value) AS max_value
    FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    """,
    "range (interval) join: fact value binned against a broadcast "
    "range dimension — BroadcastNestedLoopJoin; at 100 TB the dim "
    "stays tiny so the join is still a narrow map per fact row",
)
def b15_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [(0.0, 1.0, "xs"), (1.0, 10.0, "s"), (10.0, 50.0, "m"),
         (50.0, 100.0, "l"), (100.0, 1e9, "xl")],
        "lo double, hi double, bucket string")
    # min/max/count only: exact and order-independent (a double SUM
    # would be summation-order-sensitive and diverge from the oracle).
    return (ev.join(F.broadcast(buckets),
                    (ev.value >= buckets.lo) & (ev.value < buckets.hi))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


@_register(
    "b16_rollup_agg",
    """
    SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(grouping(event_type) AS BIGINT) AS g_type,
           CAST(grouping(dayofweek(ts)) AS BIGINT) AS g_dow,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY ROLLUP (event_type, dayofweek(ts))
    """,
    "ROLLUP grouping sets with GROUPING() disambiguation (B8 family); "
    "Spark computes all sets in one pass via Expand, no re-scan",
)
def b16_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # DuckDB dayofweek: Sunday=0..Saturday=6; Spark dayofweek: Sun=1..7.
    dow = (F.dayofweek("ts") - 1).cast("long")
    return (ev.select("event_type", dow.alias("dow"))
            .rollup("event_type", "dow")
            .agg(F.grouping("event_type").cast("long").alias("g_type"),
                 F.grouping("dow").cast("long").alias("g_dow"),
                 F.count("*").cast("long").alias("n")))


@_register(
    "b17_cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE over order dims with a distinct-count per cell; Expand + "
    "two-phase distinct agg, all one shuffle round at scale",
)
def b17_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.grouping("o_orderstatus").cast("long").alias("g_status"),
                 F.grouping("o_orderpriority").cast("long").alias("g_prio"),
                 F.count("*").cast("long").alias("n"),
                 F.countDistinct("o_custkey").cast("long")
                 .alias("n_customers")))


@_register(
    "b18_set_ops",
    """
    SELECT user_id FROM (
      (SELECT user_id FROM events WHERE event_type = 'click'
       UNION
       SELECT user_id FROM events WHERE event_type = 'view')
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error' AND value > 200
    )
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    "set operations (UNION / EXCEPT / INTERSECT distinct): engaged "
    "purchasers without a severe error; each op is a shuffle on "
    "user_id — at scale pre-aggregate per side so only distinct keys "
    "shuffle",
)
def b18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id").distinct()

    severe = (ev.filter((F.col("event_type") == "error")
                        & (F.col("value") > 200))
              .select("user_id").distinct())
    return (users("click").union(users("view")).distinct()
            .subtract(severe)
            .intersect(users("purchase")))


# =====================================================================
# C-tier: text analysis (charter "text analysis" — language ID,
# quality scoring, token counting, fingerprinting)
# =====================================================================

def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file table across all cores before
    compute-heavy per-row work.  The test corpus is one parquet file
    (one input task); at production scale inputs arrive pre-split and
    this becomes a no-op-sized shuffle of pointers, never a bottleneck.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def _duck_toks(src: str = "text") -> str:
    return f"string_split_regex(trim(lower({src})), ' +')"


_STOP_SQL = {lang: ", ".join(f"'{w}'" for w in words)
             for lang, words in T.STOPWORDS.items()}

@_register(
    "c03c_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['de']}))) AS s_de,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['en']}))) AS s_en,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['es']}))) AS s_es,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['fr']}))) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
      CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
           WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
           WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
           WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
           ELSE 'fr' END AS lang_pred
    FROM s
    """,
    "C3 language-ID: stopword-hit argmax, ties broken by language code "
    "order — pure native expressions, narrow map at any scale",
)
def c03c_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang",
                       T.lang_id(F.col("text")).alias("lang_pred"))


@_register(
    "c03d_quality_score",
    """
    WITH q AS (
      SELECT doc_id,
             trim(text) AS raw,
             string_split_regex(trim(lower(text)), ' +') AS toks,
             length(regexp_replace(trim(lower(text)), ' +', '', 'g')) AS n_alpha
      FROM documents
    ), f AS (
      SELECT doc_id,
             length(raw) AS n_chars,
             len(toks) AS n_tokens,
             (length(raw) - length(regexp_replace(raw, '[^a-z0-9 ]', '', 'g')))
               * 1.0 / length(raw) AS punct_ratio,
             len(list_filter(toks,
                 x -> x IN ('the','a','of','and','in','to','is')))
               * 1.0 / len(toks) AS stopword_ratio,
             n_alpha * 1.0 / len(toks) AS mean_token_len
      FROM q
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(least(stopword_ratio * 4, 1.0) * 0.5
                 + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                        THEN 1.0 ELSE 0.0 END * 0.3
                 + (1 - least(punct_ratio * 10, 1.0)) * 0.2,
                 6) AS quality
    FROM f
    """,
    "C3 quality scoring: stopword/punctuation/token-length heuristic "
    "blend (the C4-style web-text filters), all JVM-side expressions",
)
def c03d_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    feats = T.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"))


@_register(
    "c03e_bpe_token_count",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(lower(text),
                '{T.BPE_TOKEN_RE}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(max(len(regexp_extract_all(lower(text),
                '{T.BPE_TOKEN_RE}'))) AS BIGINT) AS max_bpe_tokens
    FROM documents GROUP BY source
    """,
    "C3 token counting under a BPE-ish pre-tokenizer regex (corpus "
    "token budget accounting); regexp_extract_all is codegen'd JVM",
)
def c03e_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n = T.bpe_token_count(F.col("text"))
    return (docs.select("source", n.alias("n"))
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n").cast("long").alias("total_bpe_tokens"),
                 F.max("n").cast("long").alias("max_bpe_tokens")))


# Rabin-Karp powers for k=4, base 31 mod 1e9+7 (functions/text.py).
_WINNOW_POWERS = [pow(31, 3 - j, 1_000_000_007) for j in range(4)]

@_register(
    "c03f_winnow_fingerprint",
    f"""
    WITH v AS (
      SELECT doc_id,
             list_transform({_duck_toks()},
               t -> (length(t) * 131 + ascii(substr(t, 1, 1)) * 31
                     + ascii(substr(t, -1, 1))) % 1000000007) AS vals
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN len(vals) >= 4 THEN
        list_min(list_transform(range(0, len(vals) - 3), i ->
          ((vals[i+1] * {_WINNOW_POWERS[0]}) % 1000000007
           + (vals[i+2] * {_WINNOW_POWERS[1]}) % 1000000007
           + (vals[i+3] * {_WINNOW_POWERS[2]}) % 1000000007
           + (vals[i+4] * {_WINNOW_POWERS[3]}) % 1000000007) % 1000000007))
      ELSE NULL END AS fingerprint
    FROM v
    """,
    "C3 document fingerprinting: winnowing-style min rolling hash "
    "(Rabin-Karp over token values) — per-row expression, no shuffle",
)
def c03f_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", T.winnow_fingerprint(F.col("text"), k=4).alias("fingerprint"))


# =====================================================================
# C-tier: near-dup dedup suite (MinHash-LSH, SimHash, n-gram Jaccard)
# on the documents corpus.  All use the md5-derived portable hash so
# DuckDB reproduces signatures bit-for-bit; the operators default to
# xxhash64 (faster JVM path) outside the oracle harness.
# =====================================================================

# DuckDB equivalent of operators.dedup.portable_hash64
def _duck_hash64(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _duck_shingles(n: int, src: str = "toks") -> str:
    """Distinct token n-gram list (mirrors dedup.token_shingles);
    `src` names a list-typed column in scope."""
    parts = " || ' ' || ".join(f"{src}[i+{j}]" for j in range(n))
    return (f"list_distinct(list_transform(range(1, len({src}) - {n - 2}), "
            f"i -> {parts}))")


def _duck_minhash_mins(num_hashes: int) -> str:
    """min((a_i*h + b_i) % P) select-list mirroring
    dedup.minhash_coefficients / minhash_signatures."""
    return ",\n                ".join(
        f"min((h * {a} + {b}) % {D.MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(D.minhash_coefficients(num_hashes)))


def _duck_minhash_band_case(num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    whens = []
    for band in range(bands):
        cols = " || ',' || ".join(f"m{band * rows + j}" for j in range(rows))
        whens.append(f"WHEN {band} THEN {cols}")
    return f"CASE b.band {' '.join(whens)} END"


@_register(
    "c06_minhash_neardup",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {D.MINHASH_P} AS h FROM sh),
    m AS (SELECT doc_id,
                {_duck_minhash_mins(16)}
          FROM hx GROUP BY doc_id),
    banded AS (SELECT doc_id, b.band AS band,
                      md5({_duck_minhash_band_case(16, 4)}) AS bucket
               FROM m, range(0, 4) b(band)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
    common AS (SELECT c.d1, c.d2, count(*) AS n_common
               FROM cand c
               JOIN sh s1 ON s1.doc_id = c.d1
               JOIN sh s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
               GROUP BY c.d1, c.d2),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT d1, d2,
           n_common * 1.0 / (x.n_sh + y.n_sh - n_common) AS jaccard
    FROM common JOIN sizes x ON x.doc_id = d1
                JOIN sizes y ON y.doc_id = d2
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.5
    """,
    "C1 MinHash+LSH near-dup: shingle->minhash->band->bucket-join, "
    "exact Jaccard verify on candidates only — O(docs x shingles) + "
    "O(collided pairs), never O(docs^2).  The oracle reproduces the "
    "4x4 BANDING itself (portable md5-48 minwise family), so parity "
    "holds at every scale INCLUDING recall misses — the output is "
    "defined as candidates-then-verify, not the exact pair set.  "
    "4x4 targets t* = 0.71; recall at the 0.5 verify threshold is "
    "measured by the c80/c123 audits, and c06f ships the "
    "recall-safe 8x2 production point",
)
def c06_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = D.minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3,
        threshold=0.5, hash_fn=D.portable_hash64)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"), "jaccard")


@_register(
    "c07_simhash_neardup",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    h AS (SELECT doc_id,
                 list_transform({_duck_shingles(2)},
                                x -> {_duck_hash64('x')}) AS hs
          FROM t),
    g AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 64), k ->
                   CASE WHEN list_sum(list_transform(hs,
                          h -> ((h >> k) & 1) * 2 - 1)) > 0
                        THEN (1::BIGINT << k) ELSE 0::BIGINT END))
                   AS BIGINT) AS sig
          FROM h)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 6
    """,
    "C1 SimHash near-dup: 64-bit bit-vote signature (per-row native "
    "expression), multi-table block-LSH candidates (full recall at the "
    "radius, so the oracle is the exact all-pairs spec), Hamming<=6 "
    "verify",
)
def c07_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = D.simhash_near_duplicates(
        docs, "doc_id", "text", radius=6, shingle_n=2,
        hash_fn=D.portable_hash64)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"),
                      F.col("hamming").cast("long").alias("hamming"))


@_register(
    "c08_ngram_jaccard",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
               FROM sh a JOIN sh b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
           n_common * 1.0 / (x.n_sh + y.n_sh - n_common) AS jaccard
    FROM common JOIN sizes x ON x.doc_id = d1
                JOIN sizes y ON y.doc_id = d2
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.5
    """,
    "C1 exact n-gram Jaccard via inverted-index join (pairs sharing "
    ">=1 shingle only) — the exact verifier behind the LSH paths",
)
def c08_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"),
                      F.col("n_common").cast("long").alias("n_common"),
                      "jaccard")


# =====================================================================
# C-tier: IVF-bucketed approximate nearest neighbor (scale path for
# c02's brute-force baseline: partition the corpus into Voronoi cells
# around centroids, probe only the cells nearest the query)
# =====================================================================

@_register(
    "c09_ivf_ann",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
               FROM embeddings),
    c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 8),
    q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
    asg AS (SELECT vec_id, label, emb, cent_id FROM (
              SELECT e.vec_id, e.label, e.emb, c.cent_id,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.emb, c.cemb), 6)
                                DESC, c.cent_id) AS rn
              FROM e CROSS JOIN c) WHERE rn = 1),
    probe AS (SELECT cent_id FROM (
                SELECT c.cent_id,
                       row_number() OVER (
                         ORDER BY round(list_cosine_similarity(
                                    (SELECT qemb FROM q), c.cemb), 6)
                                  DESC, c.cent_id) AS rn
                FROM c) WHERE rn <= 2)
    SELECT vec_id, label,
           round(list_cosine_similarity(emb, (SELECT qemb FROM q)), 6)
             AS cos_sim
    FROM asg WHERE cent_id IN (SELECT cent_id FROM probe)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
    "C2 IVF-bucketed ANN: assign vectors to nearest of 8 centroids "
    "(broadcast), probe the 2 cells nearest the query — at 100 TB the "
    "assignment is one narrow pass and search touches ~2/8 of data",
)
def c09_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb"))
    return SIM.ivf_topk(emb, qv, n_cents=8, n_probe=2, k=20,
                        payload=["vec_id", "label"])


# =====================================================================
# C-tier: multimodal mapInPandas plumbing, oracle-checked end to end
# (text bytes stand in for image payloads; the fake decode is exact
# integer arithmetic both engines reproduce)
# =====================================================================

@_register(
    "c05b_image_features",
    """
    WITH d AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS dig,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1)) // 32) AS bins
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(64 + ('0x' || substr(dig, 1, 2))::INT % 192 AS BIGINT) AS width,
           CAST(64 + ('0x' || substr(dig, 3, 2))::INT % 192 AS BIGINT) AS height,
           CAST(1 + ('0x' || substr(dig, 5, 2))::INT % 3 AS BIGINT) AS n_channels,
           CAST(len(list_filter(bins, b -> b = 1)) * 1000000 // n_bytes AS BIGINT) AS f1,
           CAST(len(list_filter(bins, b -> b = 2)) * 1000000 // n_bytes AS BIGINT) AS f2,
           CAST(len(list_filter(bins, b -> b = 3)) * 1000000 // n_bytes AS BIGINT) AS f3
    FROM d
    """,
    "charter multimodal: binary payload -> Arrow-batched mapInPandas "
    "decode (stub) -> typed metadata + feature bins; value-checked "
    "against integer-exact oracle (printable ASCII lands in bins 1-3)",
)
def c05b_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No repartition here: shuffling opaque payload bytes is pure cost.
    # At scale, decode parallelism comes from input file splits.
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    feats = decode_image_features(src, id_col="doc_id",
                                  payload_col="payload", fake=True)
    return feats.select(
        "doc_id", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.element_at("features", 2).alias("f1"),
        F.element_at("features", 3).alias("f2"),
        F.element_at("features", 4).alias("f3"))


@_register(
    "c05e_real_image_decode",
    """
    WITH d AS (
      SELECT doc_id,
             3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
             md5(CAST(doc_id AS VARCHAR))
               || md5(CAST(doc_id + 1000000 AS VARCHAR))
               || md5(CAST(doc_id + 2000000 AS VARCHAR)) AS hx
      FROM documents
    ), b AS (
      SELECT doc_id, w, h,
             list_transform(range(0, w * h),
               i -> ('0x' || substr(hx, 2 * i + 1, 2))::INT // 32)
               AS bins
      FROM d
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(len(list_filter(bins, x -> x = 0)) * 1000000 // (w * h) AS BIGINT) AS f0,
           CAST(len(list_filter(bins, x -> x = 1)) * 1000000 // (w * h) AS BIGINT) AS f1,
           CAST(len(list_filter(bins, x -> x = 2)) * 1000000 // (w * h) AS BIGINT) AS f2,
           CAST(len(list_filter(bins, x -> x = 3)) * 1000000 // (w * h) AS BIGINT) AS f3,
           CAST(len(list_filter(bins, x -> x = 4)) * 1000000 // (w * h) AS BIGINT) AS f4,
           CAST(len(list_filter(bins, x -> x = 5)) * 1000000 // (w * h) AS BIGINT) AS f5,
           CAST(len(list_filter(bins, x -> x = 6)) * 1000000 // (w * h) AS BIGINT) AS f6,
           CAST(len(list_filter(bins, x -> x = 7)) * 1000000 // (w * h) AS BIGINT) AS f7
    FROM b
    """,
    "charter multimodal through the REAL decoder (r03 verdict item 6 "
    "— every prior multimodal driver row exercised fake=True): build "
    "a binary netpbm P5 payload per document IN SQL (header + md5-"
    "derived pixel bytes, dims varying 3-7 x 2-5 per doc), run it "
    "through _real_decode's netpbm path via the production Arrow "
    "mapInPandas operator, and value-check width/height/channels and "
    "the full 8-bin ppm histogram against DuckDB recomputing the "
    "same bytes with integer arithmetic.  Proves header parsing, "
    "dimension extraction and pixel accounting on genuine image "
    "bytes, not the fake stand-in",
)
def c05e_real_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        F.expr("3 + doc_id % 5").alias("w"),
        F.expr("2 + doc_id % 4").alias("h"),
        F.expr("unhex(md5(CAST(doc_id AS STRING)) "
               "|| md5(CAST(doc_id + 1000000 AS STRING)) "
               "|| md5(CAST(doc_id + 2000000 AS STRING)))").alias("raw"))
    src = src.select(
        "doc_id",
        F.concat(
            F.encode(F.concat_ws("", F.lit("P5 "), F.col("w").cast("string"),
                                 F.lit(" "), F.col("h").cast("string"),
                                 F.lit(" 255\n")), "UTF-8"),
            F.expr("substring(raw, 1, w * h)")).alias("payload"))
    feats = decode_image_features(src, id_col="doc_id",
                                  payload_col="payload", fake=False)
    bins = [F.element_at("features", i + 1).alias(f"f{i}")
            for i in range(8)]
    return feats.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        *bins)


@_register(
    "c05c_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, least(8, greatest(1, length(text) // 128))))
               AS i
      FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, i * 128 + 1, 128)) AS frame_md5
    FROM f
    """,
    "charter multimodal: frame-sampling contract — one output row per "
    "sampled frame via explode-shaped mapInPandas (ffmpeg slot stubbed "
    "with deterministic byte slices)",
)
def c05c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    frames = sample_frames(src, id_col="doc_id", payload_col="payload",
                           every_n_bytes=128, max_frames=8, fake=True)
    return frames.select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.md5("frame_bytes").alias("frame_md5"))



@_register(
    "c10_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
               FROM embeddings),
    c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 8),
    asg AS (SELECT vec_id, emb, cent_id FROM (
              SELECT e.vec_id, e.emb, c.cent_id,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.emb, c.cemb), 6)
                                DESC, c.cent_id) AS rn
              FROM e CROSS JOIN c) WHERE rn = 1)
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
    FROM asg a JOIN asg b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35
    """,
    "C1/C2 embedding-cosine near-dup, IVF-cell blocked: pairs are only "
    "compared within their assigned centroid cell — O(sum cell^2) not "
    "O(n^2); at 100 TB cells shard across executors and the cross "
    "product stays per-cell-local",
)
def c10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cell_blocked_neardup(emb, n_cents=8, threshold=0.35)


@_register(
    "b19_pivot",
    """
    SELECT event_type,
           CAST(count(*) FILTER (dayofweek(ts) = 0) AS BIGINT) AS d0,
           CAST(count(*) FILTER (dayofweek(ts) = 1) AS BIGINT) AS d1,
           CAST(count(*) FILTER (dayofweek(ts) = 2) AS BIGINT) AS d2,
           CAST(count(*) FILTER (dayofweek(ts) = 3) AS BIGINT) AS d3,
           CAST(count(*) FILTER (dayofweek(ts) = 4) AS BIGINT) AS d4,
           CAST(count(*) FILTER (dayofweek(ts) = 5) AS BIGINT) AS d5,
           CAST(count(*) FILTER (dayofweek(ts) = 6) AS BIGINT) AS d6
    FROM events GROUP BY event_type
    """,
    "B8 literal pivot: day-of-week columns per event type.  Explicit "
    "pivot values matter at scale — omitting them forces an extra "
    "distinct-scan job just to discover the column set",
)
def b19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).cast("int")
    piv = (ev.select("event_type", dow.alias("dow"))
           .groupBy("event_type")
           .pivot("dow", list(range(7)))
           .count())
    return piv.select(
        "event_type",
        *[F.coalesce(F.col(str(d)), F.lit(0)).cast("long").alias(f"d{d}")
          for d in range(7)])


@_register(
    "b21_window_suite",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w_det AS BIGINT) AS rn,
           CAST(rank() OVER w_val AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w_val AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w_det AS BIGINT) AS quartile,
           lag(value) OVER w_det AS prev_value,
           lead(value) OVER w_det AS next_value,
           CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS running_spend
    FROM events
    WINDOW w_det AS (PARTITION BY user_id ORDER BY ts, event_id),
           w_val AS (PARTITION BY user_id ORDER BY value)
    """,
    "window-function suite: ranking (row_number/rank/dense_rank/"
    "ntile), offsets (lag/lead), and a running decimal sum with an "
    "explicit rows frame — one shuffle on user_id serves all frames",
)
def b21_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w_det = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = W.partitionBy("user_id").orderBy("value")
    w_run = w_det.rowsBetween(W.unboundedPreceding, W.currentRow)
    dec = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w_det).cast("long").alias("rn"),
        F.rank().over(w_val).cast("long").alias("rnk"),
        F.dense_rank().over(w_val).cast("long").alias("drnk"),
        F.ntile(4).over(w_det).cast("long").alias("quartile"),
        F.lag("value").over(w_det).alias("prev_value"),
        F.lead("value").over(w_det).alias("next_value"),
        F.sum(dec).over(w_run).cast("decimal(38,2)").cast("double")
        .alias("running_spend"))


@_register(
    "c04b_from_json_struct",
    """
    SELECT event_id, user_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
    "C4 schema-full JSON parse (from_json to a typed struct, vs c04's "
    "path extraction); the parsed filter prunes before any shuffle",
)
def c04b_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return (parsed.filter(F.col("p.k") > 50)
            .select("event_id", "user_id", F.col("p.k").alias("k")))


@_register(
    "b20_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    "exact interpolated percentiles per group (both engines use the "
    "same linear interpolation).  Exact percentile materializes the "
    "group's values — at 100 TB switch to approx_percentile (t-digest "
    "sketch, mergeable map-side), which the oracle can't replicate",
)
def b20_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
                 F.count("*").cast("long").alias("n")))


@_register(
    "b22_salted_distinct_agg",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
    "skew-safe exact count-distinct: two-phase salted aggregation "
    "(value-hash buckets partition the distinct space, per-bucket "
    "counts sum exactly) — no single reducer ever holds a hot "
    "group's full distinct set",
)
def b22_salted_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.skew import (
        salted_count_distinct)
    ev = _t(spark, sf_dir, "events")
    return salted_count_distinct(ev, group_cols=["event_type"],
                                 distinct_col="user_id", salt_buckets=8)


@_register(
    "b23_approx_sketches",
    None,  # rows-only: sketch estimates differ per implementation
    "approximate sketches for 100 TB interactive profiling: HLL++ "
    "distinct-count and t-digest percentile per group — mergeable "
    "map-side, O(sketch) memory vs O(group) for the exact forms "
    "(b17/b20/b22 are the exact counterparts the oracle verifies)",
)
def b23_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.01).cast("long")
                 .alias("approx_users"),
                 F.percentile_approx("value", 0.95, 10000)
                 .alias("approx_p95"),
                 F.count("*").cast("long").alias("n")))


@_register(
    "b24_full_outer_join",
    """
    WITH purch AS (SELECT user_id, count(*) AS n_purchases
                   FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         err AS (SELECT user_id, count(*) AS n_errors
                 FROM events WHERE event_type = 'error' GROUP BY user_id)
    SELECT coalesce(purch.user_id, err.user_id) AS user_id,
           CAST(coalesce(n_purchases, 0) AS BIGINT) AS n_purchases,
           CAST(coalesce(n_errors, 0) AS BIGINT) AS n_errors
    FROM purch FULL OUTER JOIN err ON purch.user_id = err.user_id
    """,
    "full outer join over pre-aggregated sides: activity ledger "
    "keeping users present on either side only — pre-aggregation "
    "first means the join shuffles distinct keys, not raw events",
)
def b24_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def side(t: str, out: str) -> DataFrame:
        return (ev.filter(F.col("event_type") == t)
                .groupBy("user_id").agg(F.count("*").alias(out)))

    p, r = side("purchase", "n_purchases"), side("error", "n_errors")
    return (p.withColumnRenamed("user_id", "pu")
            .join(r.withColumnRenamed("user_id", "eu"),
                  F.col("pu") == F.col("eu"), "full_outer")
            .select(F.coalesce("pu", "eu").alias("user_id"),
                    F.coalesce("n_purchases", F.lit(0)).cast("long")
                    .alias("n_purchases"),
                    F.coalesce("n_errors", F.lit(0)).cast("long")
                    .alias("n_errors")))


@_register(
    "c11_map_functions",
    """
    WITH m AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*) AS n
      FROM events GROUP BY event_type, dayofweek(ts)
    ), packed AS (
      SELECT event_type, map(list(dow ORDER BY dow), list(n ORDER BY dow)) AS by_dow
      FROM m GROUP BY event_type
    )
    SELECT event_type,
           CAST(cardinality(by_dow) AS BIGINT) AS n_days,
           CAST(list_sum(map_values(by_dow)) AS BIGINT) AS total,
           CAST(map_extract(by_dow, 0)[1] AS BIGINT) AS sunday_n
    FROM packed
    """,
    "map-typed columns: build per-group maps (map_from_entries), "
    "inspect with size/map_values/element_at — the typed-dictionary "
    "column pattern for per-entity feature bundles",
)
def c11_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).cast("long")
    m = (ev.select("event_type", dow.alias("dow"))
         .groupBy("event_type", "dow").agg(F.count("*").alias("n")))
    packed = (m.groupBy("event_type")
              .agg(F.map_from_entries(
                   F.array_sort(F.collect_list(F.struct("dow", "n"))))
                   .alias("by_dow")))
    return packed.select(
        "event_type",
        F.size("by_dow").cast("long").alias("n_days"),
        F.aggregate(F.map_values("by_dow"), F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("total"),
        F.element_at("by_dow", F.lit(0)).cast("long").alias("sunday_n"))


@_register(
    "b25_tumbling_window",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
    "B5 tumbling event-time windows in batch mode (F.window) — hour "
    "buckets align on the epoch in both engines",
)
def b25_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.countDistinct("user_id").cast("long").alias("n_users"))
            .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                    "event_type", "n", "n_users"))


@_register(
    "c12_string_suite",
    """
    SELECT doc_id,
           CAST(levenshtein(substr(text, 1, 12), 'the quick fox') AS BIGINT)
             AS lev,
           translate(substr(text, 1, 20), 'aeiou', '12345') AS tr,
           lpad(source, 12, '*') AS padded,
           reverse(lang) AS rlang,
           CAST(strpos(lower(text), 'the') AS BIGINT) AS first_the
    FROM documents
    """,
    "string-function suite: levenshtein, translate, lpad, reverse, "
    "instr — all codegen'd JVM expressions (levenshtein is the "
    "classic DP, identical in both engines)",
)
def c12_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 12), F.lit("the quick fox"))
        .cast("long").alias("lev"),
        F.translate(F.substring("text", 1, 20), "aeiou", "12345").alias("tr"),
        F.lpad("source", 12, "*").alias("padded"),
        F.reverse("lang").alias("rlang"),
        F.instr(F.lower("text"), "the").cast("long").alias("first_the"))


@_register(
    "c13_array_suite",
    """
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS toks
      FROM documents
    ), s AS (
      SELECT a.doc_id, a.toks AS ta, b.toks AS tb
      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_id,
           CAST(len(ta) AS BIGINT) AS n_a,
           CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS BIGINT)
             AS n_common,
           CAST(len(list_filter(ta, x -> NOT list_contains(tb, x))) AS BIGINT)
             AS n_only_a,
           list_min(ta) AS min_tok,
           list_max(ta) AS max_tok
    FROM s
    """,
    "array-function suite: distinct token sets per doc, intersection/"
    "difference cardinalities against the next doc, array min/max — "
    "order-insensitive outputs so engine-specific array ordering "
    "can't flake the comparison",
)
def c13_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.array_distinct(
        F.split(F.trim(F.lower("text")), " +")).alias("toks"))
    a = t.select("doc_id", F.col("toks").alias("ta"))
    b = t.select((F.col("doc_id") - 1).alias("doc_id"),
                 F.col("toks").alias("tb"))
    return (a.join(b, "doc_id")
            .select("doc_id",
                    F.size("ta").cast("long").alias("n_a"),
                    F.size(F.array_intersect("ta", "tb")).cast("long")
                    .alias("n_common"),
                    F.size(F.array_except("ta", "tb")).cast("long")
                    .alias("n_only_a"),
                    F.array_min("ta").alias("min_tok"),
                    F.array_max("ta").alias("max_tok")))


@_register(
    "b26_datetime_suite",
    """
    SELECT event_id,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(dayofyear(ts) AS BIGINT) AS doy,
           CAST(weekofyear(ts) AS BIGINT) AS iso_week,
           CAST(last_day(ts) AS VARCHAR) AS month_end,
           strftime(ts, '%Y-%m') AS ym,
           CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
             AS days_since_2024
    FROM events
    """,
    "datetime-function suite: calendar extraction (ISO week, day of "
    "year), month boundaries, formatting, date arithmetic — all "
    "native exprs over event time",
)
def b26_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.dayofyear("ts").cast("long").alias("doy"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        F.last_day("ts").cast("string").alias("month_end"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long").alias("days_since_2024"))


@_register(
    "b27_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
             l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    ) WHERE l_orderkey <= 1000
    """,
    "unpivot/melt: wide metric columns to long (entity, metric, value) "
    "rows — the inverse of b19's pivot; Spark's unpivot is an Expand "
    "node (one pass, no join), vs the UNION ALL triple-scan a naive "
    "SQL translation would run",
)
def b27_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric", valueColumnName="value",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


@_register(
    "b28_semi_anti_join",
    """
    WITH purchasers AS (SELECT DISTINCT user_id FROM events
                        WHERE event_type = 'purchase')
    SELECT 'converted' AS cohort, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type = 'view'
      AND user_id IN (SELECT user_id FROM purchasers)
    UNION ALL
    SELECT 'window_shoppers', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events WHERE event_type = 'view'
      AND user_id NOT IN (SELECT user_id FROM purchasers)
    """,
    "left-semi and left-anti joins (B12 family): view events split by "
    "purchaser membership — semi/anti shuffle only the key column and "
    "never duplicate left rows, vs the inner-join+distinct a naive "
    "formulation would pay",
)
def b28_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchasers = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id")

    def cohort(label: str, how: str) -> DataFrame:
        side = views.join(purchasers, "user_id", how)
        return side.agg(
            F.lit(label).alias("cohort"),
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        ).select("cohort", "n_events", "n_users")

    return cohort("converted", "left_semi") \
        .unionByName(cohort("window_shoppers", "left_anti"))


# =====================================================================
# TPC-H-shaped analytics (the canonical OLAP shapes on the same star
# schema; decimal arithmetic per the module's engine-parity rules)
# =====================================================================

@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         * (1 + CAST(l_tax AS DECIMAL(18,2))))
                AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 pricing summary: the canonical wide-agg scan — partial+"
    "final hash agg over 4 decimal sums, pushdown shipdate filter",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price * (F.lit(1) + dec("l_tax"))
    return (li.filter(F.col("l_shipdate") <= "2001-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("decimal(38,2)")
                 .cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("decimal(38,2)")
                 .cast("double").alias("sum_base_price"),
                 F.sum(disc_price).cast("decimal(38,4)")
                 .cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("decimal(38,6)")
                 .cast("double").alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").cast("long").alias("count_order")))


@_register(
    "q03_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue,
           epoch_us(o_orderdate) AS o_orderdate_us
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shipping priority: 3-way star join (broadcast customer "
    "dim), decimal revenue agg, deterministic top-10",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(revenue).cast("decimal(38,4)").cast("double")
                 .alias("revenue"))
            .select("l_orderkey", "revenue",
                    F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    .alias("o_orderdate_us"))
            .orderBy(F.desc("revenue"), "l_orderkey")
            .limit(10))


@_register(
    "q06_forecast_revenue",
    """
    SELECT CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 forecast revenue: pure scan-filter-agg, every predicate "
    "pushed to the parquet reader — the minimal full-scan shape",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (li.filter((F.col("l_shipdate") >= "1997-01-01")
                      & (F.col("l_shipdate") < "1998-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.sum(dec("l_extendedprice") * dec("l_discount"))
                 .cast("decimal(38,4)").cast("double").alias("revenue"),
                 F.count("*").cast("long").alias("n")))


# xxhash64 fast-path variants of the near-dup pipelines: identical
# algorithm, JVM hash instead of the md5-derived portable hash the
# DuckDB oracle requires (~3x less hash cost).  rows-only check; the
# portable twins (c06/c07) carry the value-level verification.

# Exact Jaccard >= 0.5 pair set: the COMPLETENESS reference for the
# LSH fast path.  Not c06f's driver oracle (see note below) — it is
# the ground truth that
# tests/test_rows_only_references.py::test_c06f_recall_contract
# audits recall/subset/value-exactness against.
C06F_EXACT_PAIRS_SQL = f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    common AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2,
                      count(*) AS n_common
               FROM sh s1 JOIN sh s2
                 ON s2.sh = s1.sh AND s1.doc_id < s2.doc_id
               GROUP BY 1, 2),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT d1, d2,
           n_common * 1.0 / (x.n_sh + y.n_sh - n_common) AS jaccard
    FROM common JOIN sizes x ON x.doc_id = d1
                JOIN sizes y ON y.doc_id = d2
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.5
    """


@_register(
    "c06f_minhash_neardup_fast", None,
    "c06 with the xxhash64 base hash (engine fast path, ~3x less "
    "hash cost).  rows-only AGAIN as of r05 close: this ran "
    "value-oracled against the exact Jaccard >= 0.5 pair set from "
    "r04 (hash-independent verify values; recall empirically full at "
    "sf0.001/sf0.01), but a full sf0.1 parity sweep measured the "
    "probabilistic recall gap the note always warned about — 255/256 "
    "pairs, the miss at J = 0.980 between docs (3566, 4666), where "
    "ideal 4-band/4-row theory says P(miss) = (1-J^4)^4 ~ 4e-5; the "
    "16 minwise values are an affine family over ONE xxhash64 base, "
    "whose correlated argmins inflate that ideal rate.  Candidate "
    "recall is a PROBABILISTIC property, so an exact-set oracle is "
    "the wrong contract at scale; c06 (portable md5-48 hash) stays "
    "the value-hash twin because its oracle reproduces the BANDING "
    "itself, misses included.  The compensating checks: emitted "
    "pairs are always a SUBSET of the exact set with EXACT jaccard "
    "values, and recall==1.0 at both test scales "
    "(tests/test_rows_only_references.py::test_c06f_recall_contract vs "
    "C06F_EXACT_PAIRS_SQL)",
)
def c06f_minhash_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # bands=8 (r=2): the banding threshold (1/b)^(1/r) = 0.35 sits
    # BELOW the 0.5 verify threshold, so candidate recall covers the
    # whole accepted range — the r05 sf0.1 miss happened at bands=4
    # (r=4, t* = 0.71), a banding tuned ABOVE the verify threshold
    # that silently relied on the corpus having only high-J pairs.
    # More candidates reach the exact verify; that is the correct
    # side of the tradeoff for a dedup pipeline (missed dups are
    # silent data loss, extra candidates are bounded verify cost).
    out = D.minhash_near_duplicates(docs, "doc_id", "text", num_hashes=16,
                                    bands=8, shingle_n=3, threshold=0.5)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"), "jaccard")


@_register(
    "c07f_simhash_neardup_fast", None,
    "c07 with the xxhash64 base hash (engine fast path; value check "
    "covered by c07).  Irreducibly rows-only, unlike c06f: the "
    "OUTPUT column is signature Hamming distance and the signature "
    "bits are votes over per-shingle xxhash64 bits — both pair "
    "membership and the emitted value are functions of a hash DuckDB "
    "cannot compute, and there is no hash-free verify filter to "
    "anchor on (c06f's exact-Jaccard verify is what makes IT "
    "oracle-able).  Multi-table recall at the radius and c07 parity "
    "are the compensating checks",
)
def c07f_simhash_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = D.simhash_near_duplicates(docs, "doc_id", "text", radius=6,
                                    shingle_n=2)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"),
                      F.col("hamming").cast("long").alias("hamming"))


@_register(
    "q05_local_supplier_volume",
    """
    SELECT n_name,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    "TPC-H Q5 local supplier volume: the capstone 6-table join — two "
    "big facts plus four broadcast dims, same-nation customer/supplier "
    "constraint, decimal revenue per nation.  Only the two fact joins "
    "shuffle; every dim is broadcast",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1998-01-01")))
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re_ = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
            .join(F.broadcast(su),
                  (li.l_suppkey == su.s_suppkey)
                  & (cu.c_nationkey == su.s_nationkey))
            .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
            .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
            .groupBy("n_name")
            .agg(F.sum(revenue).cast("decimal(38,4)").cast("double")
                 .alias("revenue"),
                 F.count("*").cast("long").alias("n_items")))


@_register(
    "q18_large_volume_customer",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_name, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           epoch_us(o_orderdate) AS o_orderdate_us,
           CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM orders
      JOIN big ON o_orderkey = big.l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN lineitem ON lineitem.l_orderkey = o_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18 large-volume customers: HAVING-filtered aggregate "
    "feeding a join (the filtered key set acts as a semi-join "
    "reducer before the wide join), deterministic top-100",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    dec_qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dec_qty).alias("q"))
           .filter(F.col("q") > 250)
           .select("l_orderkey"))
    return (li.join(big, "l_orderkey")
            .join(o, F.col("l_orderkey") == o.o_orderkey)
            .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
            .groupBy("c_name", "o_orderkey", "o_orderdate")
            .agg(F.sum(dec_qty).cast("decimal(38,2)").cast("double")
                 .alias("total_qty"))
            .select("c_name", F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    .alias("o_orderdate_us"),
                    "total_qty")
            .orderBy(F.desc("total_qty"), "o_orderkey")
            .limit(100))


@_register(
    "q04_exists_subquery",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: correlated EXISTS subquery — Catalyst rewrites "
    "it to a left-semi join, so the subquery costs one semi-join "
    "shuffle, not a per-row probe",
)
def q04_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q04_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q04_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM q04_orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM q04_lineitem
                      WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
        GROUP BY o_orderpriority
    """)


@_register(
    "q17_small_qty_revenue",
    """
    SELECT p_brand,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS small_qty_revenue,
           CAST(count(*) AS BIGINT) AS n_small
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand
    """,
    "TPC-H Q17 shape: correlated scalar AVG subquery per part — "
    "Catalyst decorrelates it into one per-partkey aggregate joined "
    "back to the fact (two shuffles total), never a per-row subquery "
    "probe.  l_quantity is integer-valued so the avg threshold is "
    "bit-identical across engines",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql("""
        SELECT p_brand,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS DOUBLE) AS small_qty_revenue,
               CAST(count(*) AS BIGINT) AS n_small
        FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                            FROM q17_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
    """)


# =====================================================================
# C-tier round 2: training-data curation operators (TF-IDF vocabulary,
# train/test contamination, PII scrub, corpus rebalancing) + three more
# TPC-H join/subquery shapes (Q13, Q19, Q22).
# =====================================================================

@_register(
    "c14_tfidf_top_terms",
    f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest({_duck_toks()}) AS term FROM documents
    ),
    tf AS (SELECT lang, term, count(*) AS tf FROM tk GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1)
    SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(tf * 1000000 // df AS BIGINT) AS score
    FROM tf JOIN df USING (term)
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY score DESC, term) <= 5
    """,
    "LLM-curation: per-language top-5 vocabulary by an integer tf-idf "
    "score (term frequency x 1e6 / corpus document frequency — integer "
    "arithmetic so both engines agree exactly; log-idf would differ in "
    "ulps).  explode -> two hash aggs -> join -> per-group top-k; at "
    "100 TB the df side is a broadcast after aggregation",
)
def c14_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tk = docs.select("doc_id", "lang",
                     F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                       " +")).alias("term"))
    tf = tk.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df_ = (tk.select("doc_id", "term").distinct()
           .groupBy("term").agg(F.count("*").alias("df")))
    scored = (tf.join(df_, "term")
              .withColumn("score",
                          F.expr("tf * 1000000 DIV df").cast("long")))
    w = W.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("lang", "term", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "score"))


@_register(
    "c15_contamination_check",
    f"""
    WITH t AS (SELECT doc_id, lang, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, lang, unnest({_duck_shingles(3)}) AS sh FROM t),
    train AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
    test_hit AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN train USING (sh)
      WHERE s.doc_id % 2 = 1
    )
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_test_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN test_hit h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 2 = 1
    GROUP BY d.lang
    """,
    "LLM-curation: train/test contamination check — 3-gram shingles of "
    "the held-out split semi-joined against the training split's "
    "shingle set; per-language contamination counts.  The train set "
    "collapses to DISTINCT shingles before the join (shuffle keys, "
    "never documents); the canonical decontamination shape at corpus "
    "scale",
)
def c15_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", "lang",
        F.explode(D.token_shingles(F.col("text"), 3)).alias("sh"))
    train = sh.filter(F.col("doc_id") % 2 == 0).select("sh").distinct()
    test_hit = (sh.filter(F.col("doc_id") % 2 == 1)
                .join(train, "sh", "left_semi")
                .select("doc_id").distinct()
                .withColumn("_hit", F.lit(1)))
    return (docs.filter(F.col("doc_id") % 2 == 1)
            .join(test_hit, "doc_id", "left")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_test_docs"),
                 F.count("_hit").cast("long").alias("n_contaminated")))


@_register(
    "c16_pii_scrub",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             text || ' contact user-' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-0' || CAST(doc_id % 1000 AS VARCHAR)
                  AS raw
      FROM documents
    ), s AS (
      SELECT doc_id, source, raw,
             regexp_replace(regexp_replace(raw,
                 '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                 '\+[0-9][0-9-]{7,}', '<PHONE>', 'g') AS scrubbed
      FROM w
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN scrubbed <> raw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scrubbed,
           CAST(sum(length(raw) - length(scrubbed)) AS BIGINT)
             AS chars_removed
    FROM s GROUP BY source
    """,
    "LLM-curation: PII scrub — email/phone regexp_replace over the "
    "corpus (deterministically injected PII so the fixture actually "
    "exercises the patterns), per-source scrub accounting.  Pure "
    "narrow map; the regexes stay in the POSIX-compatible subset both "
    "Java and RE2 implement identically",
)
def c16_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"), F.lit(" contact user-"),
        F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-0"),
        (F.col("doc_id") % 1000).cast("string"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, r"[a-z0-9._-]+@[a-z0-9.-]+", "<EMAIL>"),
        r"\+[0-9][0-9-]{7,}", "<PHONE>")
    return (docs.select("source", raw.alias("raw"),
                        scrubbed.alias("scrubbed"))
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("scrubbed") != F.col("raw"), 1)
                       .otherwise(0)).cast("long").alias("n_scrubbed"),
                 F.sum(F.length("raw") - F.length("scrubbed"))
                 .cast("long").alias("chars_removed")))


@_register(
    "c17_stratified_sample",
    f"""
    WITH s AS (
      SELECT lang, doc_id,
             {_duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
             CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM s GROUP BY lang
    """,
    "LLM-curation: language-rebalancing via DETERMINISTIC hash "
    "sampling — keep 10% of the dominant language, 50% of the rest, "
    "membership decided by md5(doc_id) mod 100 so the sample is "
    "reproducible across engines, runs and cluster sizes (sampleBy "
    "with a seed is only reproducible within one engine)",
)
def c17_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(D.portable_hash64(F.col("doc_id").cast("string")),
                    F.lit(100))
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return (docs.select("lang", bucket.alias("bucket"), rate.alias("rate"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("bucket") < F.col("rate"), 1)
                       .otherwise(0)).cast("long").alias("n_kept")))


@_register(
    "q13_order_count_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    "TPC-H Q13 shape: customer order-count distribution — left outer "
    "join with an ON-clause filter (kept on the join, NOT pushed as a "
    "WHERE, or customers with only urgent orders would vanish), then "
    "a two-level aggregate.  One shuffle per level; the outer join "
    "preserves zero-order customers as c_count=0",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
                .groupBy(c["c_custkey"])
                .agg(F.count(o["o_orderkey"]).cast("long").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").cast("long").alias("custdist")))


@_register(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 45)
    """,
    "TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides — "
    "the optimizer must split the disjunction into the single-side "
    "conjuncts it CAN push (brand/size to the part scan, quantity "
    "range to lineitem) while evaluating the cross-side residual on "
    "the joined rows; broadcast part dim",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q19_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q19_part")
    return spark.sql("""
        SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM q19_lineitem JOIN q19_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 15)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 45)
    """)


@_register(
    "q22_dormant_accounts",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (
        SELECT CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) / count(*)
        FROM customer
        WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    "TPC-H Q22 shape: above-average account balance (uncorrelated "
    "scalar subquery, computed once and broadcast as a literal) for "
    "customers with NO orders (NOT EXISTS -> left-anti join).  The "
    "threshold is exact-decimal-sum / count in DOUBLE so both engines "
    "agree bit-for-bit; nationkey membership stands in for the "
    "reference query's phone prefixes",
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders")
    return spark.sql("""
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS DOUBLE) AS totacctbal
        FROM q22_customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND c_acctbal > (
            SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                        AS DECIMAL(38,2)) AS DOUBLE) / count(*)
            FROM q22_customer
            WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
          AND NOT EXISTS (SELECT 1 FROM q22_orders
                          WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    """)


@_register(
    "b29_sessionization",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), f AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), g AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM f
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, session_id
    """,
    "batch sessionization (gaps-and-islands): 30-minute-gap sessions "
    "via lag + running sum of session starts, then one aggregate per "
    "session.  ONE shuffle on user_id serves both window passes and "
    "pre-partitions the final groupBy; the streaming twin (GroupState "
    "timers closing a session once the watermark passes its gap) is "
    "b136's timed_out_user_sessions in streaming/stateful.py",
)
def b29_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    sess = (ev.withColumn("new_s", new_s)
            .withColumn("session_id",
                        F.sum("new_s").over(
                            w.rowsBetween(W.unboundedPreceding, 0))))
    return (sess.groupBy("user_id",
                         F.col("session_id").cast("long").alias("session_id"))
            .agg(F.unix_micros(F.min("ts")).alias("session_start_us"),
                 F.unix_micros(F.max("ts")).alias("session_end_us"),
                 F.count("*").cast("long").alias("n_events")))


@_register(
    "b30_retention_cohorts",
    """
    WITH a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ), c AS (
      SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id
    )
    SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
           strftime(wk, '%Y-%m-%d') AS activity_week,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
    "retention cohort matrix: users bucketed by first-activity week, "
    "counted in every week they return.  distinct (user, week) first "
    "so the self-join shuffles at most |users| x |weeks| keys, never "
    "raw events; the cohort mapping is a per-user aggregate joined "
    "back (broadcast when |users| fits)",
)
def b30_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = (ev.select("user_id",
                   F.date_trunc("week", F.col("ts")).alias("wk"))
         .distinct())
    c = a.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (a.join(c, "user_id")
            .groupBy(F.date_format("cohort_wk", "yyyy-MM-dd")
                     .alias("cohort_week"),
                     F.date_format("wk", "yyyy-MM-dd")
                     .alias("activity_week"))
            .agg(F.count("*").cast("long").alias("n_users")))


@_register(
    "c05d_audio_features",
    """
    WITH d AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS dig,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS bs
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(CASE ('0x' || substr(dig, 1, 2))::INT % 4
                WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(1 + ('0x' || substr(dig, 3, 2))::INT % 2 AS BIGINT)
             AS n_channels,
           CAST(n_bytes // (1 + ('0x' || substr(dig, 3, 2))::INT % 2)
                AS BIGINT) AS n_samples,
           CAST(CASE WHEN n_bytes = 0 THEN 0
                     ELSE list_max(bs) END AS BIGINT) AS peak,
           CAST(CASE WHEN n_bytes = 0 THEN 0
                     ELSE floor(sqrt(list_sum(list_transform(bs, b -> b * b))
                                     // n_bytes)) END AS BIGINT) AS rms
    FROM d
    """,
    "charter multimodal (audio): binary payload -> Arrow-batched "
    "mapInPandas -> typed audio metadata + integer-exact amplitude "
    "stats.  Oracle checks the deterministic fake path (text bytes "
    "stand in for PCM); the REAL path (pure-Python RIFF/WAV decode) "
    "is exercised by unit tests on generated WAV fixtures",
)
def c05d_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.multimodal import (
        decode_audio_features)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    payload = docs.select("doc_id",
                          F.encode(F.col("text"), "UTF-8").alias("payload"))
    out = decode_audio_features(payload, id_col="doc_id",
                                payload_col="payload", fake=True)
    return out.select("doc_id",
                      F.col("n_bytes").cast("long").alias("n_bytes"),
                      F.col("sample_rate").cast("long").alias("sample_rate"),
                      F.col("n_channels").cast("long").alias("n_channels"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      F.col("peak").cast("long").alias("peak"),
                      F.col("rms").cast("long").alias("rms"))


@_register(
    "q10_returned_item_revenue",
    """
    SELECT c_custkey, c_name,
           CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: top-20 customers by returned-item revenue — "
    "3-way join with the returnflag filter pushed into the fact scan, "
    "decimal revenue agg, TakeOrderedAndProject with a key tiebreak",
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("c_custkey", "c_name")
            .agg(F.sum(rev).cast("decimal(38,4)").cast("double")
                 .alias("revenue"),
                 F.count("*").cast("long").alias("n_items"))
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20))


@_register(
    "q12_priority_line_counts",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    "TPC-H Q12 shape: conditional counts after a fact-fact join — the "
    "CASE WHEN pair folds both priority classes into ONE aggregation "
    "pass (vs two filtered scans), shipdate range pushed to parquet",
)
def q12_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("long")
                 .alias("low_line_count")))


@_register(
    "q14_promo_revenue_pct",
    """
    SELECT CAST(CAST(CAST(100 * sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS promo_revenue_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
    """,
    "TPC-H Q14 shape: promo revenue share — conditional / total "
    "aggregate ratio in one pass over the part join; both sums are "
    "exact decimals cast to double before the single division, so the "
    "ratio is bit-identical across engines",
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-06-01"))
    p = _t(spark, sf_dir, "part")
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO",
                   rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .agg(((F.lit(100) * F.sum(promo)).cast("decimal(38,4)")
                  .cast("double")
                  / F.sum(rev).cast("decimal(38,4)").cast("double"))
                 .alias("promo_revenue_pct"),
                 F.count("*").cast("long").alias("n_lines")))


@_register(
    "c18_kmeans_ivf_ann", None,
    "C2 IVF with TRAINED centroids: pyspark.ml k-means (fixed seed) "
    "learns the 8 cells, then the same shuffle-free literal-argmax "
    "assignment and 2-cell probe as c09.  rows-only check (k-means "
    "isn't SQL-expressible); the recall invariant full-probe == "
    "brute-force is pinned by tests/test_operators_extra.py",
)
def c18_kmeans_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_centroids(emb, k=8, seed=42, max_iter=5)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb"))
    return SIM.ivf_topk(emb, qv, n_cents=8, n_probe=2, k=20,
                        payload=["vec_id", "label"], centroids=cents)


@_register(
    "b31_outlier_filter",
    """
    WITH r AS (
      SELECT event_type, value, event_id,
             percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS pr
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN pr >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(min(CASE WHEN pr >= 0.9 THEN value END), 6)
             AS outlier_threshold
    FROM r GROUP BY event_type
    """,
    "outlier filtering: per-group p90 cut via percent_rank (rank-based "
    "so engine float-summation order cannot move the boundary) — the "
    "delay-outlier KPI shape; one shuffle serves the window AND "
    "pre-partitions the aggregate",
)
def b31_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.withColumn("pr", F.percent_rank().over(w))
    out = F.col("pr") >= 0.9
    return (r.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.when(out, 1).otherwise(0)).cast("long")
                 .alias("n_outliers"),
                 F.round(F.min(F.when(out, F.col("value"))), 6)
                 .alias("outlier_threshold")))


@_register(
    "b32_sequence_gap_detection",
    """
    WITH kept AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_returnflag <> 'R'
    ), g AS (
      SELECT l_orderkey, l_linenumber,
             lag(l_linenumber) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber) AS prev
      FROM kept
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_broken_orders,
           CAST(sum(l_linenumber - prev - 1) AS BIGINT) AS n_missing
    FROM g WHERE prev IS NOT NULL AND l_linenumber - prev > 1
    """,
    "sequence-gap detection (the reference's acknowledged feed-gap "
    "problem, README.md:137-138): after dropping returned lines, find "
    "orders whose line-number sequence has holes via lag diff > 1 — "
    "the data-quality audit for stop_sequence continuity, one window "
    "shuffle + scalar aggregate",
)
def b32_sequence_gap_detection(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") != "R").select("l_orderkey", "l_linenumber")
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    g = li.withColumn("prev", F.lag("l_linenumber").over(w))
    gaps = g.filter(F.col("prev").isNotNull()
                    & (F.col("l_linenumber") - F.col("prev") > 1))
    return gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.countDistinct("l_orderkey").cast("long").alias("n_broken_orders"),
        F.sum(F.col("l_linenumber") - F.col("prev") - 1).cast("long")
        .alias("n_missing"))


@_register(
    "b33_funnel_analysis",
    """
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
                             AND e.ts >= v.t_view
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
                             AND e.ts >= c.t_click
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
    "funnel analysis: users reaching view -> click-after-view -> "
    "purchase-after-click.  The oracle walks the funnel with three "
    "aggregate+join passes; Spark does it in ONE shuffle — per-user "
    "conditional min (first view) plus sorted conditional collects, "
    "then array HOFs pick the first click >= first view and the first "
    "purchase >= that click.  Per-user event lists are bounded, so "
    "the collect is safe at 100 TB and saves two fact shuffles",
)
def b33_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = (ev.filter(F.col("event_type")
                          .isin("view", "click", "purchase"))
                .groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("ts"))).alias("t_view"),
                     F.sort_array(F.collect_list(
                         F.when(F.col("event_type") == "click",
                                F.col("ts")))).alias("clicks"),
                     F.sort_array(F.collect_list(
                         F.when(F.col("event_type") == "purchase",
                                F.col("ts")))).alias("purchases")))
    t_click = F.array_min(F.filter(
        "clicks", lambda t: t >= F.col("t_view")))
    stages = (per_user
              .withColumn("t_click", t_click)
              .withColumn("t_purchase", F.array_min(F.filter(
                  "purchases", lambda t: t >= F.col("t_click")))))
    return stages.agg(
        F.count("t_view").cast("long").alias("n_view"),
        F.count(F.when(F.col("t_view").isNotNull(),
                       F.col("t_click"))).cast("long")
        .alias("n_view_click"),
        F.count(F.when(F.col("t_view").isNotNull(),
                       F.col("t_purchase"))).cast("long")
        .alias("n_view_click_purchase"))


@_register(
    "c20_label_centroids",
    """
    SELECT label, CAST(i AS BIGINT) AS dim,
           CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                AS BIGINT) AS sum_q,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                AS DOUBLE) / count(*) AS mean_q
    FROM embeddings, range(1, 65) r(i)
    GROUP BY label, i
    """,
    "LLM-curation: per-label embedding centroid (the class-prototype "
    "vector behind nearest-centroid classification and IVF training). "
    "Elements are quantized per-row (floor(x*1e6) — floor is "
    "tie-free, unlike round) so per-dimension sums are exact BIGINTs "
    "at any aggregation order; the mean divides two exact ints in "
    "DOUBLE.  Spark: posexplode -> (label, dim) hash agg with "
    "map-side partial combine — the canonical distributed shape for "
    "64-dim x N-vector mean pooling",
)
def c20_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"))
    return (q.select("label", (F.col("pos") + 1).cast("long").alias("dim"),
                     F.floor(F.col("x").cast("double") * 1000000)
                     .cast("long").alias("xq"))
            .groupBy("label", "dim")
            .agg(F.sum("xq").cast("long").alias("sum_q"),
                 F.count("*").cast("long").alias("n_vecs"))
            .withColumn("mean_q",
                        F.col("sum_q").cast("double") / F.col("n_vecs")))


@_register(
    "b34_moving_range_window",
    """
    WITH d AS (
      SELECT o_orderpriority AS pri,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT)
               AS day_no,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS day_rev
      FROM orders GROUP BY 1, 2)
    SELECT pri, day_no,
           CAST(CAST(CAST(sum(day_rev) OVER w7 AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
             AS rev_7d,
           CAST(count(*) OVER w7 AS BIGINT) AS n_days_7d
    FROM d
    WINDOW w7 AS (PARTITION BY pri ORDER BY day_no
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "moving RANGE-frame window: 7-day trailing revenue per priority "
    "class over a daily pre-aggregate.  RANGE frames bound by the "
    "ORDER-BY VALUE (calendar days, including absent ones) — ROWS "
    "frames can't express this over sparse days.  The pre-aggregate "
    "collapses the fact before the window, so the window sort touches "
    "days x groups rows, not raw orders; one shuffle serves both the "
    "daily agg and the frame",
)
def b34_moving_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = (o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long").alias("day_no"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(38,2)").alias("day_rev")))
    w7 = (W.partitionBy("pri").orderBy("day_no").rangeBetween(-6, 0))
    return daily.select(
        "pri", "day_no",
        F.sum("day_rev").over(w7).cast("decimal(38,2)").cast("double")
        .alias("rev_7d"),
        F.count("*").over(w7).cast("long").alias("n_days_7d"))


@_register(
    "b35_gap_fill_forward",
    """
    WITH d AS (
      SELECT o_orderpriority AS pri,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT)
               AS day_no,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-03-01 00:00:00'
      GROUP BY 1, 2),
    bounds AS (SELECT min(day_no) AS lo, max(day_no) AS hi FROM d),
    spine AS (
      SELECT pri, gs.day_no
      FROM (SELECT DISTINCT pri FROM d),
           (SELECT unnest(generate_series(lo, hi)) AS day_no
            FROM bounds) gs),
    joined AS (
      SELECT s.pri, s.day_no, d.n_orders
      FROM spine s LEFT JOIN d ON s.pri = d.pri AND s.day_no = d.day_no)
    SELECT pri, day_no,
           CAST(coalesce(last_value(n_orders IGNORE NULLS) OVER (
                  PARTITION BY pri ORDER BY day_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0) AS BIGINT) AS n_orders_filled,
           n_orders IS NULL AS was_gap
    FROM joined
    """,
    "time-series gap fill: dense calendar spine (sequence/explode "
    "cross the group dim) left-joined to sparse daily aggregates, "
    "missing days forward-filled with last_value IGNORE NULLS.  The "
    "spine is generated, never scanned; the fill is one window over "
    "the same (pri) shuffle the join needs.  The canonical shape for "
    "regularizing sensor/feed cadence before downstream windows",
)
def b35_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1996-03-01")))
    d = (o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long").alias("day_no"))
        .agg(F.count("*").cast("long").alias("n_orders")))
    bounds = d.agg(F.min("day_no").alias("lo"), F.max("day_no").alias("hi"))
    spine = (d.select("pri").distinct()
             .crossJoin(F.broadcast(bounds))
             .select("pri", F.explode(F.sequence("lo", "hi"))
                     .alias("day_no")))
    joined = spine.join(d, ["pri", "day_no"], "left")
    w = (W.partitionBy("pri").orderBy("day_no")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return joined.select(
        "pri", "day_no",
        F.coalesce(F.last("n_orders", ignorenulls=True).over(w),
                   F.lit(0)).cast("long").alias("n_orders_filled"),
        F.col("n_orders").isNull().alias("was_gap"))


@_register(
    "c21_doc_chunking",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t),
    starts AS (
      SELECT doc_id, toks, n_tok,
             unnest(generate_series(0,
                    CAST(greatest(ceil((n_tok - 8) / 24.0) - 1, 0)
                         AS BIGINT))) AS chunk_idx
      FROM n WHERE n_tok > 0)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32])
                AS BIGINT) AS n_tokens,
           array_to_string(toks[chunk_idx * 24 + 1 :
                                chunk_idx * 24 + 32], ' ') AS chunk_text
    FROM starts
    """,
    "LLM-curation: overlapping token-window chunking (32-token "
    "chunks, 8-token overlap, stride 24) — the context-window "
    "splitter every training pipeline runs before tokenization.  "
    "tokens -> per-doc start-index sequence -> explode -> slice; "
    "narrow except the explode (output rows ~ tokens/stride), no "
    "shuffle at all — scales as a pure map over 100 TB of text",
)
def c21_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("toks"))
    n = toks.withColumn("n_tok", F.size("toks")).filter(F.col("n_tok") > 0)
    starts = n.select(
        "doc_id", "toks",
        F.explode(F.sequence(
            F.lit(0),
            F.greatest(F.ceil((F.col("n_tok") - 8) / 24.0) - 1,
                       F.lit(0)).cast("long"))).alias("chunk_idx"))
    chunk = F.slice("toks", F.col("chunk_idx").cast("int") * 24 + 1, 32)
    return starts.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


@_register(
    "c22_sequence_packing",
    f"""
    WITH t AS (SELECT doc_id, lang, len({_duck_toks()}) AS n_tok
               FROM documents),
    runs AS (
      SELECT doc_id, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tok AS cum_before
      FROM t)
    SELECT lang, CAST(cum_before // 256 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM runs GROUP BY lang, batch_id
    """,
    "LLM-curation: contiguous sequence packing — docs in stable "
    "doc_id order fill 256-token training batches per language "
    "(batch = running-token-count-before DIV budget; deterministic, "
    "engine-exact integer arithmetic).  The window cumsum runs per "
    "LANGUAGE partition: at 100 TB the partition key is the shard "
    "key, so no global sort exists anywhere.  One shuffle serves "
    "cumsum and the batch rollup",
)
def c22_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
        .cast("long").alias("n_tok"))
    w = (W.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    runs = t.withColumn("cum_before",
                        F.sum("n_tok").over(w) - F.col("n_tok"))
    return (runs.withColumn("batch_id",
                            F.expr("cum_before div 256").cast("long"))
            .groupBy("lang", "batch_id")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.min("doc_id").cast("long").alias("first_doc"),
                 F.max("doc_id").cast("long").alias("last_doc")))
