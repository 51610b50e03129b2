"""Round-3 additions: grouped top-k, CDC snapshot diff, segment-level
corpus dedup, and train-set decontamination removal.

- b42: per-GROUP top-k (b07 is global top-k; the grouped form has a
  different physical shape — pre-aggregate, then a bounded window per
  group — and is the "top pages per domain / top users per cohort"
  staple).
- b43: CDC snapshot diff — classify insert/update/delete/unchanged
  between two table versions with one full-outer join on the key; the
  shape behind every incremental-load reconciliation job.
- c29: CCNet-style segment-level exact dedup (Wenzek et al. 2020 dedup
  lines across shards; here fixed 10-token segments since the corpus
  has no newlines): count global segment occurrences, drop repeated
  segments, rebuild the document.
- c30: decontamination REMOVAL — c15 reports test-set contamination;
  this drops contaminated docs from the TRAIN split (the direction
  actual pretraining pipelines apply, cf. GPT-3 appendix C).

Engine-parity conventions follow driver_queries: BIGINT casts on int
outputs, floor(value*100) integer cents instead of float sums,
identical aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tp_airflow_gtfs_snowflake_spark.operators import dedup as D
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    REGISTRY, _register, _t)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
    _duck_shingles, _duck_toks, _spread)


@_register(
    "b42_topk_per_group",
    """
    WITH agg AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, user_id
    ), rnk AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY value_cents DESC, user_id) AS rn
      FROM agg
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, user_id, value_cents,
           n_events
    FROM rnk WHERE rn <= 3
    """,
    "grouped top-k: top-3 users by spend per event type.  Two-phase "
    "shape: hash pre-aggregate first (map-side combine shrinks the "
    "shuffle to distinct (type,user) pairs), THEN a row_number window "
    "whose partitions are the handful of groups — the window never "
    "sees raw events.  At 100 TB the pre-agg is the only full-data "
    "shuffle; integer cents (floor(value*100)) keep the rank key "
    "exact and order-independent",
)
def b42_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type", "user_id")
           .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
                .cast("long").alias("value_cents"),
                F.count("*").cast("long").alias("n_events")))
    w = W.partitionBy("event_type").orderBy(
        F.desc("value_cents"), F.asc("user_id"))
    return (agg.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("event_type", F.col("rn").cast("long").alias("rn"),
                    "user_id", "value_cents", "n_events"))


@_register(
    "b43_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT)
               AS price_cents
      FROM orders WHERE o_orderkey % 97 <> 0
    ), new AS (
      SELECT o_orderkey,
             CAST(floor((o_totalprice
                         + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
                        * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 89 <> 0
    ), d AS (
      SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN n.price_cents <> o.price_cents THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(n.price_cents, 0) - COALESCE(o.price_cents, 0)
               AS delta_cents
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(delta_cents) AS BIGINT) AS delta_cents
    FROM d GROUP BY change_type
    """,
    "CDC snapshot diff: two deterministic versions of orders (drops "
    "simulate deletes/inserts, +1 on every 13th key simulates "
    "updates) reconciled with ONE full-outer sort-merge join on the "
    "key, classified insert/update/delete/unchanged.  At 100 TB both "
    "snapshots shuffle once on the join key — bucket both snapshots "
    "by key at write time and the diff becomes exchange-free; integer "
    "cents make the per-class delta sums exact",
)
def b43_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    old = (orders.filter(F.col("o_orderkey") % 97 != 0)
           .select("o_orderkey", cents.alias("price_cents")))
    bump = F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)
    new = (orders.filter(F.col("o_orderkey") % 89 != 0)
           .select("o_orderkey",
                   F.floor((F.col("o_totalprice") + bump) * 100)
                   .cast("long").alias("price_cents")))
    j = old.alias("o").join(new.alias("n"),
                            F.col("o.o_orderkey") == F.col("n.o_orderkey"),
                            "full_outer")
    change = (F.when(F.col("o.o_orderkey").isNull(), "insert")
              .when(F.col("n.o_orderkey").isNull(), "delete")
              .when(F.col("n.price_cents") != F.col("o.price_cents"),
                    "update")
              .otherwise("unchanged"))
    delta = (F.coalesce(F.col("n.price_cents"), F.lit(0))
             - F.coalesce(F.col("o.price_cents"), F.lit(0)))
    return (j.select(change.alias("change_type"),
                     delta.alias("delta_cents"))
            .groupBy("change_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("delta_cents").cast("long").alias("delta_cents")))


@_register(
    "c29_segment_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents
               WHERE length(trim(text)) > 0),
    s AS (SELECT doc_id,
                 list_transform(range(0, ((len(toks) - 1) // 10) + 1),
                   i -> array_to_string(toks[(i*10+1):(i*10+10)], ' '))
                   AS segs
          FROM t),
    seg AS (SELECT doc_id, i AS seg_pos, segs[i + 1] AS seg_text
            FROM (SELECT doc_id, segs,
                         unnest(range(0, len(segs))) AS i FROM s)),
    cnt AS (SELECT md5(seg_text) AS h, count(*) AS n
            FROM seg GROUP BY md5(seg_text)),
    j AS (SELECT g.doc_id, g.seg_pos, g.seg_text, c.n
          FROM seg g JOIN cnt c ON md5(g.seg_text) = c.h)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segs,
           COALESCE(string_agg(CASE WHEN n = 1 THEN seg_text END,
                               ' ' ORDER BY seg_pos), '') AS clean_text
    FROM j GROUP BY doc_id
    """,
    "LLM-curation: segment-level exact dedup (CCNet dedups LINES "
    "across the corpus; fixed 10-token segments here).  The global "
    "occurrence count groups by md5(segment) so the shuffle carries "
    "128-bit keys, never text; the rebuild is one per-doc hash agg "
    "over struct(pos,text) with collect_list->array_sort (null-"
    "skipping collect keeps only unique segments).  At 100 TB: "
    "2 shuffles total (segment-hash count + doc rebuild), both "
    "map-side combinable",
)
def c29_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    nseg = (F.floor((F.size("toks") - 1) / 10) + 1).cast("int")
    segs = (docs.filter(F.length(F.trim("text")) > 0)
            .select("doc_id", toks.alias("toks"))
            .select("doc_id",
                    F.transform(
                        F.sequence(F.lit(0), nseg - 1),
                        lambda i: F.array_join(
                            F.slice("toks", i * 10 + 1, 10), " "))
                    .alias("segs"))
            .select("doc_id",
                    F.posexplode("segs").alias("seg_pos", "seg_text")))
    segs = segs.withColumn("h", F.md5("seg_text"))
    cnt = segs.groupBy("h").agg(F.count("*").alias("n"))
    j = segs.join(cnt, "h")
    uniq = F.when(F.col("n") == 1,
                  F.struct(F.col("seg_pos"), F.col("seg_text")))
    return (j.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_segs"),
                 F.sum((F.col("n") > 1).cast("int")).cast("long")
                 .alias("n_dup_segs"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list(uniq)),
                                 lambda s: s["seg_text"]), " ")
                 .alias("clean_text")))


@_register(
    "c30_decontam_removal",
    f"""
    WITH t AS (SELECT doc_id, source, {_duck_toks()} AS toks
               FROM documents),
    sh AS (SELECT doc_id, source, unnest({_duck_shingles(3)}) AS sh
           FROM t),
    test_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 1),
    hit AS (SELECT DISTINCT s.doc_id FROM sh s JOIN test_sh USING (sh)
            WHERE s.doc_id % 2 = 0)
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_train,
           CAST(count(h.doc_id) AS BIGINT) AS n_removed,
           CAST(count(*) - count(h.doc_id) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN h.doc_id IS NULL THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 2 = 0
    GROUP BY d.source
    """,
    "LLM-curation: decontamination REMOVAL — drop every TRAIN doc "
    "sharing a 3-gram shingle with the held-out split (c15 measures; "
    "this applies the cut, the GPT-3-style direction).  The test "
    "side collapses to DISTINCT shingles before the semi-join, so "
    "the join shuffles shingle keys against a set whose size is the "
    "test corpus, not the train corpus; per-source kept/removed "
    "accounting comes from one left join on doc_id",
)
def c30_decontam_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", "source",
        F.explode(D.token_shingles(F.col("text"), 3)).alias("sh"))
    test_sh = sh.filter(F.col("doc_id") % 2 == 1).select("sh").distinct()
    hit = (sh.filter(F.col("doc_id") % 2 == 0)
           .join(test_sh, "sh", "left_semi")
           .select("doc_id").distinct()
           .withColumn("_hit", F.lit(1)))
    return (docs.filter(F.col("doc_id") % 2 == 0)
            .join(hit, "doc_id", "left")
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_train"),
                 F.count("_hit").cast("long").alias("n_removed"),
                 (F.count("*") - F.count("_hit")).cast("long")
                 .alias("n_kept"),
                 F.sum(F.when(F.col("_hit").isNull(), F.col("n_chars"))
                       .otherwise(0)).cast("long").alias("kept_chars")))


@_register(
    "b44_bitmap_distinct",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS distinct_users
    FROM events GROUP BY event_type
    """,
    "exact distinct via Spark's bitmap aggregates: user ids map to "
    "(bucket, bit) positions, bitmap_construct_agg ORs per-bucket "
    "bitmaps, bitmap_count sums exact cardinalities — the shuffle "
    "carries fixed-size bitmaps (<=4KB/bucket) instead of raw ids, "
    "and partials merge associatively like HLL (b41) but EXACT.  The "
    "two-phase rewrite of COUNT(DISTINCT) every warehouse engine "
    "does, expressed with native Spark 3.5+ functions; oracle is the "
    "plain count-distinct spec",
)
def b44_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lvl1 = (ev.groupBy(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
             .alias("bm")))
    return (lvl1.groupBy("event_type")
            .agg(F.sum(F.bitmap_count("bm")).cast("long")
                 .alias("distinct_users")))


@_register(
    "b45_event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), c AS (
      SELECT event_type AS from_type, next_type AS to_type,
             count(*) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS share_ppm
    FROM c
    """,
    "event-transition (Markov) matrix: per-user lead() pairs "
    "consecutive events, one (from,to) aggregate counts transitions, "
    "a window over the tiny aggregate normalizes rows to integer-ppm "
    "shares.  One full-data shuffle on user_id serves the sequence "
    "window; everything after runs on |event_types|^2 rows.  The "
    "product-analytics staple behind 'what do users do next'",
)
def b45_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lead("event_type").over(w).alias("next_type"))
    c = (s.filter(F.col("next_type").isNotNull())
         .groupBy(F.col("event_type").alias("from_type"),
                  F.col("next_type").alias("to_type"))
         .agg(F.count("*").alias("n")))
    return c.select(
        "from_type", "to_type", F.col("n").cast("long").alias("n"),
        F.expr("n * 1000000 div sum(n) over (partition by from_type)")
        .cast("long").alias("share_ppm"))


def _chunker_udtf():
    """Build the chunking UDTF class lazily (pyspark import surface)."""
    import math

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, n_tokens bigint, chunk_text string")
    class ChunkerUdtf:
        def eval(self, text: str):
            toks = text.strip().lower().split()
            n = len(toks)
            if n == 0:
                return
            last = max(math.ceil((n - 8) / 24.0) - 1, 0)
            for i in range(int(last) + 1):
                chunk = toks[i * 24:i * 24 + 32]
                yield i, len(chunk), " ".join(chunk)

    return ChunkerUdtf


@_register(
    "c31_udtf_chunking",
    # identical contract to c21: the UDTF must reproduce the native
    # chunker bit-for-bit, so it shares c21's oracle spec verbatim
    # (c21 registers earlier in the import chain).
    REGISTRY["c21_doc_chunking"].oracle,
    "Spark 4 Python UDTF surface: the c21 chunker re-expressed as an "
    "arrow-batched user-defined TABLE function driven through a "
    "LATERAL join — the imperative row->rows escape hatch for logic "
    "the array HOFs can't express.  Deliberately NOT the scale path "
    "(per-row Python; c21's native slice/explode form is), but the "
    "value-hash oracle pins that both produce identical chunks",
)
def c31_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled",
                       "true")
    except Exception:
        pass
    spark.udtf.register("c31_chunker", _chunker_udtf())
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("c31_docs")
    return spark.sql("""
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM c31_docs d, LATERAL c31_chunker(d.text) c
    """)



@_register(
    "c33_token_freq_quality",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t
            WHERE len(toks) > 0),
    vocab AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok)
    SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(v.tf) // count(*) AS BIGINT) AS mean_tok_freq,
           CAST(sum(CASE WHEN v.tf < 100 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS rare_ppm
    FROM tok k JOIN vocab v USING (tok)
    GROUP BY k.doc_id
    """,
    "LLM-curation: corpus-frequency quality scoring (the integer-"
    "exact stand-in for CCNet's LM-perplexity bucketing): pass 1 "
    "builds the global term-frequency vocab, pass 2 joins it back to "
    "score each doc by mean token frequency + rare-token fraction.  "
    "At 100 TB the vocab aggregate map-side combines to ~vocabulary "
    "size and BROADCASTS back (natural-language vocabs are millions "
    "of rows, not billions) — scoring stays a narrow map over text",
)
def c33_token_freq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = (docs.select("doc_id",
                       F.explode(F.split(F.trim(F.lower("text")), " +"))
                       .alias("tok")))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    j = tok.join(F.broadcast(vocab), "tok")
    return (j.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_toks"),
                 F.expr("sum(tf) div count(*)").cast("long")
                 .alias("mean_tok_freq"),
                 F.expr("sum(case when tf < 100 then 1 else 0 end) "
                        "* 1000000 div count(*)").cast("long")
                 .alias("rare_ppm")))


_MIX_PPM = {"en": 500000, "de": 2250000, "es": 1000000, "fr": 3000000}
_MIX_SQL = " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in _MIX_PPM.items())


@_register(
    "c34_mixture_resampling",
    f"""
    WITH w AS (
      SELECT doc_id, lang,
             CASE {_MIX_SQL} ELSE 1000000 END AS w_ppm,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))
               ::BIGINT % 1000000 AS frac_bucket
      FROM documents
    ), n AS (
      SELECT doc_id, lang,
             w_ppm // 1000000
             + CASE WHEN frac_bucket < w_ppm % 1000000 THEN 1 ELSE 0 END
               AS n_copies
      FROM w
    )
    SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS BIGINT)
             AS copy_idx
    FROM n WHERE n_copies > 0
    """,
    "LLM-curation: deterministic mixture resampling — per-language "
    "sampling weights (0.5x down to 3x up) applied as "
    "floor(w) guaranteed copies plus one more iff the doc's salted "
    "md5 bucket falls under the fractional part.  The epoch-mixing "
    "op behind every pretraining data recipe, reproducible across "
    "engines and cluster sizes; a pure narrow map + explode, zero "
    "shuffle at any scale",
)
def c34_mixture_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w_ppm = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v))
          for k, v in _MIX_PPM.items()], F.lit(1000000))
    frac_bucket = F.pmod(
        D.portable_hash64(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":mix"))), F.lit(1000000))
    n_copies = (w_ppm.cast("long") / 1000000).cast("long") + \
        F.when(frac_bucket < w_ppm % 1000000, 1).otherwise(0)
    n = docs.select("doc_id", "lang", n_copies.alias("n_copies"))
    return (n.filter(F.col("n_copies") > 0)
            .select("doc_id", "lang",
                    F.explode(F.sequence(
                        F.lit(0).cast("long"),
                        F.col("n_copies") - 1)).alias("copy_idx")))


@_register(
    "b46_period_over_period",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT month, rev_cents,
           lag(rev_cents) OVER (ORDER BY month) AS prev_cents,
           rev_cents - lag(rev_cents) OVER (ORDER BY month) AS delta_cents
    FROM m
    """,
    "period-over-period BI staple: monthly revenue with lag deltas.  "
    "The full-data work is ONE map-side-combinable aggregate down to "
    "|months| rows; the single-partition lag window only ever sees "
    "that tiny aggregate — the safe way to use an unpartitioned "
    "window at 100 TB (never on raw rows).  Integer cents keep sums "
    "exact; month rendered as text so both engines order identically",
)
def b46_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
              .cast("long").alias("rev_cents")))
    w = W.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select("month", "rev_cents", prev.alias("prev_cents"),
                    (F.col("rev_cents") - prev).alias("delta_cents"))


@_register(
    "c35_prefix_filter_jaccard",
    # same exact-Jaccard spec as c08: prefix filtering must lose
    # NOTHING, so the oracle is the full inverted-index form.
    REGISTRY["c08_ngram_jaccard"].oracle,
    "C1 exact Jaccard pairs via PREFIX FILTERING (All-Pairs/PPJoin): "
    "shingle sets ordered by ascending global frequency, only the "
    "first |x|-ceil(t|x|)+1 shingles join — complete by pigeonhole, "
    "but the candidate join touches the RAREST shingles, cutting the "
    "hot-shingle quadratic blowup of c08's naive inverted index.  "
    "Sharing c08's oracle pins zero recall loss.  At 100 TB this is "
    "the exact-similarity-join shape that stays feasible when "
    "stopword shingles make c08 explode",
)
def c35_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = D.prefix_filtered_jaccard_pairs(docs, "doc_id", "text", n=3,
                                          threshold=0.5)
    return out.select(F.col("d1").cast("long").alias("d1"),
                      F.col("d2").cast("long").alias("d2"),
                      F.col("n_common").cast("long").alias("n_common"),
                      "jaccard")


@_register(
    "c36_token_association",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    bg AS (SELECT list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1]) AS bgs, toks
           FROM t WHERE len(toks) >= 2),
    pair AS (SELECT unnest(bgs) AS bigram FROM bg),
    uni AS (SELECT unnest(toks) AS tok FROM bg),
    pc AS (SELECT bigram, count(*) AS c_xy FROM pair GROUP BY bigram),
    uc AS (SELECT tok, count(*) AS c_x FROM uni GROUP BY tok),
    tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
                   (SELECT count(*) FROM pair) AS n_pair)
    SELECT p.bigram, CAST(p.c_xy AS BIGINT) AS c_xy,
           CAST(x.c_x AS BIGINT) AS c_x, CAST(y.c_x AS BIGINT) AS c_y,
           CAST(p.c_xy * t.n_uni * t.n_uni
                // (x.c_x * y.c_x * t.n_pair) AS BIGINT) AS lift_ratio
    FROM pc p
    JOIN uc x ON x.tok = string_split(p.bigram, ' ')[1]
    JOIN uc y ON y.tok = string_split(p.bigram, ' ')[2]
    CROSS JOIN tot t
    WHERE p.c_xy >= 20
    """,
    "text analytics: adjacent-token association (PMI's exact-integer "
    "sibling — lift = p(xy)/(p(x)p(y)) as an integer ratio, no log so "
    "both engines agree bit-for-bit).  Bigrams come from one zip_with "
    "over the token array (no explode of pairs-within-window), margins "
    "from two aggregates, and the tiny filtered pair table joins the "
    "unigram margins by key.  At 100 TB: two map-side-combinable "
    "aggregates over text + a join whose left side is only the "
    "frequent-bigram survivors",
)
def c36_token_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.lower("text")), " +")
    b = docs.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    bgs = F.zip_with(F.slice("toks", 1, m), F.slice("toks", 2, m),
                     lambda x, y: F.concat_ws(" ", x, y))
    pair = b.select(F.explode(bgs).alias("bigram"))
    uni = b.select(F.explode("toks").alias("tok"))
    pc = pair.groupBy("bigram").agg(F.count("*").alias("c_xy"))
    uc = uni.groupBy("tok").agg(F.count("*").alias("c_x"))
    # both scalar totals in ONE narrow scan (not two explode+count jobs)
    tot = b.agg(F.sum(F.size("toks")).alias("nu"),
                F.sum(F.size("toks") - 1).alias("np")).first()
    n_uni, n_pair = int(tot["nu"]), int(tot["np"])
    p = pc.filter(F.col("c_xy") >= 20).withColumn(
        "w1", F.split("bigram", " ")[0]).withColumn(
        "w2", F.split("bigram", " ")[1])
    x = uc.select(F.col("tok").alias("w1"), F.col("c_x").alias("cx1"))
    y = uc.select(F.col("tok").alias("w2"), F.col("c_x").alias("cx2"))
    return (p.join(F.broadcast(x), "w1").join(F.broadcast(y), "w2")
            .select("bigram", F.col("c_xy").cast("long").alias("c_xy"),
                    F.col("cx1").cast("long").alias("c_x"),
                    F.col("cx2").cast("long").alias("c_y"),
                    F.expr(f"c_xy * {n_uni}L * {n_uni}L "
                           f"div (cx1 * cx2 * {n_pair}L)")
                    .cast("long").alias("lift_ratio")))


@_register(
    "b47_equidepth_histogram",
    """
    WITH q AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS lo_cents,
           CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS hi_cents
    FROM q GROUP BY decile
    """,
    "equi-depth (quantile-bucket) histogram: each decile holds the "
    "same row count (±1), bucket bounds come out of min/max per "
    "bucket (b09 is the fixed-WIDTH histogram; equi-depth is what "
    "optimizers and feature-binning actually use).  EXACT ntile "
    "semantics without a global sort (r03 verdict item): value-range "
    "blocks -> local row_number per block (parallel window), block "
    "counts cumsum'd on the tiny block table and broadcast back as "
    "rank offsets, then the SQL-standard ntile formula (first n%10 "
    "buckets one row larger) applied to the exact global rank.  "
    "Tiebreak on the key makes rank, hence bucket, deterministic",
)
def b47_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.select("o_totalprice", "o_orderkey")
    # block id monotone in o_totalprice; ties share a block, so the
    # (price, key) order is globally consistent across blocks
    blk = s.withColumn(
        "_b", F.expr("cast(floor(o_totalprice) as bigint) div 5000"))
    local = blk.withColumn(
        "_lr", F.row_number().over(
            W.partitionBy("_b").orderBy("o_totalprice", "o_orderkey")))
    bcnt = blk.groupBy("_b").agg(F.count("*").alias("_c"))
    boff = bcnt.select(
        "_b",
        F.coalesce(F.sum("_c").over(W.orderBy("_b")
                                    .rowsBetween(W.unboundedPreceding,
                                                 -1)),
                   F.lit(0)).alias("_off"))
    tot = bcnt.agg(F.sum("_c").alias("_n"))
    ranked = (local.join(F.broadcast(boff), "_b")
              .crossJoin(F.broadcast(tot))
              .withColumn("_r", F.col("_off") + F.col("_lr")))
    # ntile(10) from the exact global rank: the first (n mod 10)
    # buckets hold ceil(n/10) rows, the rest floor(n/10)
    decile = F.expr(
        "CASE WHEN _r <= (_n div 10 + 1) * (_n % 10) "
        "THEN (_r - 1) div (_n div 10 + 1) + 1 "
        "ELSE (_n % 10) + (_r - (_n div 10 + 1) * (_n % 10) - 1) "
        "div (_n div 10) + 1 END")
    q = ranked.select("o_totalprice", decile.alias("decile"))
    return (q.groupBy("decile")
            .agg(F.count("*").cast("long").alias("n"),
                 F.floor(F.min("o_totalprice") * 100).cast("long")
                 .alias("lo_cents"),
                 F.floor(F.max("o_totalprice") * 100).cast("long")
                 .alias("hi_cents"))
            .select(F.col("decile").cast("long").alias("decile"),
                    "n", "lo_cents", "hi_cents"))


@_register(
    "b48_listagg_paths",
    """
    SELECT user_id,
           string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE user_id < 50
    GROUP BY user_id
    """,
    "ordered LISTAGG: per-user event-journey strings (Spark 4's "
    "native listagg with WITHIN GROUP ordering; DuckDB string_agg "
    "ORDER BY).  The journey-reconstruction shape product analytics "
    "exports; bounded to a user subset because concatenating "
    "unbounded groups is an anti-pattern at scale — cap, sample, or "
    "switch to b33's array-HOF funnel form for full-corpus paths",
)
def b48_listagg_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (ev.groupBy("user_id")
            .agg(F.expr("listagg(event_type, '->') "
                        "within group (order by ts, event_id)")
                 .alias("path"),
                 F.count("*").cast("long").alias("n_events")))


@_register(
    "c38_heavy_hitters",
    """
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +'))
               AS item
      FROM documents
    ), h AS (
      SELECT item,
             CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) % 32
               AS p
      FROM toks
    ), cnt AS (
      SELECT p, item, count(*) AS c FROM h GROUP BY p, item
    ), rk AS (
      SELECT p, item, c,
             row_number() OVER (PARTITION BY p
                                ORDER BY c DESC, item) AS rn
      FROM cnt
    ), mm AS (
      SELECT p, max(CASE WHEN rn = 33 THEN c ELSE 0 END) AS m
      FROM rk GROUP BY p
    )
    SELECT item, CAST(c - m AS BIGINT) AS est_count
    FROM rk JOIN mm USING (p)
    WHERE c > m
    ORDER BY est_count DESC, item
    LIMIT 10
    """,
    "frequent-items sketch, DETERMINISTIC two-level Misra-Gries "
    "(r03 verdict item 5 — flipped from rows-only to value-hash via "
    "the b102 portable-hash pattern): tokens shard by "
    "portable-md5-48 % 32, each shard keeps its exact count table "
    "truncated one-shot MG style (subtract the 33rd-largest count, "
    "keep positive) — a valid mergeable summary with the same "
    "n_p/(k+1) undercount bound, but a pure function of the input "
    "multiset, so DuckDB reproduces every count bit-for-bit.  Each "
    "item lives in exactly one shard, so its lower bound is "
    "global-count minus one shard's m.  This is the engine's one "
    "Misra-Gries: a one-pass, arrival-order-dependent form could not "
    "be value-oracled",
)
def c38_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from tp_airflow_gtfs_snowflake_spark.operators import kmv
    k = 32
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("item"))
    cnt = (toks
           .groupBy(F.pmod(kmv.portable_hash48(F.col("item")),
                           F.lit(32)).alias("p"), "item")
           .agg(F.count("*").alias("c")))
    rk = cnt.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("p").orderBy(F.desc("c"), F.asc("item"))))
    mm = (rk.groupBy("p")
          .agg(F.max(F.when(F.col("rn") == k + 1, F.col("c"))
                     .otherwise(F.lit(0))).alias("m")))
    return (rk.join(mm, "p")
            .filter(F.col("c") > F.col("m"))
            .select("item",
                    (F.col("c") - F.col("m")).cast("long")
                    .alias("est_count"))
            .orderBy(F.desc("est_count"), F.asc("item"))
            .limit(10))


@_register(
    "b49_sliding_distinct_sketch", None,
    "sliding-window distinct users from MERGEABLE sketches: one HLL "
    "partial per day (the only pass over raw events), then every "
    "7-day window re-aggregates by unioning 7 tiny partials — a "
    "|days| x 7 broadcast range-join, zero re-scans.  THE pattern for "
    "any-range distinct queries over 100 TB: sketch once at ingest "
    "grain, answer every window from partials.  rows-only check "
    "(native datasketches HLL has no DuckDB twin); accuracy vs the "
    "exact sliding distinct is pinned within 5% by pytest.  "
    "b154_sliding_hll_distinct is the fully value-oracled twin: the "
    "same shape on portable md5-48 HLL registers, every merged "
    "register reproduced in DuckDB",
)
def b49_sliding_distinct_sketch(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk"),
                  F.count("*").cast("long").alias("n_rows")))
    d, w = daily.alias("d"), daily.alias("w")
    win = d.join(F.broadcast(w),
                 (F.col("w.day") >= F.date_sub(F.col("d.day"), 6))
                 & (F.col("w.day") <= F.col("d.day")))
    return (win.groupBy(F.col("d.day").alias("day"))
            .agg(F.count("*").cast("long").alias("n_days_in_window"),
                 F.sum("w.n_rows").cast("long").alias("n_rows_7d"),
                 F.hll_sketch_estimate(F.hll_union_agg("w.sk"))
                 .cast("long").alias("distinct_users_7d_est"))
            .orderBy("day"))


@_register(
    "c39_int8_quantization",
    """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
    ), m AS (
      SELECT vec_id, label, emb,
             list_max(list_transform(emb, x -> abs(x))) AS maxabs
      FROM e
    ), q AS (
      SELECT vec_id, label, maxabs,
             list_transform(emb,
               x -> CAST(floor(x * 127 / maxabs + 0.5) AS BIGINT)) AS codes
      FROM m WHERE maxabs > 0
    )
    SELECT vec_id, label,
           CAST(len(codes) AS BIGINT) AS n_dims,
           CAST(floor(maxabs * 1000000) AS BIGINT) AS scale_ppm,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT)
             AS code_abs_sum,
           CAST(list_max(list_transform(codes, c -> abs(c))) AS BIGINT)
             AS code_max_abs
    FROM q
    """,
    "vector-corpus compression: symmetric int8 quantization with a "
    "per-vector max-abs scale (the storage format embedding stores "
    "and GPU kernels consume — 4x smaller than float32).  Quantize = "
    "one narrow transform over the array column, no shuffle at any "
    "scale; codes stay in [-127,127] by construction.  floor(x+0.5) "
    "arithmetic is IEEE-identical in both engines, so the oracle "
    "checks the exact codes via integer checksums",
)
def c39_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    m = emb.select(
        "vec_id", "label", dbl.alias("emb"),
        F.array_max(F.transform(dbl, lambda x: F.abs(x))).alias("maxabs"))
    codes = F.transform(
        "emb", lambda x: F.floor(x * 127 / F.col("maxabs") + 0.5)
        .cast("long"))
    q = m.filter(F.col("maxabs") > 0).select(
        "vec_id", "label", "maxabs", codes.alias("codes"))
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id", "label",
        F.size("codes").cast("long").alias("n_dims"),
        F.floor(F.col("maxabs") * 1000000).cast("long").alias("scale_ppm"),
        F.aggregate("codes", zero, lambda a, c: a + c).cast("long")
        .alias("code_sum"),
        F.aggregate("codes", zero, lambda a, c: a + F.abs(c)).cast("long")
        .alias("code_abs_sum"),
        F.array_max(F.transform("codes", lambda c: F.abs(c)))
        .cast("long").alias("code_max_abs"))


@_register(
    "b50_try_arithmetic",
    """
    WITH s AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 7 AS div7,
             CASE WHEN o_orderkey % 5 = 0
                  THEN 'not-a-number'
                  ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS numish
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents // NULLIF(div7, 0)) AS BIGINT) AS safe_div_sum,
           CAST(sum(CASE WHEN div7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_by_zero,
           CAST(sum(TRY_CAST(numish AS BIGINT)) AS BIGINT) AS parsed_sum,
           CAST(sum(CASE WHEN TRY_CAST(numish AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsable
    FROM s
    """,
    "ANSI-safe arithmetic surface: Spark 4 runs ANSI mode by default "
    "(div-by-zero and bad casts THROW mid-job — the failure mode that "
    "kills an 8-hour 100 TB job at hour 7), so dirty-data pipelines "
    "route through try_divide / try_cast which yield NULL instead.  "
    "Engineered zero divisors and unparsable strings on every 7th/5th "
    "key; the oracle expresses the same null-on-error semantics with "
    "NULLIF guards and TRY_CAST",
)
def b50_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 7).alias("div7"),
        F.when(F.col("o_orderkey") % 5 == 0, "not-a-number")
        .otherwise((F.col("o_orderkey") % 100).cast("string"))
        .alias("numish"))
    parsed = F.col("numish").try_cast("long")
    return s.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.try_divide("cents", "div7").cast("long")).cast("long")
        .alias("safe_div_sum"),
        F.sum((F.col("div7") == 0).cast("int")).cast("long")
        .alias("n_div_by_zero"),
        F.sum(parsed).cast("long").alias("parsed_sum"),
        F.sum(parsed.isNull().cast("int")).cast("long")
        .alias("n_unparsable"))


_VOCAB = ("table", "row", "scan", "join", "hash", "value", "key", "agg",
          "fast", "slow", "data", "query", "the", "a", "column", "batch")
_VOCAB_SQL = ", ".join(f"'{w}'" for w in _VOCAB)


@_register(
    "c40_vocab_coverage",
    f"""
    WITH t AS (SELECT doc_id, lang, {_duck_toks()} AS toks
               FROM documents),
    m AS (SELECT doc_id, lang, len(toks) AS n_tok,
                 len(list_filter(toks, w -> w NOT IN ({_VOCAB_SQL})))
                   AS n_oov
          FROM t WHERE len(toks) > 0)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_oov) AS BIGINT) AS n_oov,
           CAST(sum(n_oov) * 1000000 // sum(n_tok) AS BIGINT)
             AS oov_ppm,
           CAST(sum(CASE WHEN n_oov * 1000000 // n_tok > 500000
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_majority_oov
    FROM m GROUP BY lang
    """,
    "LLM-curation: tokenizer-vocabulary coverage audit — per-language "
    "out-of-vocabulary token rates against a fixed vocab (the check "
    "run before committing to a tokenizer: high OOV = wasted UNK "
    "mass).  The vocab rides as a literal IN-list (broadcast "
    "semantics at any scale; a real 100k-token vocab would broadcast "
    "a lookup table instead — same plan shape as c33's join-back); "
    "one narrow map + one combinable aggregate",
)
def c40_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.lower("text")), " +")
    m = (docs.select("lang", toks.alias("toks"))
         .withColumn("n_tok", F.size("toks"))
         .filter(F.col("n_tok") > 0)
         .withColumn("n_oov", F.size(F.filter(
             "toks", lambda w: ~w.isin(*_VOCAB)))))
    return (m.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.sum("n_oov").cast("long").alias("n_oov"),
                 F.expr("sum(n_oov) * 1000000 div sum(n_tok)")
                 .cast("long").alias("oov_ppm"),
                 F.sum((F.expr("n_oov * 1000000 div n_tok") > 500000)
                       .cast("int")).cast("long")
                 .alias("n_docs_majority_oov")))


@_register(
    "b51_first_touch_attribution",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us
      FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
      SELECT user_id, event_id, event_type, ts_us,
             min(CASE WHEN event_type = 'click' THEN ts_us END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 604800000000 PRECEDING
                           AND CURRENT ROW) AS first_click_us
      FROM ev
    )
    SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us,
           first_click_us,
           (ts_us - first_click_us) // 1000000 AS latency_s
    FROM w WHERE event_type = 'purchase' AND first_click_us IS NOT NULL
    """,
    "first-touch attribution: for every purchase, the EARLIEST click "
    "in the trailing 7-day window (b14's as-of join is last-touch; "
    "marketing attribution needs first-touch).  One shuffle on "
    "user_id serves a RANGE-frame conditional MIN over the unioned "
    "event stream — no self-join, no per-purchase probe.  Epoch-"
    "microsecond range bounds keep the frame arithmetic integer-exact",
)
def b51_first_touch_attribution(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("ts_us")))
    w = (W.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-604800000000, 0))
    first_click = F.min(
        F.when(F.col("event_type") == "click", F.col("ts_us"))).over(w)
    return (ev.withColumn("first_click_us", first_click)
            .filter((F.col("event_type") == "purchase")
                    & F.col("first_click_us").isNotNull())
            .select("user_id", F.col("event_id").alias("purchase_id"),
                    F.col("ts_us").alias("purchase_ts_us"),
                    "first_click_us",
                    ((F.col("ts_us") - F.col("first_click_us"))
                     / 1000000).cast("long").alias("latency_s")))


from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (  # noqa: E402
    _duck_hash64, _duck_minhash_band_case, _duck_minhash_mins)


@_register(
    "c41_bipartite_lsh_decontam",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {{P}} AS h FROM sh),
    m AS (SELECT doc_id,
                {_duck_minhash_mins(16)}
          FROM hx GROUP BY doc_id),
    banded AS (SELECT doc_id, b.band AS band,
                      md5({_duck_minhash_band_case(16, 4)}) AS bucket
               FROM m, range(0, 4) b(band)),
    cand AS (SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS test_id
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
    common AS (SELECT c.train_id, c.test_id, count(*) AS n_common
               FROM cand c
               JOIN sh s1 ON s1.doc_id = c.train_id
               JOIN sh s2 ON s2.doc_id = c.test_id AND s2.sh = s1.sh
               GROUP BY c.train_id, c.test_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT train_id, test_id,
           n_common * 1.0 / (x.n_sh + y.n_sh - n_common) AS jaccard
    FROM common JOIN sizes x ON x.doc_id = train_id
                JOIN sizes y ON y.doc_id = test_id
    WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.35
    """.replace("{P}", str(D.MINHASH_P)),
    "LLM-curation: BIPARTITE MinHash-LSH decontamination — near-dup "
    "pairs BETWEEN the train and held-out splits via separately-"
    "banded signatures equi-joined on (band, bucket), exact Jaccard "
    "verify on candidates only.  c30's exact shingle semi-join "
    "shuffles every shingle of 100 TB of train text; this shuffles "
    "16-hash signatures and verifies only collided pairs — the "
    "cross-corpus sibling of c06, with intra-corpus collisions never "
    "materialized.  The oracle mirrors the full LSH pipeline "
    "(portable md5 minhash) so candidate generation itself is "
    "hash-checked",
)
def c41_bipartite_lsh_decontam(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    out = D.minhash_bipartite_pairs(
        train, test, "doc_id", "text", num_hashes=16, bands=4,
        shingle_n=3, threshold=0.35, hash_fn=D.portable_hash64)
    return out.select(F.col("id_a").cast("long").alias("train_id"),
                      F.col("id_b").cast("long").alias("test_id"),
                      "jaccard")


@_register(
    "c43_dup_ngram_rate",
    f"""
    WITH t AS (SELECT doc_id, lang, {_duck_toks()} AS toks
               FROM documents),
    sh AS (SELECT doc_id, lang, unnest({_duck_shingles(5)}) AS sh
           FROM t),
    cnt AS (SELECT sh, count(*) AS n FROM sh GROUP BY sh)
    SELECT s.lang,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(DISTINCT s.sh) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM sh s JOIN cnt c USING (sh)
    GROUP BY s.lang
    """,
    "LLM-curation: duplicate n-gram rate — the fraction of 5-gram "
    "occurrences whose n-gram appears elsewhere in the corpus (the "
    "memorization-risk metric of Lee et al. 2022, 'Deduplicating "
    "Training Data Makes Language Models Better').  Global counts "
    "group on the shingle (at 100 TB: on its xxhash64), join-back is "
    "by the same key; per-language ppm rates come out of one "
    "combinable aggregate",
)
def c43_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sh = docs.select(
        "lang", F.explode(D.token_shingles(F.col("text"), 5)).alias("sh"))
    cnt = sh.groupBy("sh").agg(F.count("*").alias("n"))
    return (sh.join(cnt, "sh")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_ngrams"),
                 F.countDistinct("sh").cast("long").alias("n_distinct"),
                 F.expr("sum(case when n > 1 then 1 else 0 end) "
                        "* 1000000 div count(*)").cast("long")
                 .alias("dup_ppm")))


@_register(
    "c44_mllib_tfidf", None,
    "MLlib pipeline surface: Tokenizer -> HashingTF -> IDF over the "
    "corpus — the pyspark.ml feature pipeline (c14 is the exact-"
    "integer tf-idf twin with a SQL oracle; this exercises the "
    "estimator/transformer API the ML ecosystem expects, sparse "
    "vectors and all).  rows-only check (MLlib hashing/IDF floats "
    "have no DuckDB twin); invariants — one vector per doc, "
    "dimensionality, IDF of a ubiquitous token is 0 — pinned in "
    "pytest",
)
def c44_mllib_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    docs = _spread(spark, _t(spark, sf_dir, "documents")) \
        .select("doc_id", F.lower(F.trim("text")).alias("text"))
    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1024)
    tfd = tf.transform(tok.transform(docs))
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tfd)
    out = idf.transform(tfd)
    # project to a stable, comparable shape (vector norms, not floats
    # of a specific hash layout)
    from pyspark.ml.functions import vector_to_array
    arr = vector_to_array("tfidf")
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).cast("long")
        .alias("n_nonzero"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x), 6)
        .alias("sq_norm"))


@_register(
    "b53_schema_drift_union",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(NULL AS VARCHAR) AS channel
      FROM orders WHERE o_orderkey % 3 = 0
    ), v2 AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
               AS channel
      FROM orders WHERE o_orderkey % 3 <> 0
    ), u AS (
      SELECT *, 'v1' AS src FROM v1
      UNION ALL
      SELECT *, 'v2' AS src FROM v2
    )
    SELECT src, COALESCE(channel, 'unknown') AS channel,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(price_cents) AS BIGINT) AS cents
    FROM u GROUP BY src, COALESCE(channel, 'unknown')
    """,
    "schema-drift ingestion: an old extract version lacking the "
    "`channel` column unions with the new one via unionByName("
    "allowMissingColumns) + explicit defaults — the multi-source "
    "reconciliation every long-lived pipeline does when upstream "
    "schemas evolve.  Narrow union, no shuffle until the final "
    "aggregate; drifted columns surface as typed NULLs, never "
    "position-swapped values (the classic UNION-by-position bug)",
)
def b53_schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    v1 = (o.filter(F.col("o_orderkey") % 3 == 0)
          .select("o_orderkey", "o_custkey", cents.alias("price_cents"))
          .withColumn("src", F.lit("v1")))      # no channel column
    v2 = (o.filter(F.col("o_orderkey") % 3 != 0)
          .select("o_orderkey", "o_custkey", cents.alias("price_cents"),
                  F.when(F.col("o_orderkey") % 2 == 0, "web")
                  .otherwise("store").alias("channel"))
          .withColumn("src", F.lit("v2")))
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (u.groupBy("src",
                      F.coalesce("channel", F.lit("unknown"))
                      .alias("channel"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("price_cents").cast("long").alias("cents")))


@_register(
    "b54_nested_denormalize",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             count(*) AS n_items,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
               AS order_cents,
             max(CAST(l_quantity AS BIGINT)) AS max_qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(p.n_items) AS BIGINT) AS n_items,
           CAST(sum(p.order_cents) AS BIGINT) AS cents,
           CAST(max(p.max_qty) AS BIGINT) AS max_qty
    FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    "nested denormalization: line items collect into a per-order "
    "SORTED array<struct> (the layout that saves the orders-lineitem "
    "join on every downstream read at 100 TB), then per-order stats "
    "come from array HOF folds over the nested column — no "
    "re-explode.  The oracle computes identical numbers relationally, "
    "so the nested construct+consume round-trip is value-checked; "
    "the struct array is sorted by line number so the layout is "
    "deterministic",
)
def b54_nested_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    nested = (li.select(
        "l_orderkey",
        F.struct(F.col("l_linenumber"),
                 F.floor(F.col("l_extendedprice") * 100).cast("long")
                 .alias("cents"),
                 F.col("l_quantity").cast("long").alias("qty"))
        .alias("item"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("item")).alias("items")))
    zero = F.lit(0).cast("long")
    per_order = nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.aggregate("items", zero, lambda a, it: a + it["cents"])
        .alias("order_cents"),
        F.array_max(F.transform("items", lambda it: it["qty"]))
        .alias("max_qty"))
    return (per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.sum("n_items").cast("long").alias("n_items"),
                 F.sum("order_cents").cast("long").alias("cents"),
                 F.max("max_qty").cast("long").alias("max_qty")))


@_register(
    "c45_token_budget_apportionment",
    """
    WITH w AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
    base AS (
      SELECT source, weight,
             CAST(100000 * weight // wsum AS BIGINT) AS base_alloc,
             CAST(100000 * weight % wsum AS BIGINT) AS remainder
      FROM w CROSS JOIN tot
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY remainder DESC, source)
               AS rnk,
             CAST(100000 - sum(base_alloc) OVER () AS BIGINT) AS leftover
      FROM base
    )
    SELECT source, weight, base_alloc,
           CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_alloc
                + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM ranked
    """,
    "LLM-curation: token-budget apportionment — split a 100k-token "
    "training budget across sources proportional to their content "
    "mass with the largest-remainder method (exact integer "
    "allocations that sum to the budget; floor division alone leaves "
    "a deficit).  The data-mixing planning step before c34 executes "
    "the sampling.  All work happens on the |sources|-row aggregate; "
    "the windows only ever see that tiny table",
)
def c45_token_budget_apportionment(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("weight"))
    tot = w.agg(F.sum("weight").cast("long").alias("wsum"))
    base = (w.crossJoin(F.broadcast(tot))
            .select("source", "weight",
                    F.expr("100000 * weight div wsum").cast("long")
                    .alias("base_alloc"),
                    F.expr("100000 * weight % wsum").cast("long")
                    .alias("remainder")))
    ranked = (base
              .withColumn("rnk", F.row_number().over(
                  W.orderBy(F.desc("remainder"), F.asc("source"))))
              .withColumn("leftover",
                          (F.lit(100000)
                           - F.sum("base_alloc").over(
                               W.partitionBy())).cast("long")))
    extra = F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "source", "weight", "base_alloc",
        extra.cast("long").alias("extra"),
        (F.col("base_alloc") + extra).cast("long").alias("alloc"))


from tp_airflow_gtfs_snowflake_spark.functions import text as T  # noqa: E402
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (  # noqa: E402
    _STOP_SQL)


@_register(
    "c46_langid_confusion",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['de']}))) AS s_de,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['en']}))) AS s_en,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['es']}))) AS s_es,
        len(list_filter({_duck_toks()}, x -> x IN ({_STOP_SQL['fr']}))) AS s_fr
      FROM documents
    ), p AS (
      SELECT lang,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM s
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS correct_ppm
    FROM p GROUP BY lang, lang_pred
    """,
    "classifier evaluation as a query: the language-ID confusion "
    "matrix (true lang x predicted lang with per-cell counts and "
    "correctness ppm) — the eval rollup every model-in-the-loop "
    "curation step reports.  Prediction is the c03c stopword-argmax "
    "narrow map; the matrix is one combinable aggregate over "
    "|langs|^2 cells",
)
def c46_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    p = docs.select("lang", T.lang_id(F.col("text")).alias("lang_pred"))
    return (p.groupBy("lang", "lang_pred")
            .agg(F.count("*").cast("long").alias("n"),
                 F.expr("sum(case when lang = lang_pred then 1 else 0 "
                        "end) * 1000000 div count(*)").cast("long")
                 .alias("correct_ppm")))


@_register(
    "b55_pareto_contribution",
    """
    WITH r AS (
      SELECT o_orderpriority AS pri,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderpriority
    ), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM r)
    SELECT pri, cents,
           CAST(cents * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(sum(cents) OVER (ORDER BY cents DESC, pri)
                * 1000000 // total AS BIGINT) AS cum_share_ppm
    FROM r CROSS JOIN t
    """,
    "Pareto / contribution analysis: each priority class's share of "
    "total revenue plus the cumulative share in descending order (the "
    "'which 20% drives 80%' rollup).  All windows run on the "
    "|groups|-row aggregate; integer-cents and ppm keep every value "
    "exact.  The scalar total broadcasts — no second scan of the fact",
)
def b55_pareto_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    r = (o.groupBy(F.col("o_orderpriority").alias("pri"))
         .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
              .cast("long").alias("cents")))
    t = r.agg(F.sum("cents").cast("long").alias("total"))
    w = W.orderBy(F.desc("cents"), F.asc("pri"))
    # integer div throughout: double division + cast truncation can
    # disagree with the oracle's floor-div at exact integer boundaries
    return (r.crossJoin(F.broadcast(t))
            .withColumn("_cum", F.sum("cents").over(w))
            .select("pri", "cents",
                    F.expr("cents * 1000000 div total").cast("long")
                    .alias("share_ppm"),
                    F.expr("_cum * 1000000 div total").cast("long")
                    .alias("cum_share_ppm")))


@_register(
    "b56_date_spine_zero_fill",
    """
    WITH bounds AS (
      SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS lo,
             CAST(max(date_trunc('day', ts)) AS DATE) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(d.cents, 0) AS BIGINT) AS cents,
           (d.day IS NULL) AS zero_filled
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
    "calendar-spine zero-fill: generate the full day spine with "
    "sequence() between the observed bounds, LEFT JOIN the daily "
    "aggregate, and absent days surface as explicit zero rows — "
    "'no data' must be a row, not a gap, for every downstream "
    "moving-window and charting consumer (b34's RANGE frames skip "
    "absent days; this materializes them).  The spine is tiny and "
    "broadcasts; the fact is touched once by the aggregate",
)
def b56_date_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min(F.to_date("ts")).alias("lo"),
                    F.max(F.to_date("ts")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n"),
                  F.sum(F.floor(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    return (spine.join(daily, "day", "left")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_purchases"),
                    F.coalesce("cents", F.lit(0)).cast("long")
                    .alias("cents"),
                    F.col("n").isNull().alias("zero_filled")))


@_register(
    "b57_interarrival_histogram",
    """
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    )
    SELECT CASE WHEN gap_us < 60000000 THEN '<1m'
                WHEN gap_us < 3600000000 THEN '1m-1h'
                WHEN gap_us < 86400000000 THEN '1h-1d'
                ELSE '>=1d' END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(gap_us) AS BIGINT) AS min_us,
           CAST(max(gap_us) AS BIGINT) AS max_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
    "inter-arrival-time histogram: per-user lag gaps bucketed on "
    "integer epoch-microsecond thresholds (<1m / 1m-1h / 1h-1d / "
    ">=1d) — the session-timeout calibration picture behind b29's "
    "30-minute sessionization choice.  One user_id shuffle for the "
    "lag window, then a 4-row aggregate",
)
def b57_interarrival_histogram(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select((F.unix_micros("ts")
                   - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"))
    bucket = (F.when(F.col("gap_us") < 60_000_000, "<1m")
              .when(F.col("gap_us") < 3_600_000_000, "1m-1h")
              .when(F.col("gap_us") < 86_400_000_000, "1h-1d")
              .otherwise(">=1d"))
    return (g.filter(F.col("gap_us").isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("gap_us").cast("long").alias("min_us"),
                 F.max("gap_us").cast("long").alias("max_us")))


@_register(
    "c47_vocab_truncation",
    f"""
    WITH tok AS (
      SELECT lang, unnest({_duck_toks()}) AS tok FROM documents
    ), c AS (
      SELECT lang, tok, count(*) AS n FROM tok GROUP BY lang, tok
    ), t AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY lang
    ), r AS (
      SELECT c.lang, c.tok, c.n, t.total,
             sum(c.n) OVER (PARTITION BY c.lang
                            ORDER BY c.n DESC, c.tok
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - c.n AS cum_before
      FROM c JOIN t USING (lang)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN cum_before * 10 < total * 9
                         THEN 1 ELSE 0 END) AS BIGINT) AS vocab_90p,
           CAST(sum(CASE WHEN cum_before * 10 < total * 9
                         THEN n ELSE 0 END) * 1000000 // max(total)
                AS BIGINT) AS coverage_ppm
    FROM r GROUP BY lang
    """,
    "LLM-curation: top-p (nucleus) vocabulary truncation — per "
    "language, the minimal token set covering >=90% of occurrence "
    "mass (tokens ranked by frequency; a token is kept while the "
    "cumulative mass BEFORE it is under the threshold, so the "
    "boundary token that crosses 90% is included).  The tokenizer-"
    "vocab sizing decision, integer arithmetic throughout.  Windows "
    "run on the per-language distinct-token aggregate, never raw "
    "tokens",
)
def c47_vocab_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = docs.select(
        "lang", F.explode(F.split(F.trim(F.lower("text")), " +"))
        .alias("tok"))
    c = tok.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    t = c.groupBy("lang").agg(F.sum("n").cast("long").alias("total"))
    w = (W.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    r = (c.join(t, "lang")
         .withColumn("cum_before", F.sum("n").over(w) - F.col("n")))
    kept = F.col("cum_before") * 10 < F.col("total") * 9
    return (r.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_distinct"),
                 F.sum(kept.cast("int")).cast("long").alias("vocab_90p"),
                 F.expr("sum(case when cum_before * 10 < total * 9 "
                        "then n else 0 end) * 1000000 div max(total)")
                 .cast("long").alias("coverage_ppm")))


from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine  # noqa: E402


@_register(
    "c48_hard_negative_mining",
    """
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             embedding::DOUBLE[] AS aemb
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS cand_id,
             e.label AS cand_label,
             round(list_cosine_similarity(e.embedding::DOUBLE[], a.aemb),
                   6) AS sim
      FROM a JOIN embeddings e ON e.label <> a.anchor_label
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                 ORDER BY sim DESC, cand_id) AS rn
      FROM scored
    )
    SELECT anchor_id, anchor_label, cand_id AS negative_id,
           cand_label AS negative_label, sim
    FROM best WHERE rn = 1
    """,
    "LLM-curation: hard-negative mining — for each anchor, the most "
    "cosine-similar embedding of a DIFFERENT label (the contrastive-"
    "training pair every embedding-model pipeline mines).  Anchors "
    "broadcast; scoring is a narrow map over the corpus; the argmax "
    "is one max_by aggregate per anchor (deterministic smallest-id "
    "tie-break), no global sort.  At corpus scale swap the exact "
    "scan for the IVF/PQ candidates (c09/c26) and keep this exact "
    "re-rank on the shortlist",
)
def c48_hard_negative_mining(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    a = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("anchor_id"),
                 F.col("label").alias("anchor_label"),
                 F.col("embedding").alias("aemb")))
    scored = (emb.join(F.broadcast(a),
                       F.col("label") != F.col("anchor_label"))
              .select("anchor_id", "anchor_label",
                      F.col("vec_id").alias("cand_id"),
                      F.col("label").alias("cand_label"),
                      F.round(cosine(F.col("embedding"),
                                     F.col("aemb")), 6).alias("sim")))
    # argmax via max over (sim, -cand_id): unique, smallest id on ties
    best = (scored.groupBy("anchor_id", "anchor_label")
            .agg(F.max(F.struct(
                F.col("sim"),
                (-F.col("cand_id")).alias("neg_id"))).alias("b")))
    neg = (-F.col("b.neg_id")).cast("long")
    lbl = emb.select(F.col("vec_id").alias("negative_id"),
                     F.col("label").alias("negative_label"))
    return (best.select("anchor_id", "anchor_label",
                        neg.alias("negative_id"), F.col("b.sim").alias("sim"))
            .join(F.broadcast(lbl), "negative_id")
            .select("anchor_id", "anchor_label", "negative_id",
                    "negative_label", "sim"))


@_register(
    "b58_topn_with_ties",
    """
    WITH agg AS (
      SELECT event_type, user_id % 100 AS cohort,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, user_id % 100
    ), r AS (
      SELECT *, rank() OVER (PARTITION BY event_type
                             ORDER BY n_events DESC) AS rnk
      FROM agg
    )
    SELECT event_type, CAST(rnk AS BIGINT) AS rnk, cohort, n_events
    FROM r WHERE rnk <= 3
    """,
    "top-N WITH TIES: rank() keeps every cohort tied at the boundary "
    "(b42's row_number form arbitrarily drops tied rows — correct for "
    "sampling, wrong for 'which cohorts are top-3', where a tie IS "
    "the answer).  Same two-phase shape: combinable pre-aggregate, "
    "then a window over the small aggregate; output size is data-"
    "dependent by design",
)
def b58_topn_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type",
                      (F.col("user_id") % 100).alias("cohort"))
           .agg(F.count("*").cast("long").alias("n_events")))
    w = W.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (agg.withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") <= 3)
            .select("event_type", F.col("rnk").cast("long").alias("rnk"),
                    "cohort", "n_events"))


@_register(
    "c50_corpus_datacard",
    f"""
    WITH t AS (SELECT doc_id, lang, source, n_chars,
                      {_duck_toks()} AS toks
               FROM documents),
    m AS (SELECT doc_id, lang, source, n_chars, len(toks) AS n_tok
          FROM t)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(sum(n_tok) // count(*) AS BIGINT) AS mean_tokens,
           CAST(CAST(sum(CASE WHEN n_tok < 10 THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000000 // count(*) AS BIGINT)
             AS short_doc_ppm
    FROM m
    """,
    "LLM-curation: the one-row corpus datacard — doc/lang/source "
    "cardinalities, token and char totals, length extremes and the "
    "short-document fraction, all from a single pass (the summary "
    "block every dataset datasheet leads with).  One combinable "
    "aggregate; distinct counts are over low-cardinality dims",
)
def c50_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    m = docs.select(
        "lang", "source", "n_chars",
        F.size(F.split(F.trim(F.lower("text")), " +")).alias("n_tok"))
    return m.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.min("n_tok").cast("long").alias("min_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.expr("sum(n_tok) div count(*)").cast("long")
        .alias("mean_tokens"),
        F.expr("sum(case when n_tok < 10 then 1 else 0 end) "
               "* 1000000 div count(*)").cast("long")
        .alias("short_doc_ppm"))


@_register(
    "b59_running_peak_drawdown",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             sum(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_cents
      FROM events
    ), p AS (
      SELECT user_id,
             max(running_cents) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak_cents,
             running_cents
      FROM s
    )
    SELECT user_id,
           CAST(max(peak_cents) AS BIGINT) AS peak_cents,
           CAST(max(peak_cents - running_cents) AS BIGINT)
             AS max_drawdown_cents
    FROM p GROUP BY user_id HAVING user_id < 100
    """,
    "running-extremum analytics: per-user cumulative value, its "
    "running peak (cummax window), and the maximum drawdown "
    "(peak-to-trough gap) — the time-series envelope metric.  Two "
    "stacked windows share ONE user_id shuffle and sort; integer "
    "cents keep every running sum exact",
)
def b59_running_peak_drawdown(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    s = ev.select(
        "user_id",
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(w)
        .alias("running_cents"),
        F.max(F.sum(F.floor(F.col("value") * 100).cast("long")).over(w))
        .over(w).alias("peak_cents"))
    return (s.filter(F.col("user_id") < 100)
            .groupBy("user_id")
            .agg(F.max("peak_cents").cast("long").alias("peak_cents"),
                 F.max(F.col("peak_cents") - F.col("running_cents"))
                 .cast("long").alias("max_drawdown_cents")))


@_register(
    "b60_ignore_nulls_carry",
    """
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT) END
               AS purchase_cents
      FROM events
    ), c AS (
      SELECT user_id, event_id, ts_us, purchase_cents,
             last_value(purchase_cents IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_cents
      FROM s
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN last_purchase_cents IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_before_first_purchase,
           CAST(max(last_purchase_cents) AS BIGINT) AS max_carried
    FROM c GROUP BY user_id HAVING user_id < 100
    """,
    "IGNORE NULLS window semantics: carry the most recent purchase "
    "amount forward across non-purchase events with last_value(... "
    "IGNORE NULLS) — the 'current state as of each event' pattern "
    "(b35's gap-fill sibling on the event grain).  One user_id "
    "shuffle; events before the first purchase stay NULL and are "
    "counted, not fabricated",
)
def b60_ignore_nulls_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.when(F.col("event_type") == "purchase",
                   F.floor(F.col("value") * 100).cast("long"))
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = ev.select(
        "user_id", cents.alias("purchase_cents"),
        F.last(cents, ignorenulls=True).over(w)
        .alias("last_purchase_cents"))
    return (c.filter(F.col("user_id") < 100)
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.col("last_purchase_cents").isNull().cast("int"))
                 .cast("long").alias("n_before_first_purchase"),
                 F.max("last_purchase_cents").cast("long")
                 .alias("max_carried")))


@_register(
    "b61_point_in_time_join",
    """
    WITH ch AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE event_type <> 'purchase'
    ), starts AS (
      SELECT user_id, event_type AS state, ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
               AS valid_to_us
      FROM ch WHERE prev_type IS NULL OR event_type <> prev_type
    ), purch AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND user_id < 200
    )
    SELECT s.state,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(p.cents) AS BIGINT) AS cents
    FROM purch p JOIN starts s
      ON s.user_id = p.user_id
     AND p.ts_us >= s.valid_from_us
     AND (s.valid_to_us IS NULL OR p.ts_us < s.valid_to_us)
    GROUP BY s.state
    """,
    "point-in-time (SCD2 interval) join: each purchase matches the "
    "dimension VERSION valid at its event time (half-open intervals "
    "from the b38-style change detector over NON-purchase events, "
    "so a purchase inherits the browsing state preceding it) — the "
    "feature-store "
    "correctness op that prevents label leakage from future "
    "attribute values.  The join is an equi-join on the entity key "
    "with the interval predicate evaluated inside it; per-key "
    "version chains are short, so the per-key cross-check is "
    "bounded.  Purchases at a state-change instant land in the NEW "
    "interval (>= from, < to), never both",
)
def b61_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (ev.filter(F.col("event_type") != "purchase")
          .select("user_id", "event_type",
                  F.unix_micros("ts").alias("ts_us"),
                  F.lag("event_type").over(w).alias("prev_type")))
    w2 = W.partitionBy("user_id").orderBy("ts_us")
    starts = (ch.filter(F.col("prev_type").isNull()
                        | (F.col("event_type") != F.col("prev_type")))
              .select("user_id", F.col("event_type").alias("state"),
                      F.col("ts_us").alias("valid_from_us"),
                      F.lead("ts_us").over(w2).alias("valid_to_us")))
    purch = (ev.filter((F.col("event_type") == "purchase")
                       & (F.col("user_id") < 200))
             .select("user_id", F.unix_micros("ts").alias("ts_us"),
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("cents")))
    j = purch.alias("p").join(
        starts.alias("s"),
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts_us") >= F.col("s.valid_from_us"))
        & (F.col("s.valid_to_us").isNull()
           | (F.col("p.ts_us") < F.col("s.valid_to_us"))))
    return (j.groupBy("s.state")
            .agg(F.count("*").cast("long").alias("n_purchases"),
                 F.sum("p.cents").cast("long").alias("cents")))


@_register(
    "b62_group_mode",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY n DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_type, n AS mode_n
    FROM r WHERE rn = 1 AND user_id < 200
    """,
    "per-group MODE with a deterministic tie-break: most frequent "
    "event type per user via two-level aggregate + max_by over "
    "struct(count, reversed-type) — never the built-in mode(), whose "
    "tie behavior is engine-arbitrary and would flake the hash.  "
    "Map-side combinable both levels; the argmax never sorts",
)
def b62_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
         .agg(F.count("*").cast("long").alias("n")))
    # argmax by (n desc, event_type asc): max over struct with the
    # type's sort direction inverted via unicode complement is fragile;
    # use min_by over (-n, event_type) instead — exact same ordering.
    best = (c.groupBy("user_id")
            .agg(F.min(F.struct((-F.col("n")).alias("neg_n"),
                                F.col("event_type").alias("t"))).alias("b")))
    return (best.filter(F.col("user_id") < 200)
            .select("user_id", F.col("b.t").alias("mode_type"),
                    (-F.col("b.neg_n")).cast("long").alias("mode_n")))


@_register(
    "b63_first_seen_cohorts",
    """
    WITH f AS (
      SELECT user_id,
             strftime(date_trunc('month', min(ts)), '%Y-%m')
               AS first_month
      FROM events GROUP BY user_id
    )
    SELECT first_month, CAST(count(*) AS BIGINT) AS new_users
    FROM f GROUP BY first_month
    """,
    "growth accounting: users bucketed by their FIRST-seen month (one "
    "min aggregate per user, then a month rollup — the 'new users per "
    "period' number; b30's retention cohorts consume exactly this "
    "grouping).  Both aggregates map-side combine; no window, no "
    "self-join",
)
def b63_first_seen_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    f = (ev.groupBy("user_id")
         .agg(F.date_format(F.min("ts"), "yyyy-MM").alias("first_month")))
    return (f.groupBy("first_month")
            .agg(F.count("*").cast("long").alias("new_users")))


@_register(
    "c51_source_dup_rate",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
               FROM sh a JOIN sh b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    paired AS (
      SELECT DISTINCT d FROM (
        SELECT d1 AS d FROM common
          JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
        WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.5
        UNION ALL
        SELECT d2 FROM common
          JOIN sizes x ON x.doc_id = d1 JOIN sizes y ON y.doc_id = d2
        WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.5)
    )
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(p.d) AS BIGINT) AS n_duplicated,
           CAST(count(p.d) * 1000000 // count(*) AS BIGINT) AS dup_ppm
    FROM documents d LEFT JOIN paired p ON p.d = d.doc_id
    GROUP BY d.source
    """,
    "LLM-curation: per-source duplication rate — the share of each "
    "source's documents that participate in ANY near-dup pair (c08 "
    "edges), the ranking that tells you WHICH feed to fix upstream.  "
    "The paired-doc set is tiny and broadcast-joins back to the "
    "corpus; per-source ppm from one aggregate",
)
def c51_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                  threshold=0.5)
    paired = (pairs.select(F.col("d1").alias("d"))
              .unionByName(pairs.select(F.col("d2").alias("d")))
              .distinct()
              .withColumn("_p", F.lit(1)))
    return (docs.join(F.broadcast(paired),
                      docs["doc_id"] == paired["d"], "left")
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.count("_p").cast("long").alias("n_duplicated"),
                 F.expr("count(_p) * 1000000 div count(*)").cast("long")
                 .alias("dup_ppm")))
