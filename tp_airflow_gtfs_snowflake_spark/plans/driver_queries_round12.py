"""Round-12 registry additions (driver round 7).

Batch tier: the two query-planning/statistics audits a 100 TB engine
lives or dies by (zone-map data skipping b162, histogram join-
cardinality estimation b163), the range-partitioner boundary planner
behind every global sort (b164), two ranking-eval metrics the eval
tier was missing (RBO c133, NDCG c134), and a token-suffix-array
repeated-span detector (c135 — the variable-length twin of the fixed-n
shingle dedups c43/c95).

Streaming tier: b161 value-oracles the RETRACTION path of incremental
aggregate maintenance across a checkpoint restart — the streaming twin
of b158 (VERDICT r06 task 4).  Reference contract: the silver
incremental loader (/root/reference/dags/gtfs_silver.py:122-213) is
append-only high-watermark maintenance; latest-wins upserts feeding an
aggregate generalize it to the case where a user's new version must
retract their previous contribution from a possibly DIFFERENT group.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.operators.kmv import (
    PORTABLE_HASH48_SQL as _H48, portable_hash48)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    _register, _t)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_round8 import (
    _two_phase_stream)


# ---------------------------------------------------------------------
# b162: zone-map (min/max) data-skipping audit
# ---------------------------------------------------------------------

_ZM_BUCKET = 1024          # rows arrive roughly orderkey-ordered, so a
                           # div-bucket simulates a parquet row group
_ZM_LO = "1997-01-01"
_ZM_HI = "1997-12-31"


@_register(
    "b162_zonemap_skipping_audit",
    f"""
    WITH z AS (
      SELECT l_orderkey // {_ZM_BUCKET} AS bkt,
             min(l_shipdate) AS mn, max(l_shipdate) AS mx,
             count(*) AS cnt,
             sum(CASE WHEN l_shipdate BETWEEN TIMESTAMP '{_ZM_LO}'
                       AND TIMESTAMP '{_ZM_HI}' THEN 1 ELSE 0 END)
               AS hits
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT *,
             CASE WHEN mx < TIMESTAMP '{_ZM_LO}'
                    OR mn > TIMESTAMP '{_ZM_HI}' THEN 'skip'
                  WHEN mn >= TIMESTAMP '{_ZM_LO}'
                   AND mx <= TIMESTAMP '{_ZM_HI}' THEN 'full'
                  ELSE 'partial' END AS cls
      FROM z
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN cls = 'skip' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_skip,
           CAST(sum(CASE WHEN cls = 'full' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full,
           CAST(sum(CASE WHEN cls = 'partial' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_partial,
           CAST(sum(cnt) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN cls = 'skip' THEN 0 ELSE cnt END)
                AS BIGINT) AS rows_scanned,
           CAST(sum(hits) AS BIGINT) AS rows_matched,
           CAST(sum(CASE WHEN cls = 'skip' THEN cnt ELSE 0 END)
                * 1000000 // sum(cnt) AS BIGINT) AS skip_ppm
    FROM c
    """,
    "ZONE-MAP DATA SKIPPING audit — the min/max file-statistics "
    "pruning every lakehouse scan planner performs (parquet row-group "
    "stats / Delta-Iceberg file stats), made value-checkable: buckets "
    f"of {_ZM_BUCKET} orderkeys simulate row groups (the fact table "
    "arrives roughly key-ordered, so shipdate is weakly clustered), "
    "the planner keeps only each bucket's (min, max, count) zone map "
    "and classifies it against a shipdate-year predicate as "
    "skip / full-match / partial (needs a real scan); the audit "
    "reports the skip rate and cross-checks rows_matched exactly.  "
    "A classifier that skips a bucket containing matches, or scans a "
    "provably-disjoint one, shifts rows_matched/skip_ppm.  Scale "
    "shape: the zone-map build is ONE narrow aggregate (3 columns "
    "in, 4 out per bucket); classification and the audit run on "
    "|buckets| rows — at 100 TB that is the file-stats manifest, "
    "never the data.  Correctness invariant pinned by the oracle: "
    "rows_matched computed ONLY from full+partial buckets equals the "
    "whole-table predicate count (skip buckets provably contribute "
    "zero).",
)
def b162_zonemap_skipping_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(_ZM_HI).cast("timestamp")
    # one narrow pass builds the zone-map manifest
    z = (li.select((F.col("l_orderkey") / _ZM_BUCKET)
                   .cast("long").alias("bkt"),
                   "l_shipdate")
         .groupBy("bkt")
         .agg(F.min("l_shipdate").alias("mn"),
              F.max("l_shipdate").alias("mx"),
              F.count("*").alias("cnt"),
              F.sum(F.when(F.col("l_shipdate").between(lo, hi), 1)
                    .otherwise(0)).alias("hits")))
    c = z.withColumn(
        "cls",
        F.when((F.col("mx") < lo) | (F.col("mn") > hi), "skip")
        .when((F.col("mn") >= lo) & (F.col("mx") <= hi), "full")
        .otherwise("partial"))
    return c.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("cls") == "skip", 1).otherwise(0))
        .cast("long").alias("n_skip"),
        F.sum(F.when(F.col("cls") == "full", 1).otherwise(0))
        .cast("long").alias("n_full"),
        F.sum(F.when(F.col("cls") == "partial", 1).otherwise(0))
        .cast("long").alias("n_partial"),
        F.sum("cnt").cast("long").alias("rows_total"),
        F.sum(F.when(F.col("cls") == "skip", 0).otherwise(F.col("cnt")))
        .cast("long").alias("rows_scanned"),
        F.sum("hits").cast("long").alias("rows_matched"),
        F.expr("sum(CASE WHEN cls = 'skip' THEN cnt ELSE 0 END) "
               "* 1000000 div sum(cnt)").cast("long").alias("skip_ppm"))


# ---------------------------------------------------------------------
# b163: histogram/NDV join-cardinality estimation vs exact
# ---------------------------------------------------------------------

_JC_BUCKETS = 16


@_register(
    "b163_join_cardinality_estimate",
    f"""
    WITH r AS (
      SELECT user_id % {_JC_BUCKETS} AS bkt,
             count(*) AS n, count(DISTINCT user_id) AS d
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), s AS (
      SELECT user_id % {_JC_BUCKETS} AS bkt,
             count(*) AS n, count(DISTINCT user_id) AS d
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(r.n * s.n // greatest(r.d, s.d)) AS BIGINT)
               AS est_card
      FROM r JOIN s USING (bkt)
    ), ex AS (
      SELECT CAST(sum(r.c * s.c) AS BIGINT) AS exact_card
      FROM (SELECT user_id, count(*) AS c FROM events
            WHERE event_type = 'click' GROUP BY 1) r
      JOIN (SELECT user_id, count(*) AS c FROM events
            WHERE event_type = 'purchase' GROUP BY 1) s
        USING (user_id)
    )
    SELECT n_buckets, est_card, exact_card,
           CAST(abs(est_card - exact_card) * 1000000 // exact_card
                AS BIGINT) AS err_ppm
    FROM est, ex
    """,
    "JOIN-CARDINALITY ESTIMATION — the equi-width-histogram + NDV "
    "estimator inside every cost-based optimizer (System R's "
    "containment-of-values rule: per-bucket |R⋈S| ≈ nR*nS / "
    "max(dR,dS)), audited against the exact join size.  R = click "
    f"events, S = purchase events, key user_id, {_JC_BUCKETS} "
    "hash buckets; the estimate uses ONLY per-bucket (row count, "
    "NDV) statistics — what ANALYZE TABLE ships to the planner — "
    "while the exact side multiplies per-key counts.  err_ppm is "
    "the realized estimation error of the uniformity assumption on "
    "this data.  Scale shape: the statistics side is two narrow "
    "aggregates to |buckets| rows; the exact side pre-aggregates "
    "per key BEFORE the join (never a row-level join) — both are "
    "the shapes a 100 TB ANALYZE/audit pass would use.  Integer "
    "division on both sides keeps the hash float-free.",
)
def b163_join_cardinality_estimate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")

    def stats(t: str) -> DataFrame:
        return (ev.filter(F.col("event_type") == t)
                .groupBy((F.col("user_id") % _JC_BUCKETS).alias("bkt"))
                .agg(F.count("*").alias("n"),
                     F.countDistinct("user_id").alias("d")))

    def perkey(t: str) -> DataFrame:
        return (ev.filter(F.col("event_type") == t)
                .groupBy("user_id").agg(F.count("*").alias("c")))

    est = (stats("click").alias("r")
           .join(stats("purchase").alias("s"), "bkt")
           .agg(F.count("*").cast("long").alias("n_buckets"),
                F.expr("sum(r.n * s.n div greatest(r.d, s.d))")
                .cast("long").alias("est_card")))
    exact = (perkey("click").withColumnRenamed("c", "c1")
             .join(perkey("purchase").withColumnRenamed("c", "c2"),
                   "user_id")
             .agg(F.sum(F.col("c1") * F.col("c2")).cast("long")
                  .alias("exact_card")))
    return (est.crossJoin(F.broadcast(exact))
            .select("n_buckets", "est_card", "exact_card",
                    F.expr("abs(est_card - exact_card) * 1000000 "
                           "div exact_card").cast("long")
                    .alias("err_ppm")))


# ---------------------------------------------------------------------
# b164: range-partitioner boundary planning (sample -> boundaries ->
#       realized balance audit)
# ---------------------------------------------------------------------

_RP_K = 200                # deterministic sample size
_RP_B = 8                  # target range partitions


@_register(
    "b164_range_partition_boundaries",
    f"""
    WITH s AS (
      SELECT n_chars FROM documents
      ORDER BY {_H48.format(c='doc_id')}, doc_id LIMIT {_RP_K}
    ), arr AS (
      SELECT list_sort(list(n_chars)) AS a FROM s
    ), bounds AS (
      SELECT i AS bid, a[(i * {_RP_K}) // {_RP_B}] AS b
      FROM arr, unnest(range(1, {_RP_B})) AS t(i)
    ), assigned AS (
      SELECT d.doc_id,
             (SELECT count(*) FROM bounds WHERE d.n_chars > bounds.b)
               AS range_id
      FROM documents d
    ), spine AS (SELECT unnest(range({_RP_B})) AS range_id),
    counts AS (
      SELECT range_id, count(*) AS n FROM assigned GROUP BY 1
    ), tot AS (SELECT count(*) AS t FROM documents)
    SELECT CAST(spine.range_id AS BIGINT) AS range_id,
           CAST(coalesce(counts.n, 0) AS BIGINT) AS n_rows,
           CAST(coalesce(counts.n, 0) * {_RP_B} * 1000000 // tot.t
                AS BIGINT) AS load_ppm
    FROM spine LEFT JOIN counts USING (range_id), tot
    ORDER BY range_id
    """,
    "RANGE-PARTITIONER BOUNDARY PLANNING — the sample-based boundary "
    "estimation behind every distributed global sort (Spark's "
    "RangePartitioner: sample keys, pick B-quantile split points, "
    "assign rows by boundary count), audited for realized balance.  "
    f"A deterministic bottom-{_RP_K}-by-md5 sample (the c126 "
    "discipline: reproducible in both engines, unlike reservoir "
    f"RNG) yields {_RP_B - 1} boundaries at sample quantiles; every "
    "row's range_id = #boundaries strictly below its key; the audit "
    "reports per-range row counts and load_ppm (1e6 = perfectly "
    "balanced).  A boundary off by one sample index, or an "
    "assignment that mishandles boundary ties, shifts the counts.  "
    "Scale shape: the sample is a TakeOrdered (bounded), boundaries "
    "broadcast to the assignment scan (one narrow map — no shuffle "
    "of the data itself: the audit COSTS a histogram, the real "
    "repartition would move rows), counts are one tiny aggregate.  "
    "This is exactly how the engine should plan a 100 TB ORDER BY: "
    "balance verified from statistics before paying the shuffle.",
)
def b164_range_partition_boundaries(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sample = (docs
              .select("n_chars", "doc_id",
                      portable_hash48(F.col("doc_id")).alias("h"))
              .orderBy("h", "doc_id").limit(_RP_K)
              .agg(F.array_sort(F.collect_list("n_chars")).alias("a")))
    bounds = sample.select(F.array(
        *[F.element_at("a", (i * _RP_K) // _RP_B)
          for i in range(1, _RP_B)]).alias("bs"))
    assigned = (docs.crossJoin(F.broadcast(bounds))
                .select(F.aggregate(
                    "bs", F.lit(0),
                    lambda acc, b: acc + F.when(F.col("n_chars") > b, 1)
                    .otherwise(0)).cast("long").alias("range_id")))
    counts = assigned.groupBy("range_id").agg(F.count("*").alias("n"))
    spine = spark.range(_RP_B).select(F.col("id").alias("range_id"))
    tot = docs.agg(F.count("*").alias("t"))
    return (spine.join(counts, "range_id", "left")
            .crossJoin(F.broadcast(tot))
            .select(F.col("range_id").cast("long").alias("range_id"),
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_rows"),
                    F.expr(f"coalesce(n, 0) * {_RP_B} * 1000000 div t")
                    .cast("long").alias("load_ppm"))
            .orderBy("range_id"))


# ---------------------------------------------------------------------
# c133: rank-biased overlap between two document rankings
# ---------------------------------------------------------------------

_RBO_K = 50
_RBO_P = 0.9
_RBO_W = 0.1   # 1 - p, as the SAME literal in both engines: DuckDB
               # evaluates (1 - 0.9) in DECIMAL (exactly 0.1) while a
               # Python 1 - 0.9 double is 0.09999999999999998 — start
               # both sides from the identical double instead


@_register(
    "c133_rank_biased_overlap",
    f"""
    WITH a AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY n_chars DESC, doc_id) AS ra
      FROM documents ORDER BY n_chars DESC, doc_id LIMIT {_RBO_K}
    ), b AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY length(replace(text, ' ', '')) DESC, doc_id)
               AS rb
      FROM documents
      ORDER BY length(replace(text, ' ', '')) DESC, doc_id
      LIMIT {_RBO_K}
    ), m AS (
      SELECT greatest(ra, rb) AS m FROM a JOIN b USING (doc_id)
    ), d AS (SELECT unnest(range(1, {_RBO_K} + 1)) AS d),
    ov AS (
      SELECT d.d, (SELECT count(*) FROM m WHERE m.m <= d.d) AS ov
      FROM d
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(max(CASE WHEN d = {_RBO_K} THEN ov END) AS BIGINT)
             AS overlap_at_k,
           CAST(round(sum({_RBO_W} * power({_RBO_P}, d - 1)
                          * ov / d) * 1000000) AS BIGINT) AS rbo_ppm
    FROM ov
    """,
    "RANK-BIASED OVERLAP (Webber/Moffat/Zobel 2010), truncated at "
    f"depth {_RBO_K} with persistence p={_RBO_P} — the top-weighted "
    "ranking-similarity metric for comparing two quality scorers "
    "over the same corpus (here: chars-including-spaces vs chars-"
    "excluding-spaces, deterministic doc_id tiebreak).  overlap_d "
    "counts docs whose max(rank_A, rank_B) <= d, so the per-depth "
    "agreement needs ONE join of the two bounded top-k lists; the "
    "weighted sum runs over a k-row spine.  The geometric weights "
    "are double math rounded to ppm at the end (the c127 "
    "fixed-point posture; overlap counts themselves stay exact "
    "integers).  Scale shape: both rankings are TakeOrdered top-k "
    "pulls (never a global sort), everything after is O(k^2) "
    "driver-free arithmetic on broadcastable relations — at 100 TB "
    "only the two top-k scans touch data.",
)
def c133_rank_biased_overlap(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def topk(score, name: str) -> DataFrame:
        d = (docs.select("doc_id", score.alias("s"))
             .orderBy(F.desc("s"), "doc_id").limit(_RBO_K))
        return d.select(
            "doc_id",
            F.row_number().over(W.orderBy(F.desc("s"), "doc_id"))
            .alias(name))

    a = topk(F.col("n_chars"), "ra")
    b = topk(F.length(F.regexp_replace("text", " ", "")), "rb")
    m = (a.join(b, "doc_id")
         .select(F.greatest("ra", "rb").alias("m")))
    d = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    # left-join the spine back so DISJOINT rankings (empty m) still
    # yield a 50-row ov with zeros — matching the oracle's correlated
    # count, which returns 0 rather than losing the spine
    ov = (d.join(d.crossJoin(m)
                 .groupBy("d")
                 .agg(F.sum(F.when(F.col("m") <= F.col("d"), 1)
                            .otherwise(0)).alias("ov")),
                 "d", "left")
          .select("d", F.coalesce("ov", F.lit(0)).alias("ov")))
    return ov.agg(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("ov")))
        .cast("long").alias("overlap_at_k"),
        F.round(F.sum(F.lit(_RBO_W)
                      * F.pow(F.lit(_RBO_P), F.col("d") - 1)
                      * F.col("ov") / F.col("d")) * 1000000)
        .cast("long").alias("rbo_ppm"))


# ---------------------------------------------------------------------
# c134: NDCG@k per source (graded ranking eval)
# ---------------------------------------------------------------------

_NDCG_K = 20


@_register(
    "c134_ndcg_eval",
    f"""
    WITH g AS (
      SELECT source, doc_id, n_chars,
             {_H48.format(c='doc_id')} % 4 AS rel
      FROM documents
    ), r AS (
      SELECT source, rel, row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      FROM g
    ), i AS (
      SELECT source, rel, row_number() OVER (
               PARTITION BY source ORDER BY rel DESC, doc_id) AS rn
      FROM g
    ), dcg AS (
      SELECT source, count(*) AS n_docs,
             sum(CASE WHEN rn <= {_NDCG_K}
                      THEN (power(2, rel) - 1) / log2(rn + 1)
                      ELSE 0 END) AS dcg
      FROM r GROUP BY source
    ), idcg AS (
      SELECT source,
             sum(CASE WHEN rn <= {_NDCG_K}
                      THEN (power(2, rel) - 1) / log2(rn + 1)
                      ELSE 0 END) AS idcg
      FROM i GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(round(dcg * 1000000) AS BIGINT) AS dcg_ppm,
           CAST(round(idcg * 1000000) AS BIGINT) AS idcg_ppm,
           CAST(round(dcg / idcg * 1000000) AS BIGINT) AS ndcg_ppm
    FROM dcg JOIN idcg USING (source)
    ORDER BY source
    """,
    f"NDCG@{_NDCG_K} per source — the graded-relevance ranking "
    "metric completing the eval tier (AP c132 is binary-relevance, "
    "precision@1 c110 is hit-based, RBO c133 compares rankings; "
    "NDCG scores ONE ranking against graded labels).  The 'model' "
    "ranks each source's docs by n_chars (doc_id tiebreak); graded "
    "relevance 0..3 derives from the portable 48-bit md5 of doc_id "
    "(deterministic in both engines — the c124 keyed-randomness "
    "discipline).  DCG uses the standard (2^rel - 1)/log2(rank+1) "
    "gain; IDCG re-ranks the same pool by relevance (rel DESC, "
    "doc_id) so ndcg = dcg/idcg is 1 iff the model ranking is "
    "relevance-optimal.  Doubles are rounded to ppm only at the "
    "end; ranks and gains are integers.  Scale shape: two "
    "source-partitioned windows (rank and ideal-rank) over narrow "
    "rows and one aggregate — per-source parallelism, no global "
    "sort; at 100 TB a skewed source would swap the window for the "
    "c132 blocked-rank decomposition.",
)
def c134_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (_t(spark, sf_dir, "documents")
         .select("source", "doc_id", "n_chars",
                 (portable_hash48(F.col("doc_id")) % 4).alias("rel")))
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rn") + 1)
    in_k = F.when(F.col("rn") <= _NDCG_K, gain).otherwise(F.lit(0.0))
    r = g.withColumn("rn", F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")))
    i = g.withColumn("rn", F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("rel"), "doc_id")))
    dcg = (r.groupBy("source")
           .agg(F.count("*").alias("n_docs"), F.sum(in_k).alias("dcg")))
    idcg = (i.groupBy("source").agg(F.sum(in_k).alias("idcg")))
    return (dcg.join(idcg, "source")
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.round(F.col("dcg") * 1000000).cast("long")
                    .alias("dcg_ppm"),
                    F.round(F.col("idcg") * 1000000).cast("long")
                    .alias("idcg_ppm"),
                    F.round(F.col("dcg") / F.col("idcg") * 1000000)
                    .cast("long").alias("ndcg_ppm"))
            .orderBy("source"))


# ---------------------------------------------------------------------
# c135: token-suffix-array LCP repeated-span detection
# ---------------------------------------------------------------------

_LCP_W = 8                 # suffixes truncated to 8 tokens (caps LCP)
_LCP_THR = 4               # "repeated span" = adjacent LCP >= 4 tokens


@_register(
    "c135_token_suffix_lcp_dup",
    f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk
      FROM documents
    ), suf AS (
      SELECT doc_id, source, p,
             tk[p:least(p + {_LCP_W} - 1, len(tk))] AS s
      FROM (SELECT doc_id, source, tk,
                   generate_subscripts(tk, 1) AS p FROM toks)
    ), adj AS (
      SELECT source, s,
             lag(s) OVER (PARTITION BY source
                          ORDER BY array_to_string(s, ' '),
                                   doc_id, p) AS prev
      FROM suf
    ), lcp AS (
      SELECT source,
             {" + ".join(
                 f"CASE WHEN len(s) >= {k} AND len(prev) >= {k} "
                 f"AND s[1:{k}] = prev[1:{k}] THEN 1 ELSE 0 END"
                 for k in range(1, _LCP_W + 1))} AS l
      FROM adj WHERE prev IS NOT NULL
    )
    SELECT source,
           CAST(count(*) + 1 AS BIGINT) AS n_suffixes,
           CAST(max(l) AS BIGINT) AS max_lcp,
           CAST(sum(CASE WHEN l >= {_LCP_THR} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rep{_LCP_THR},
           CAST(sum(CASE WHEN l >= {_LCP_THR} THEN 1 ELSE 0 END)
                * 1000000 // (count(*) + 1) AS BIGINT) AS rep_ppm
    FROM lcp GROUP BY source ORDER BY source
    """,
    "TOKEN-SUFFIX-ARRAY repeated-span detection — the variable-"
    "length generalization of the fixed-n shingle dedups (c43 dup "
    "n-gram rate, c95 13-gram decontamination): sort every token "
    f"suffix (truncated to {_LCP_W} tokens) within its source and "
    "take the token-LCP of lexicographically adjacent suffixes — "
    "the suffix-array adjacency theorem makes the adjacent maximum "
    "the GLOBAL maximum repeated token span per source (spans "
    f"capped at {_LCP_W}); positions with adjacent LCP >= "
    f"{_LCP_THR} mark repeated-span starts (rep_ppm is the dup-"
    "span density a curation pipeline thresholds on).  LCP is the "
    "sum of monotone prefix-equality indicators on list slices — "
    "exact integers in both engines.  Scale shape: suffix rows are "
    "narrow (source, 8-token slice) and the single shuffle is the "
    "per-source sort; at 100 TB the sort key extends to (source, "
    "first-token bucket) with a one-row-overlap boundary shift "
    "(the standard distributed suffix-array construction), keeping "
    "partitions bounded while preserving every adjacent pair.",
)
def c135_token_suffix_lcp_dup(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    toks = (_t(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    F.split("text", " ").alias("tk")))
    suf = (toks
           .select("doc_id", "source", "tk",
                   F.posexplode("tk").alias("p0", "_tok"))
           .select("doc_id", "source",
                   (F.col("p0") + 1).alias("p"),
                   F.slice("tk", F.col("p0") + 1, _LCP_W).alias("s")))
    adj = (suf
           .withColumn("sort_key", F.concat_ws(" ", "s"))
           .withColumn("prev", F.lag("s").over(
               W.partitionBy("source")
               .orderBy("sort_key", "doc_id", "p")))
           .filter(F.col("prev").isNotNull()))
    eq_k = [F.when((F.size("s") >= k) & (F.size("prev") >= k)
                   & (F.slice("s", 1, k) == F.slice("prev", 1, k)), 1)
            .otherwise(0) for k in range(1, _LCP_W + 1)]
    lcp = adj.select("source",
                     sum(eq_k[1:], eq_k[0]).alias("l"))
    thr = _LCP_THR
    return (lcp.groupBy("source")
            .agg((F.count("*") + 1).cast("long").alias("n_suffixes"),
                 F.max("l").cast("long").alias("max_lcp"),
                 F.sum(F.when(F.col("l") >= thr, 1).otherwise(0))
                 .cast("long").alias(f"n_rep{thr}"),
                 F.expr(f"sum(CASE WHEN l >= {thr} THEN 1 ELSE 0 END)"
                        " * 1000000 div (count(*) + 1)").cast("long")
                 .alias("rep_ppm"))
            .orderBy("source"))


# ---------------------------------------------------------------------
# b161: streaming incremental aggregate WITH RETRACTIONS across a
#       checkpoint restart (the streaming twin of b158)
# ---------------------------------------------------------------------


@_register(
    "b161_streaming_retraction_restart",
    """
    WITH k AS (
      SELECT user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS value_cents,
             lpad(CAST(CAST(floor(epoch_us(ts)) AS BIGINT) AS VARCHAR),
                  19, '0') ||
             lpad(CAST(event_id AS VARCHAR), 19, '0') AS ord
      FROM events
    ), latest AS (
      SELECT user_id,
             arg_max(event_type, ord)  AS event_type,
             arg_max(value_cents, ord) AS value_cents
      FROM k GROUP BY user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(value_cents) AS BIGINT) AS total_cents
    FROM latest GROUP BY event_type ORDER BY event_type
    """,
    "STREAMING incremental-aggregate maintenance WITH RETRACTIONS "
    "across a CHECKPOINT RESTART — the streaming twin of b158 "
    "(VERDICT r06 task 4) and the retraction generalization of the "
    "reference's append-only high-watermark silver loader "
    "(dags/gtfs_silver.py:122-213).  The maintained view is "
    "sum-of-each-user's-LATEST-value per event_type; a user's new "
    "version must RETRACT their previous contribution from a "
    "possibly different group.  Each micro-batch (availableNow, one "
    "file per trigger, restart between the two landing phases) "
    "computes its latest-per-user, joins ONCE against the keyed "
    "user-state table, and emits +/- adjustment rows (retract old "
    "type/value, add new) to an epoch-partitioned adjustment log "
    "(dynamic overwrite -> replay-idempotent) BEFORE upserting the "
    "user state (merge_upsert, idempotent latest-wins).  The final "
    "answer is read from the ADJUSTMENT LOG ALONE — never "
    "recomputed from user state — so the hash matches iff the "
    "retraction algebra (pairing, tiebreak ts DESC then event_id "
    "DESC, cross-group moves) is exact across every batch boundary "
    "AND the restart.  The oracle recomputes the view from scratch. "
    " Scale shape: per batch the state join touches |batch users| "
    "rows, adjustments are O(|changed users|), and the log compacts "
    "by summing — additive-group maintenance, never a base rescan.",
)
def b161_streaming_retraction_restart(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        retraction_apply_batch)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts")
    base = tempfile.mkdtemp(prefix="b161_retract_")
    ustate = f"{base}/ustate"
    adj = f"{base}/adj"
    ckpt = f"{base}/ckpt"

    def run(landing: str) -> None:
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(landing))

        def apply_batch(batch: DataFrame, epoch_id: int) -> None:
            upd = (batch
                   .withColumn("value_cents",
                               F.floor(F.col("value") * 100)
                               .cast("long"))
                   .withColumn("ts_us", F.unix_micros("ts"))
                   .withColumn(
                       "ord",
                       F.concat(
                           F.lpad(F.col("ts_us").cast("string"),
                                  19, "0"),
                           F.lpad(F.col("event_id").cast("string"),
                                  19, "0")))
                   .select("user_id", "event_type", "value_cents",
                           "ord"))
            retraction_apply_batch(
                spark, upd, ustate_path=ustate, adj_path=adj,
                epoch_id=epoch_id)

        q = (stream.writeStream.foreachBatch(apply_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    _two_phase_stream(spark, ev, base, run)

    # the view materializes from the adjustment log ALONE
    return (spark.read.parquet(adj)
            .groupBy("event_type")
            .agg(F.sum("d_users").cast("long").alias("n_users"),
                 F.sum("d_cents").cast("long").alias("total_cents"))
            .filter(F.col("n_users") > 0)
            .orderBy("event_type"))
