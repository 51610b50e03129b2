"""Round-9 registry additions (driver round 5, late batch).

Closes the last open corners of the sketch and streaming families and
adds an embedding-eval query:

- b144 Bloom-filter membership sketch with a MEASURED false-positive
  audit — completes the mergeable-sketch set (KMV distinct b102,
  Misra-Gries heavy hitters c38, Count-Min frequency b141, and now
  Bloom membership).  Like the others it is built on the portable
  md5-48 hash so the DuckDB oracle reproduces every bit position and
  every claimed/actual membership verdict exactly.
- c126 bottom-k-by-hash sampled quantiles — the mergeable scale path
  that b20/b23 document ("switch to a sketch at 100 TB") but could
  not oracle: a bottom-k uniform sample IS deterministic under the
  portable hash, so its quantile estimates value-hash match, and the
  query reports estimate-vs-exact error per percentile.
- b145 streaming CDC upsert: foreachBatch latest-wins MERGE into a
  keyed table across a CHECKPOINT RESTART — the seventh streaming
  value-hash row, covering the update-in-place loader class (b134
  covered append-only exactly-once).
- c127 kNN label-consistency eval over the embeddings table (the
  standard embedding-QA probe: does a vector's 5-NN majority label
  agree with its own label?), exact and fully oracled.

Reference parity: the reference's loader DAGs are append-only COPY
INTO + idempotent re-runs (dags/gtfs_static_daily.py); b145
reconstructs the keyed-upsert half of that contract on Structured
Streaming checkpoints.  The sketch/eval queries extend the
training-data-pipeline tier the charter grades alongside SURVEY §2.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine
from tp_airflow_gtfs_snowflake_spark.operators.kmv import (
    PORTABLE_HASH48_SQL as _H48, portable_hash48)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    _register, _t)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_round8 import (
    _two_phase_stream)


# ---------------------------------------------------------------------
# b144: Bloom-filter membership sketch + false-positive audit
# ---------------------------------------------------------------------

_BLOOM_M = 16384   # bits
_BLOOM_K = 4       # hash functions


def _bloom_positions_sql(key: str) -> str:
    """The j-th bit position for ``key`` (j cross-joined in): an
    INDEPENDENT salted hash per j.  Affine transforms of one hash
    (the KMV minhash trick) would collapse here: m divides 2^48, so
    (a*h+b) mod 2^48 mod m is a function of h mod m alone and all k
    positions would be perfectly correlated — one effective hash and
    a measured FP rate ~8x the k=4 design point."""
    h = _H48.format(c=f"CAST(j AS VARCHAR) || '#' || {key}")
    return f"{h} % {_BLOOM_M}"


_BLOOM_KEY = ("CAST(user_id AS VARCHAR) || '|' || "
              "CAST(CAST(ts AS DATE) AS VARCHAR)")


@_register(
    "b144_bloom_membership",
    f"""
    WITH members AS (
      SELECT DISTINCT user_id, {_BLOOM_KEY} AS key
      FROM events WHERE event_type = 'purchase'
    ), probes AS (
      SELECT DISTINCT user_id, {_BLOOM_KEY} AS key
      FROM events WHERE event_type = 'error'
    ), js AS (
      SELECT unnest(range(0, {_BLOOM_K})) AS j
    ), bits AS (
      SELECT DISTINCT {_bloom_positions_sql('key')} AS pos
      FROM members CROSS JOIN js
    ), pp AS (
      SELECT user_id, key,
             {_bloom_positions_sql('key')} AS pos
      FROM probes CROSS JOIN js
    ), pm AS (
      SELECT user_id, key,
             sum(CASE WHEN pos IN (SELECT pos FROM bits)
                      THEN 1 ELSE 0 END) AS nset
      FROM pp GROUP BY user_id, key
    ), lab AS (
      SELECT user_id % 4 AS bucket,
             CASE WHEN nset = {_BLOOM_K} THEN 1 ELSE 0 END AS claimed,
             CASE WHEN key IN (SELECT key FROM members)
                  THEN 1 ELSE 0 END AS is_member
      FROM pm
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(claimed) AS BIGINT) AS n_claimed,
           CAST(sum(is_member) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN claimed = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM lab GROUP BY bucket ORDER BY bucket
    """,
    "Bloom-filter membership sketch, fully value-oracled — completes "
    "the mergeable-sketch family (KMV b102 / Misra-Gries c38 / "
    f"Count-Min b141 / Bloom).  A {_BLOOM_M}-bit, k={_BLOOM_K} filter "
    "is built over (user, day) purchase-activity keys (bit positions "
    "= k independent salted portable md5-48 hashes, so the oracle "
    "reproduces every bit) and probed with (user, day) error keys — "
    "a grain where member and non-member probes genuinely mix; the "
    "output audits claimed membership against exact membership per "
    "user bucket — n_false_pos IS the measured FP count, and a "
    "member probe that fails the filter (impossible by construction) "
    "would flip n_claimed.  Scale shape: the bit set is a "
    f"DISTINCT over <= {_BLOOM_M} positions (mergeable, "
    "idempotent union — the streaming/multi-shard merge is a bitmap "
    "OR), broadcast to the probe side; each side shuffles only "
    "distinct keys.  At 100 TB this is the pre-filter that "
    "skips the heavy anti-join (c30/c95 decontamination) for the "
    "~99% of probes the filter rejects.",
)
def b144_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    key = F.concat_ws("|", F.col("user_id").cast("string"),
                      F.col("ts").cast("date").cast("string"))
    members = (ev.filter(F.col("event_type") == "purchase")
               .select("user_id", key.alias("key")).distinct())
    probes = (ev.filter(F.col("event_type") == "error")
              .select("user_id", key.alias("key")).distinct())

    def positions(df: DataFrame) -> DataFrame:
        # k INDEPENDENT salted hashes (see _bloom_positions_sql: an
        # affine family of ONE hash degenerates because m | 2^48).
        pos = [portable_hash48(
                   F.concat_ws("#", F.lit(str(j)), F.col("key")))
               % F.lit(_BLOOM_M)
               for j in range(_BLOOM_K)]
        return df.select("user_id", "key",
                         F.explode(F.array(*pos)).alias("pos"))

    bits = positions(members).select("pos").distinct()
    probe_hits = (positions(probes)
                  .join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                        "pos", "left")
                  .groupBy("user_id", "key")
                  .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                       .alias("nset")))
    lab = (probe_hits
           .join(F.broadcast(members.select("key")
                             .withColumn("is_m", F.lit(1))),
                 "key", "left")
           .select((F.col("user_id") % 4).alias("bucket"),
                   F.when(F.col("nset") == _BLOOM_K, 1).otherwise(0)
                   .alias("claimed"),
                   F.coalesce(F.col("is_m"), F.lit(0)).alias("is_member")))
    return (lab.groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_probes"),
                 F.sum("claimed").cast("long").alias("n_claimed"),
                 F.sum("is_member").cast("long").alias("n_members"),
                 F.sum(F.when((F.col("claimed") == 1)
                              & (F.col("is_member") == 0), 1)
                       .otherwise(0)).cast("long").alias("n_false_pos"))
            .withColumn("bucket", F.col("bucket").cast("long"))
            .select("bucket", "n_probes", "n_claimed", "n_members",
                    "n_false_pos")
            .orderBy("bucket"))


# ---------------------------------------------------------------------
# c126: bottom-k-by-hash sampled quantiles vs exact
# ---------------------------------------------------------------------

_SAMPLE_K = 400
_QUANTILE_PCTS = (25, 50, 75, 90)


@_register(
    "c126_sampled_quantiles",
    f"""
    WITH ps AS (
      SELECT unnest([{', '.join(str(p) for p in _QUANTILE_PCTS)}]) AS p_pct
    ), s AS (
      SELECT n_chars
      FROM documents
      ORDER BY {_H48.format(c='doc_id')}, doc_id
      LIMIT {_SAMPLE_K}
    ), sr AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
             count(*) OVER () AS n
      FROM s
    ), samp AS (
      SELECT p_pct, min(n_chars) AS sample_q
      FROM sr JOIN ps ON rn * 100 >= p_pct * n GROUP BY p_pct
    ), er AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
             count(*) OVER () AS n
      FROM documents
    ), ex AS (
      SELECT p_pct, min(n_chars) AS exact_q
      FROM er JOIN ps ON rn * 100 >= p_pct * n GROUP BY p_pct
    )
    SELECT CAST(samp.p_pct AS BIGINT) AS p_pct,
           CAST(sample_q AS BIGINT) AS sample_q,
           CAST(exact_q AS BIGINT) AS exact_q,
           CAST(abs(sample_q - exact_q) AS BIGINT) AS abs_err
    FROM samp JOIN ex ON samp.p_pct = ex.p_pct
    ORDER BY p_pct
    """,
    "Sampled quantiles via a bottom-k-by-hash uniform sample, with "
    "measured error vs the exact quantile — the mergeable scale path "
    "b20/b23 document for 100 TB percentiles, made value-oracle-able "
    "because a bottom-k sample under the portable md5-48 hash is a "
    "pure function of the key set (same keys -> same sample in any "
    f"engine).  The k={_SAMPLE_K} sample compiles to "
    "TakeOrderedAndProject (per-partition top-k + driver merge, no "
    "global sort — the same mergeable 'k smallest hashes' state as "
    "the KMV sketch, here carrying the VALUE next to the hash); the "
    "exact side collapses the corpus to a value histogram first and "
    "reads the discrete quantile off the cumulative counts (b77 "
    "weighted-median shape — no global row sort either).  Discrete "
    "(type-1) quantile semantics on both sides: smallest value with "
    "cume count >= ceil(p*n), which DuckDB's quantile_disc computes "
    "(equivalence verified by b75).",
)
def c126_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ps = F.explode(F.array(*[F.lit(p) for p in _QUANTILE_PCTS]))

    # sample side: k smallest (hash, doc_id) rows -> TakeOrdered; the
    # quantile is then an in-array lookup on <= k elements.
    sample = (docs
              .select("n_chars", "doc_id",
                      portable_hash48(F.col("doc_id")).alias("h"))
              .orderBy("h", "doc_id")
              .limit(_SAMPLE_K)
              .agg(F.array_sort(F.collect_list("n_chars")).alias("arr"))
              .select(ps.alias("p_pct"), "arr")
              .select("p_pct",
                      F.element_at(
                          F.col("arr"),
                          F.expr("CAST((p_pct * size(arr) + 99) DIV 100"
                                 " AS INT)"))
                      .alias("sample_q")))

    # exact side: value histogram + cumulative counts; smallest value
    # whose cumulative count reaches ceil(p*n).
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(
            W.orderBy("n_chars")
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
    total = docs.agg(F.count("*").alias("n"))
    exact = (cum.crossJoin(F.broadcast(total))
             .select("n_chars", "cum", "n")
             .crossJoin(F.broadcast(
                 spark.range(1).select(ps.alias("p_pct"))))
             .filter(F.col("cum") * 100
                     >= F.col("p_pct") * F.col("n"))
             .groupBy("p_pct")
             .agg(F.min("n_chars").alias("exact_q")))

    return (sample.join(exact, "p_pct")
            .select(F.col("p_pct").cast("long").alias("p_pct"),
                    F.col("sample_q").cast("long").alias("sample_q"),
                    F.col("exact_q").cast("long").alias("exact_q"),
                    F.abs(F.col("sample_q") - F.col("exact_q"))
                    .cast("long").alias("abs_err"))
            .orderBy("p_pct"))


# ---------------------------------------------------------------------
# b145: streaming CDC upsert (latest-wins) across a restart
# ---------------------------------------------------------------------

@_register(
    "b145_streaming_cdc_upsert",
    """
    WITH k AS (
      SELECT user_id, event_type, value,
             CAST(floor(epoch_us(ts)) AS BIGINT) AS ts_us,
             lpad(CAST(CAST(floor(epoch_us(ts)) AS BIGINT) AS VARCHAR),
                  19, '0') ||
             lpad(CAST(event_id AS VARCHAR), 19, '0') AS ord
      FROM events
    ), latest AS (
      SELECT user_id,
             arg_max(event_type, ord) AS event_type,
             arg_max(value, ord)      AS value,
             arg_max(ts_us, ord)      AS ts_us
      FROM k GROUP BY user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(sum(ts_us) AS BIGINT) AS ts_us_sum
    FROM latest GROUP BY event_type ORDER BY event_type
    """,
    "STREAMING CDC UPSERT value-oracled (seventh streaming hash row): "
    "a foreachBatch latest-wins keyed MERGE (operators/incremental."
    "merge_upsert — the update-in-place loader b134's append-only "
    "ingest can't express) applied per micro-batch across a "
    "CHECKPOINT RESTART.  Files land in two phases split by event-id "
    "parity, so both override directions occur across the restart "
    "boundary: phase-2 rows must beat phase-1 rows for the same user "
    "iff their (ts, event_id) order key is higher, and must LOSE "
    "otherwise — stale-update-wins, lost state, or re-applied "
    "batches all shift the per-type user counts and timestamp sums.  "
    "The oracle is the batch arg_max spec over all of events.  The "
    "merge itself is one max_by hash aggregate per batch (no window "
    "sort) and is idempotent+commutative across batches, which is "
    "exactly why at-least-once replay after the restart stays "
    "correct.  At 100 TB the same call takes partition_col so a "
    "trickle of updates rewrites only touched partitions.",
)
def b145_streaming_cdc_upsert(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.incremental import (
        merge_upsert)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts")
    base = tempfile.mkdtemp(prefix="b145_cdc_")
    table = f"{base}/table"
    ckpt = f"{base}/ckpt"

    def run(landing: str) -> None:
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(landing))

        def apply_batch(batch: DataFrame, epoch_id: int) -> None:
            upd = (batch.withColumn(
                "ts_us", F.unix_micros("ts"))
                .withColumn(
                    "ord",
                    F.concat(
                        F.lpad(F.col("ts_us").cast("string"), 19, "0"),
                        F.lpad(F.col("event_id").cast("string"), 19, "0")))
                .select("user_id", "event_type", "value", "ts_us", "ord"))
            if upd.isEmpty():
                return
            merge_upsert(spark, upd, table,
                         key_cols=["user_id"], order_col="ord")

        q = (stream.writeStream.foreachBatch(apply_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    _two_phase_stream(spark, ev, base, run)

    final = spark.read.parquet(table)
    return (final.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_users"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                 .cast("long").alias("value_cents"),
                 F.sum("ts_us").cast("long").alias("ts_us_sum"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------
# c127: kNN label-consistency eval over embeddings
# ---------------------------------------------------------------------

_KNN_PROBES = 100
_KNN_K = 5


@_register(
    "c127_knn_label_consistency",
    f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[],
                             embedding::DOUBLE[]) > 0
    ), p AS (
      SELECT vec_id AS pid, label AS plabel, emb AS pemb
      FROM e
      ORDER BY {_H48.format(c='vec_id')}, vec_id
      LIMIT {_KNN_PROBES}
    ), scored AS (
      SELECT pid, plabel, c.vec_id AS nid, c.label AS nlabel,
             CAST(round(round(list_cosine_similarity(pemb, c.emb), 6)
                        * 1000000) AS BIGINT) AS sim
      FROM p JOIN e c ON c.vec_id <> p.pid
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY pid
                                   ORDER BY sim DESC, nid) AS rn
      FROM scored
    ), votes AS (
      SELECT pid, plabel, nlabel, count(*) AS cnt
      FROM r WHERE rn <= {_KNN_K} GROUP BY pid, plabel, nlabel
    ), pred AS (
      SELECT pid, plabel,
             arg_max(nlabel, cnt * 100 - nlabel) AS pred_label
      FROM votes GROUP BY pid, plabel
    )
    SELECT CAST(plabel AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN pred_label = plabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred GROUP BY plabel ORDER BY label
    """,
    "Embedding-QA eval: does each vector's 5-NN majority label agree "
    "with its own label?  (The standard label-noise / embedding-"
    f"quality probe; c61 ranks within-label outliers, this scores "
    "cross-label consistency.)  A deterministic bottom-"
    f"{_KNN_PROBES}-by-hash probe set broadcasts against the corpus; "
    "similarities are 6dp-rounded then fixed to integer micro-units "
    "BEFORE ranking (float sims are never hash-safe), ties broken by "
    "neighbor id; the majority vote uses the cnt*100-label arg_max "
    "so count ties go to the smallest label in both engines.  Scale "
    "shape: probe set bounded and broadcast, the scored relation is "
    "|probes| x corpus NARROW rows (4 ints) with ONE shuffle on "
    "pid for the rank; at 100 TB swap the exhaustive scan for the "
    "IVF/PQ preselection (c09/c26c) and keep the same rank+vote "
    "tail.  Zero-norm vectors are excluded on BOTH sides (cosine is "
    "undefined; Spark yields NULL, DuckDB NaN — excluding them is "
    "the only ranking-safe cross-engine posture).",
)
def c127_knn_label_consistency(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = (emb.select("vec_id", "label", "embedding")
         .filter(F.aggregate(
             F.zip_with(F.col("embedding").cast("array<double>"),
                        F.col("embedding").cast("array<double>"),
                        lambda x, y: x * y),
             F.lit(0.0), lambda a, x: a + x) > 0))
    probes = (e.select(F.col("vec_id").alias("pid"),
                       F.col("label").alias("plabel"),
                       F.col("embedding").alias("pemb"),
                       portable_hash48(F.col("vec_id")).alias("h"))
              .orderBy("h", "vec_id")
              .limit(_KNN_PROBES)
              .drop("h"))
    scored = (e.crossJoin(F.broadcast(probes))
              .filter(F.col("vec_id") != F.col("pid"))
              .select("pid", "plabel",
                      F.col("vec_id").alias("nid"),
                      F.col("label").alias("nlabel"),
                      F.round(F.round(
                          cosine(F.col("pemb"), F.col("embedding")), 6)
                          * 1000000).cast("long").alias("sim")))
    top = (scored
           .withColumn("rn", F.row_number().over(
               W.partitionBy("pid").orderBy(F.desc("sim"), "nid")))
           .filter(F.col("rn") <= _KNN_K))
    pred = (top.groupBy("pid", "plabel", "nlabel")
            .agg(F.count("*").alias("cnt"))
            .groupBy("pid", "plabel")
            .agg(F.max_by(F.col("nlabel"),
                          F.col("cnt") * 100 - F.col("nlabel"))
                 .alias("pred_label")))
    return (pred.groupBy("plabel")
            .agg(F.count("*").cast("long").alias("n_probes"),
                 F.sum(F.when(F.col("pred_label") == F.col("plabel"), 1)
                       .otherwise(0)).cast("long").alias("n_correct"))
            .select(F.col("plabel").cast("long").alias("label"),
                    "n_probes", "n_correct")
            .orderBy("label"))


# ---------------------------------------------------------------------
# b146: clamped running balance (Lindley recursion -> prefix-min)
# ---------------------------------------------------------------------

@_register(
    "b146_clamped_running_balance",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(floor(value * 100) AS BIGINT)
                  ELSE -CAST(floor(value * 100) AS BIGINT) END AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), bal AS (
      SELECT user_id, rn, greatest(0, delta) AS r
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, greatest(0, b.r + s.delta)
      FROM bal b JOIN seq s
        ON s.user_id = b.user_id AND s.rn = b.rn + 1
    ), fin AS (
      SELECT user_id, arg_max(r, rn) AS final_r, max(r) AS peak_r
      FROM bal GROUP BY user_id
    )
    SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(final_r) AS BIGINT) AS final_cents,
           CAST(sum(peak_r) AS BIGINT) AS peak_cents
    FROM fin GROUP BY bucket ORDER BY bucket
    """,
    "Clamped-at-zero running balance (inventory / prepaid-wallet "
    "semantics: credits add, debits subtract, balance never goes "
    "negative — so the recurrence r_t = max(0, r_{t-1} + x_t) is "
    "NON-linear and naive parallel prefix sums are wrong).  The "
    "Spark side uses the Lindley-recursion identity r_t = S_t - "
    "min(0, running_min(S_t)) — the same sequential-to-parallel "
    "rewrite family as b95's Kadane identity — so the whole per-user "
    "series costs ONE window shuffle (cumsum + running min share the "
    "frame), while the oracle runs the literal sequential recurrence "
    "as a recursive CTE.  Per-user finals and peaks roll up to 16 "
    "user buckets covering every user.  At 100 TB the partition key "
    "(user) is the shard key and no global ordering exists anywhere; "
    "this is the canonical pattern for ledger replays, stockout "
    "simulation, and token-bucket rate-limit audits on event logs.",
)
def b146_clamped_running_balance(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    delta = (F.when(F.col("event_type").isin("purchase", "signup"), cents)
             .otherwise(-cents))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    rows = (ev.select("user_id", "ts", "event_id", delta.alias("delta"))
            .withColumn("rn", F.row_number().over(w))
            .withColumn("s", F.sum("delta").over(run))
            .withColumn("m", F.min("s").over(run))
            # Lindley: r = S - min(0, running min of S)
            .withColumn("r", F.col("s")
                        - F.least(F.lit(0).cast("long"), F.col("m"))))
    fin = (rows.groupBy("user_id")
           .agg(F.max_by("r", "rn").alias("final_r"),
                F.max("r").alias("peak_r")))
    return (fin.groupBy((F.col("user_id") % 16).cast("long")
                        .alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_users"),
                 F.sum("final_r").cast("long").alias("final_cents"),
                 F.sum("peak_r").cast("long").alias("peak_cents"))
            .orderBy("bucket"))


# ---------------------------------------------------------------------
# c128: DSIR-style hashed n-gram importance weights
# ---------------------------------------------------------------------

_DSIR_B = 8192            # hashed feature buckets
_DSIR_TARGET = "('src0', 'src1', 'src2', 'src3', 'src4')"


@_register(
    "c128_dsir_importance",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(g), 1, 12) AS BIGINT)
               % {_DSIR_B} AS b
      FROM (SELECT doc_id, source,
                   unnest(list_transform(
                     range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM t)
    ), tgt AS (
      SELECT b, count(*) AS cnt_t FROM grams
      WHERE source IN {_DSIR_TARGET} GROUP BY b
    ), corp AS (
      SELECT b, count(*) AS cnt_c FROM grams GROUP BY b
    ), tot AS (
      SELECT (SELECT count(*) FROM grams
              WHERE source IN {_DSIR_TARGET}) AS n_t,
             (SELECT count(*) FROM grams) AS n_c
    ), ratio AS (
      SELECT corp.b,
             CAST(CAST(coalesce(cnt_t, 0) AS HUGEINT) * n_c * 1000000
                  // (CAST(cnt_c AS HUGEINT) * n_t) AS BIGINT)
               AS ratio_ppm
      FROM corp LEFT JOIN tgt ON corp.b = tgt.b CROSS JOIN tot
    )
    SELECT doc_id, source,
           CAST(sum(ratio_ppm) AS BIGINT) AS score,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM grams JOIN ratio USING (b)
    GROUP BY doc_id, source
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    "DSIR-style data selection (Xie et al. 2023: importance "
    "resampling over HASHED n-gram features): each doc scored by how "
    "much its bigram-bucket distribution looks like a target slice "
    f"(sources src0-src4) relative to the whole corpus, top-20 "
    "selected.  Published DSIR sums log p_t/p_c per feature; this "
    "sums the relative-frequency ratio in integer ppm (the same "
    "log-free linearization as c115's odds-IDF — documented "
    "deviation, monotone per feature) so every score is engine-"
    f"exact.  Scale shape: grams collapse to {_DSIR_B} hashed "
    "buckets (two mergeable counts), the ratio table is "
    "broadcast-joined back to the gram stream, per-doc sums shuffle "
    "doc keys once, and top-20 is TakeOrderedAndProject — the "
    "feature space, not the corpus, bounds all state, which is "
    "exactly why hashed DSIR runs at pretraining scale.",
)
def c128_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    n = F.size(toks)
    grams_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    targets = ["src0", "src1", "src2", "src3", "src4"]
    # grams feeds FOUR consumers (tgt, corp, tot, the per-doc score
    # join) whose first exchanges all differ (filtered b-agg, b-agg,
    # SinglePartition global count, doc_id+source agg) — AQE exchange
    # reuse covers none of them, so the tokenize+bigram explode+hash
    # replayed four times.  Lazy cut -> one pass (r11 job diet);
    # corpus-scale-but-narrow (doc_id, source, b), never feeds a
    # SinglePartition exchange un-aggregated (tot is a partial-agg
    # global count).
    grams = (docs.select("doc_id", "source",
                         F.explode(grams_arr).alias("g"))
             .withColumn("b", portable_hash48(F.col("g")) % _DSIR_B)
             .drop("g")
             .localCheckpoint(eager=False))
    tgt = (grams.filter(F.col("source").isin(targets))
           .groupBy("b").agg(F.count("*").alias("cnt_t")))
    corp = grams.groupBy("b").agg(F.count("*").alias("cnt_c"))
    tot = grams.agg(
        F.sum(F.when(F.col("source").isin(targets), 1).otherwise(0))
        .alias("n_t"),
        F.count("*").alias("n_c"))
    ratio = (corp.join(tgt, "b", "left")
             .crossJoin(F.broadcast(tot))
             .select("b", F.expr(
                 "CAST(CAST(coalesce(cnt_t, 0) AS DECIMAL(38,0)) "
                 "* n_c * 1000000 "
                 "div (CAST(cnt_c AS DECIMAL(38,0)) * n_t) AS BIGINT)")
                 .alias("ratio_ppm")))
    return (grams.join(F.broadcast(ratio), "b")
            .groupBy("doc_id", "source")
            .agg(F.sum("ratio_ppm").cast("long").alias("score"),
                 F.count("*").cast("long").alias("n_grams"))
            .orderBy(F.desc("score"), "doc_id").limit(20))


# ---------------------------------------------------------------------
# b147: top session paths (user-flow analytics)
# ---------------------------------------------------------------------

@_register(
    "b147_top_session_paths",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), f AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), g AS (
      SELECT user_id, event_id, ts, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM f
    ), g2 AS (
      SELECT user_id, session_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, session_id) AS n_ev
      FROM g
    ), p AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             max(n_ev) AS n_ev
      FROM g2 WHERE rn <= 5 GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS sum_events
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
    "Top user-flow paths: sessions (b29's 30-minute gaps-and-islands) "
    "reduced to their first-5-step event-type path, ranked by "
    "frequency — the 'common journeys' rollup product analytics "
    "ships (and the sequence-mining sibling of b84's triple motifs "
    "and b45's transition matrix).  Truncation happens BEFORE "
    "collection: a per-session row_number filter keeps at most 5 "
    "rows per session, so the ordered path build touches a bounded "
    "slice regardless of session length (b48 documents why "
    "unbounded LISTAGG is the anti-pattern).  One user-key shuffle "
    "serves sessionization, the in-session rank, and the session "
    "rollup; path counting shuffles only (path, counts) pairs and "
    "the top-10 compiles to TakeOrderedAndProject.",
)
def b147_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = (F.unix_micros(F.col("ts"))
              - F.unix_micros(F.lag("ts").over(w)))
    new_s = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1) \
        .otherwise(0)
    sess = (ev.select("user_id", "event_id", "ts", "event_type")
            .withColumn("new_s", new_s)
            .withColumn("session_id", F.sum("new_s").over(
                w.rowsBetween(W.unboundedPreceding, 0))))
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = (sess
              .withColumn("rn", F.row_number().over(ws))
              .withColumn("n_ev", F.count("*").over(
                  W.partitionBy("user_id", "session_id"))))
    paths = (ranked.filter(F.col("rn") <= 5)
             .groupBy("user_id", "session_id")
             .agg(F.concat_ws(">", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("ts", "event_id", "event_type"))),
                     lambda x: x["event_type"])).alias("path"),
                  F.max("n_ev").alias("n_ev")))
    return (paths.groupBy("path")
            .agg(F.count("*").cast("long").alias("n_sessions"),
                 F.sum("n_ev").cast("long").alias("sum_events"))
            .orderBy(F.desc("n_sessions"), "path").limit(10))


# ---------------------------------------------------------------------
# b148: dense global ids without a global sort (blocked two-pass)
# ---------------------------------------------------------------------

@_register(
    "b148_dense_global_ids",
    """
    WITH r AS (
      SELECT event_id,
             row_number() OVER (ORDER BY ts, event_id) AS gid
      FROM events
    )
    SELECT CAST(gid % 97 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(gid) AS BIGINT) AS gid_sum,
           CAST(sum(event_id) AS BIGINT) AS eid_sum
    FROM r GROUP BY bucket ORDER BY bucket
    """,
    "Dense contiguous global ids (1..n in (ts, event_id) order) "
    "WITHOUT a global sort — the surrogate-key / zipWithIndex "
    "assignment exposed as a first-class surface (the blocked "
    "two-pass pattern b47/b109/b123 use internally): local "
    "row_number per day block (parallel window), day counts "
    "cumsum'd on the tiny block table and broadcast back as "
    "offsets, id = offset + local rank.  The oracle is the literal "
    "global row_number; the output folds EVERY (id, event_id) "
    "assignment into 97 bucket checksums, so any off-by-one, gap, "
    "or block misordering flips a sum.  At 100 TB the block key "
    "widens to (day, hour) to bound per-block skew; the only "
    "full-data shuffle is the per-block window, and monotonically_"
    "increasing_id (gappy) or zipWithIndex (two RDD passes, no "
    "column pushdown) are the non-answers this replaces.",
)
def b148_dense_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    day = F.to_date("ts").alias("day")
    local = (ev.select("event_id", "ts", day)
             .withColumn("rn", F.row_number().over(
                 W.partitionBy("day").orderBy("ts", "event_id"))))
    counts = local.groupBy("day").agg(F.count("*").alias("cnt"))
    offsets = (counts.withColumn(
        "off", F.sum("cnt").over(
            W.orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
        - F.col("cnt")).select("day", "off"))
    ids = (local.join(F.broadcast(offsets), "day")
           .select("event_id", (F.col("off") + F.col("rn")).alias("gid")))
    return (ids.groupBy((F.col("gid") % 97).cast("long").alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("gid").cast("long").alias("gid_sum"),
                 F.sum("event_id").cast("long").alias("eid_sum"))
            .orderBy("bucket"))
