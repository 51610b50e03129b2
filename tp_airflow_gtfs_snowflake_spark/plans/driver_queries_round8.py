"""Round-8 registry additions: hard driver signal for the streaming
path (r04 verdict item 4).

The queries here actually RUN Structured Streaming micro-batches
inside the driver's correctness gate and oracle the *final
materialized state* — so the green row depends on checkpoint-correct
ingestion, not just on batch plan parity:

- b134 drives the exactly-once foreachBatch epoch-overwrite ingest
  (streaming/rt_stream.py:36-92 semantics, A7 in SURVEY §2) across a
  CHECKPOINT RESTART: phase-1 files are ingested, the query stops,
  more files land, a new query restarts from the same checkpoint.
  Any re-emission of phase-1 files lands under fresh epoch ids and
  DOUBLES the per-type counts — a value-hash mismatch by
  construction.
- b135 drives the versioned streaming KMV sketch state
  (streaming/sketch_state.py) across the same restart shape and
  oracles every distinct estimate bit-for-bit (portable md5-48 hash +
  truncating-integer estimator, the b102 pattern).  The accumulated
  state must equal the batch sketch of ALL data seen — merge loss,
  version-publish bugs, or replay drift all change the k-th smallest
  hash and flip the hash row.
- b136 drives the applyInPandasWithState + EventTimeTimeout session
  operator (streaming/stateful.py:timed_out_user_sessions) across a
  checkpoint restart and sentinel-advanced watermark, oracled against
  the batch gaps-and-islands spec — the stateful operator and its
  timer semantics get a hash row, not just pytest.
- b140 drives dropDuplicatesWithinWatermark across a restart with a
  verbatim re-delivery — the dedup state store gets a hash row.

A batch tier follows the streaming queries: retrieval (c115 BM25,
c123 LSH band sweep), eval metrics (c118 pass@k, c122 ROUGE),
robust statistics and forecasting (b137 Theil-Sen, b139 Holt),
graph/cluster quality (c116 stationary distribution, c119
modularity), privacy (b138 l-diversity), and embedding/text quality
(c120 matryoshka, c121 lexical diversity).

Reference parity: the reference ingests GTFS-RT micro-batches on a
2-minute cadence into Snowflake tables (dags/gtfs_rt_minutely.py) and
relies on task-level idempotence; these queries reconstruct that
contract on Structured Streaming checkpoints and make it
driver-checkable.

Streaming-in-a-driver-slot discipline: bounded input (availableNow),
deterministic file layout (two repartition(2) phases by event_id
parity), tempdir-isolated sink/checkpoint per invocation, and an
output aggregate in exact integer arithmetic only.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.operators import kmv as _kmv
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    _register, _t)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_graph import (
    _EDGES_SQL)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_round6 import (
    _KMV_SPACE, _KMV_VALS_SQL, _kmv_user_day_hashes)
from tp_airflow_gtfs_snowflake_spark.streaming.sketch_state import (
    read_sketch_state, start_kmv_accumulation)


def _two_phase_stream(spark: SparkSession, df: DataFrame, base: str,
                      run):
    """Land ``df`` in two deterministic phases (event-id parity) and
    call ``run(landing)`` after each — the second call restarts from
    the first call's checkpoint, which is the semantics under test."""
    landing = f"{base}/landing"
    parity = F.col("event_id") % 2
    df.filter(parity == 0).repartition(2).write.parquet(landing)
    run(landing)
    (df.filter(parity == 1).repartition(2)
     .write.mode("append").parquet(landing))
    run(landing)


@_register(
    "b134_streaming_ingest_restart",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "Exactly-once streaming ingest ACROSS A CHECKPOINT RESTART, "
    "value-oracled (A7; reference contract: dags/gtfs_rt_minutely.py "
    "idempotent per-minute loads).  events lands as files in two "
    "phases; each phase runs an availableNow foreachBatch ingest "
    "with epoch-partitioned dynamic overwrite (the rt_stream "
    "append_epoch pattern) against ONE shared checkpoint.  The "
    "oracle is plain batch SQL over events: it matches iff the sink "
    "holds every source row exactly once — a restart that re-emits "
    "phase-1 files writes them under fresh epoch partitions and "
    "doubles the counts, so checkpoint correctness IS the hash row.",
)
def b134_streaming_ingest_restart(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="b134_ingest_")
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"
    schema = ev.schema

    def run(landing: str) -> None:
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(landing))

        def write(batch: DataFrame, epoch_id: int) -> None:
            (batch.withColumn("ingest_epoch",
                              F.lit(int(epoch_id)).cast("long"))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("ingest_epoch")
             .parquet(sink))

        q = (stream.writeStream.foreachBatch(write)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    _two_phase_stream(spark, ev, base, run)
    return (spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                 .cast("long").alias("value_cents"),
                 F.max(F.unix_micros("ts")).cast("long")
                 .alias("max_ts_us"))
            .orderBy("event_type"))


@_register(
    "b135_streaming_kmv_state",
    f"""
    WITH {_KMV_VALS_SQL}, agg AS (
      SELECT g, count(*) AS nh,
             max(CASE WHEN rn = 128 THEN h END) AS kth
      FROM r WHERE rn <= 128 GROUP BY g
    ), ex AS (SELECT g, count(*) AS n_exact FROM vals GROUP BY g)
    SELECT g, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(CASE WHEN nh < 128 THEN nh
                     ELSE 127 * {_KMV_SPACE} // kth END AS BIGINT) AS est,
           CAST(abs(CASE WHEN nh < 128 THEN nh
                         ELSE 127 * {_KMV_SPACE} // kth END - n_exact)
                * 1000000 // n_exact AS BIGINT) AS err_ppm
    FROM ex JOIN agg USING (g) ORDER BY g
    """,
    "STREAMING sketch-state accumulation value-oracled bit-for-bit "
    "(streaming/sketch_state.py; the b102 batch twin's oracle "
    "verbatim).  The per-event-type user-day KMV sketch is "
    "accumulated via foreachBatch micro-batches across a checkpoint "
    "restart (two landing phases), published through versioned "
    "_SUCCESS-gated state dirs, then read back and estimated.  "
    "Because k-min-of-union == k-min-of-k-mins, the final state must "
    "EQUAL the batch sketch of all data — any merge loss, "
    "version-publish bug, or replay drift changes the k-th smallest "
    "hash and the estimate with it.  Portable md5-48 hash + "
    "truncating-div estimator keep every estimate oracle-exact.",
)
def b135_streaming_kmv_state(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    vals, _hashed = _kmv_user_day_hashes(spark, sf_dir)
    # stream over (g, v, event_id) rows; event_id drives the parity
    # split (any deterministic 50/50 split of the value space works)
    rows = vals.withColumn("event_id", F.col("v"))
    base = tempfile.mkdtemp(prefix="b135_kmv_")
    state = f"{base}/state"
    ckpt = f"{base}/ckpt"
    schema = rows.schema

    def run(landing: str) -> None:
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(landing))
        q = start_kmv_accumulation(
            spark, stream, group_col="g", value_col="v",
            state_dir=state, checkpoint_dir=ckpt, k=128,
            available_now=True)
        q.awaitTermination()

    _two_phase_stream(spark, rows, base, run)
    sk = read_sketch_state(spark, state)
    est = _kmv.with_distinct_estimate(sk, 128).select("g", "est")
    exact = vals.groupBy("g").agg(
        F.count("*").cast("long").alias("n_exact"))
    return (exact.join(est, "g")
            .withColumn("err_ppm",
                        F.expr("abs(est - n_exact) * 1000000 "
                               "div n_exact").cast("long"))
            .select("g", "n_exact",
                    F.col("est").cast("long").alias("est"), "err_ppm")
            .orderBy("g"))


@_register(
    "b136_streaming_session_close",
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
    "STATEFUL streaming sessionization (applyInPandasWithState + "
    "EventTimeTimeout timers, streaming/stateful.py:"
    "timed_out_user_sessions) driven to completion inside the driver "
    "slot and value-oracled against the batch gaps-and-islands spec "
    "(b29's oracle verbatim).  events lands in two event-time-ordered "
    "phases; the second run RESTARTS from the first's checkpoint "
    "(state-store recovery), then two sentinel batches advance the "
    "watermark so every trailing open session is closed by its timer "
    "(timers fire one batch after the watermark passes).  In-order "
    "batches make eager emission exactly equal the batch spec, so any "
    "state-carry loss, timer miss, or double emission flips the hash. "
    "Exercises the exactly-once streaming file sink (_spark_metadata "
    "commit log) as the output path.",
)
def b136_streaming_session_close(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from tp_airflow_gtfs_snowflake_spark.streaming.stateful import (
        timed_out_user_sessions)

    GAP_US = 1_800_000_000  # 30 min, matches the b29 batch spec
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    mid = (lo + hi) // 2
    base = tempfile.mkdtemp(prefix="b136_sessions_")
    landing = f"{base}/landing"
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"
    us = F.unix_micros("ts")
    (ev.filter(us < mid).repartition(2).write.parquet(landing))

    def start():
        stream = (spark.readStream.schema(ev.schema).parquet(landing))
        sessions = timed_out_user_sessions(
            stream, gap_seconds=1800, watermark="1 second")
        return (sessions.writeStream.outputMode("append")
                .format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt))

    # run 1: phase-1 batch under availableNow, then stop (checkpoint
    # holds the per-user open-session state)
    q = start().trigger(availableNow=True).start()
    q.awaitTermination()

    # run 2: restart from the checkpoint; each drop is one in-order
    # micro-batch.  The two sentinel batches (a lone user -1 far past
    # max+gap) advance the watermark and then fire the timers; the
    # sentinel's own session stays open and is never emitted.
    q = start().start()
    (ev.filter(us >= mid).repartition(2)
     .write.mode("append").parquet(landing))
    q.processAllAvailable()
    for off in (GAP_US + 100_000_000, GAP_US + 110_000_000):
        (spark.range(1)
         .select(F.lit(-1).cast("long").alias("user_id"),
                 F.timestamp_micros(F.lit(hi + off)).alias("ts"))
         .write.mode("append").parquet(landing))
        q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).filter(F.col("user_id") >= 0)
    sid = F.row_number().over(
        W.partitionBy("user_id").orderBy("session_start_us"))
    return out.select("user_id",
                      sid.cast("long").alias("session_id"),
                      "session_start_us", "session_end_us",
                      "n_events")


# ---------------------------------------------------------------------
# Batch additions beyond the streaming tier: retrieval, graph quality,
# robust statistics, privacy, and LLM-eval metrics.
# ---------------------------------------------------------------------

_BM25_TERMS = ("query", "merge", "vector", "hash")
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@_register(
    "c115_bm25_retrieval",
    f"""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS tk
      FROM documents
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(tk)) AS BIGINT) * 1000 // count(*) AS avgdl_m
      FROM tk
    ), tf AS (
      SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS t FROM tk)
      WHERE t IN ({_BM25_IN})
      GROUP BY doc_id, t
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), idf AS (
      SELECT term,
             (2 * (st.n_docs - df) + 1) * 1000000 // (2 * df + 1)
               AS idf_ppm
      FROM dfq, st
    ), dl AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) * 1000 AS dl_m FROM tk
    )
    SELECT doc_id,
           CAST(sum(CAST(CAST(idf_ppm AS HUGEINT) * (44 * avgdl_m * tf)
                    // (20 * avgdl_m * tf + 6 * avgdl_m + 18 * dl_m)
                    AS BIGINT))
                AS BIGINT) AS score_ppm,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st
    GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id LIMIT 20
    """,
    "LLM-retrieval: BM25 top-20 over the documents table in EXACT "
    "integer arithmetic — k1=1.2, b=0.75 cleared of floats by "
    "multiplying the per-term weight through by 20*avgdl (milli-"
    "scaled lengths), and a log-free odds IDF "
    "((N-df+0.5)/(df+0.5) as integer ppm; rank-equivalent to the "
    "Robertson log form since log is monotone).  Tokenize once, one "
    "explode restricted to the query terms, corpus stats as a 1-row "
    "broadcast, df/idf as a |terms|-row broadcast, TakeOrdered "
    "top-k — at 100 TB the only wide op is the (doc,term) count "
    "over rows that actually contain a query term.",
)
def c115_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    st = tk.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(sum(size(tk)) AS BIGINT) * 1000 div count(*)")
        .alias("avgdl_m"))
    base = tk.select(
        "doc_id",
        (F.size("tk").cast("long") * 1000).alias("dl_m"),
        F.explode("tk").alias("term"))
    tf = (base.filter(F.col("term").isin(*_BM25_TERMS))
          .groupBy("doc_id", "dl_m", "term")
          .agg(F.count("*").cast("long").alias("tf")))
    idf = (tf.groupBy("term")
           .agg(F.count("*").cast("long").alias("df"))
           .crossJoin(F.broadcast(st))
           .select("term",
                   F.expr("(2 * (n_docs - df) + 1) * 1000000 "
                          "div (2 * df + 1)").alias("idf_ppm")))
    scored = (tf.join(F.broadcast(idf), "term")
              .crossJoin(F.broadcast(st))
              .withColumn(
                  "w",
                  # decimal product: idf (1e6) x 44*avgdl_m*tf can
                  # pass 2^63 on long documents; terms are positive
                  F.expr("CAST(CAST(idf_ppm AS DECIMAL(38,0)) "
                         "* (44 * avgdl_m * tf) "
                         "div (20 * avgdl_m * tf + 6 * avgdl_m "
                         "+ 18 * dl_m) AS BIGINT)")))
    return (scored.groupBy("doc_id")
            .agg(F.sum("w").cast("long").alias("score_ppm"),
                 F.count("*").cast("long").alias("n_terms"))
            .orderBy(F.desc("score_ppm"), "doc_id").limit(20))


_MKV_TRANS_SQL = """
    s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), tr AS (
      SELECT event_type AS f, next_type AS t, CAST(count(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ), outd AS (SELECT f, sum(n) AS outn FROM tr GROUP BY f),
    states AS (SELECT DISTINCT event_type AS st FROM events),
    p0 AS (
      SELECT st, 1000000000000 // (SELECT count(*) FROM states) AS pi
      FROM states)"""


def _mkv_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT s.st, CAST(coalesce(x.s, 0) AS BIGINT) AS pi
      FROM states s LEFT JOIN (
        SELECT tr.t AS st,
               sum(CAST(CAST(p.pi AS HUGEINT) * tr.n // o.outn
                        AS BIGINT)) AS s
        FROM tr JOIN {prev} p ON p.st = tr.f
                JOIN outd o ON o.f = tr.f
        GROUP BY tr.t) x ON x.st = s.st)"""


@_register(
    "c116_markov_stationary_int",
    f"""
    WITH {_MKV_TRANS_SQL},
    {_mkv_iter('p0', 'p1')},
    {_mkv_iter('p1', 'p2')},
    {_mkv_iter('p2', 'p3')}
    SELECT st AS event_type, CAST(pi AS BIGINT) AS pi_ppt
    FROM p3 ORDER BY st
    """,
    "Markov-chain stationary distribution by integer power iteration "
    "over the b45 transition matrix: pi_{{t+1}}(j) = sum_i pi_t(i) * "
    "n(i,j) div out(i), three rounds from uniform, parts-per-trillion "
    "scale so three truncating divisions keep 6+ significant digits.  "
    "Same fixed-round value-hash discipline as c104 integer PageRank "
    "(the oracle unrolls the rounds as chained CTEs); the full-data "
    "work is ONE user-ordered sequence window + one (from,to) "
    "aggregate — iteration runs on the |states|^2 matrix, which is "
    "broadcast-sized at any corpus scale.",
)
def c116_markov_stationary_int(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lead("event_type").over(w).alias("next_type"))
    tr = (s.filter(F.col("next_type").isNotNull())
          .groupBy(F.col("event_type").alias("f"),
                   F.col("next_type").alias("t"))
          .agg(F.count("*").cast("long").alias("n"))
          .localCheckpoint(eager=True))
    outd = tr.groupBy("f").agg(F.sum("n").alias("outn"))
    states = ev.select(F.col("event_type").alias("st")).distinct() \
        .localCheckpoint(eager=True)
    n_states = states.count()
    pi = states.select(
        "st", F.lit(1_000_000_000_000 // n_states).alias("pi"))
    edges = tr.join(outd, "f")
    for _ in range(3):
        flow = (edges.join(pi.withColumnRenamed("st", "f"), "f")
                .select(F.col("t").alias("st"),
                        # decimal product: pi (ppt, ~1e12) x a 100 TB
                        # transition count overflows BIGINT; all terms
                        # positive so decimal div keeps truncation
                        F.expr("CAST(CAST(pi AS DECIMAL(38,0)) * n "
                               "div outn AS BIGINT)").alias("contrib"))
                .groupBy("st").agg(F.sum("contrib").alias("s")))
        pi = (states.join(flow, "st", "left")
              .select("st", F.coalesce("s", F.lit(0)).cast("long")
                      .alias("pi")))
    return pi.select(F.col("st").alias("event_type"),
                     F.col("pi").cast("long").alias("pi_ppt")) \
        .orderBy("event_type")


@_register(
    "c118_pass_at_k",
    """
    WITH t AS (
      SELECT l_partkey AS task,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    ), p AS (
      SELECT task, n, c,
             c * 1000000 // n AS pass1_ppm,
             CASE WHEN n - c < 5 THEN 1000000
                  ELSE 1000000
                    - CAST((CAST(n-c AS HUGEINT) * (n-c-1) * (n-c-2)
                            * (n-c-3) * (n-c-4) * 1000000)
                           // (CAST(n AS HUGEINT) * (n-1) * (n-2)
                               * (n-3) * (n-4)) AS BIGINT)
             END AS pass5_ppm
      FROM t WHERE n >= 5
    )
    SELECT pt.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_tasks,
           CAST(sum(p.pass1_ppm) // count(*) AS BIGINT)
             AS mean_pass1_ppm,
           CAST(sum(p.pass5_ppm) // count(*) AS BIGINT)
             AS mean_pass5_ppm
    FROM p JOIN part pt ON pt.p_partkey = p.task
    GROUP BY pt.p_brand ORDER BY brand
    """,
    "LLM-eval: the unbiased pass@k estimator (Chen et al. HumanEval: "
    "pass@k = 1 - C(n-c,k)/C(n,k)) in EXACT integer arithmetic — for "
    "fixed k=5 the binomial ratio telescopes to a 5-term falling-"
    "factorial product, so no floats and no log-gamma.  Tasks are "
    "parts, samples their lineitems, 'correct' = returned; per-task "
    "one aggregate row, per-brand means by integer division, dim "
    "join broadcast.  The per-task (n, c) aggregate is the only "
    "full-data pass at 100 TB.",
)
def c118_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    t = (li.groupBy(F.col("l_partkey").alias("task"))
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("l_returnflag") == "R", 1)
                    .otherwise(0)).cast("long").alias("c"))
         .filter(F.col("n") >= 5))
    p = t.select(
        "task", "n", "c",
        F.expr("c * 1000000 div n").alias("pass1_ppm"),
        # decimal(38,0) / HUGEINT products: n^5 * 1e6 overflows BIGINT
        # past n ~ 390 samples per task — fine in the test data (TPC-H
        # holds ~30 lineitems/part at every SF) but not a safe operator
        # contract; all terms are positive so decimal div == truncation
        F.expr("""
          CASE WHEN n - c < 5 THEN 1000000
               ELSE 1000000
                 - CAST((CAST(n-c AS DECIMAL(38,0)) * (n-c-1) * (n-c-2)
                         * (n-c-3) * (n-c-4) * 1000000)
                        div (CAST(n AS DECIMAL(38,0)) * (n-1) * (n-2)
                             * (n-3) * (n-4)) AS BIGINT)
          END""").alias("pass5_ppm"))
    return (p.join(F.broadcast(pt),
                   p["task"] == pt["p_partkey"])
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(F.count("*").cast("long").alias("n_tasks"),
                 F.expr("sum(pass1_ppm) div count(*)").cast("long")
                 .alias("mean_pass1_ppm"),
                 F.expr("sum(pass5_ppm) div count(*)").cast("long")
                 .alias("mean_pass5_ppm"))
            .orderBy("brand"))


@_register(
    "b137_theil_sen_slope",
    """
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY event_type, x
    ), pr AS (
      SELECT a.event_type,
             (b.y - a.y) * 1000000 // (b.x - a.x) AS slope_ppm
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND b.x > a.x
    ), r AS (
      SELECT event_type, slope_ppm,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_ppm) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM pr
    )
    SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
           CAST(slope_ppm AS BIGINT) AS slope_med_ppm
    FROM r WHERE rn = (cnt + 1) // 2 ORDER BY event_type
    """,
    "Theil-Sen robust trend: the median of all pairwise slopes of "
    "the daily revenue series per event type — the estimator that "
    "shrugs off 29% outliers where least squares (b67/b90) folds.  "
    "Slopes in integer ppm by truncating division; the lower median "
    "picked by row_number (b75 quantile_disc discipline) so both "
    "engines choose the identical element.  The pair join runs on "
    "the per-(type, day) AGGREGATE — at 100 TB that is |days|^2 per "
    "group, bounded by the calendar, never corpus-sized.",
)
def b137_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"),
                       F.lit("2024-01-01").cast("date")).alias("x"))
         .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
              .cast("long").alias("y")))
    a = d.select("event_type", F.col("x").alias("x1"),
                 F.col("y").alias("y1"))
    b = d.select(F.col("event_type").alias("et2"),
                 F.col("x").alias("x2"), F.col("y").alias("y2"))
    pr = (a.join(b, (a["event_type"] == b["et2"])
                 & (b["x2"] > a["x1"]))
          .select("event_type",
                  F.expr("(y2 - y1) * 1000000 div (x2 - x1)")
                  .alias("slope_ppm")))
    w = W.partitionBy("event_type").orderBy("slope_ppm")
    r = pr.select(
        "event_type", "slope_ppm",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("cnt"))
    # (cnt + 1) div 2, NOT / 2: Spark `/` is float division, and for
    # an even pair count rn (int) == x.5 matches nothing — the group
    # would silently vanish from the output
    return (r.filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
            .select("event_type", F.col("cnt").cast("long")
                    .alias("n_pairs"),
                    F.col("slope_ppm").cast("long")
                    .alias("slope_med_ppm"))
            .orderBy("event_type"))


@_register(
    "b138_l_diversity",
    """
    WITH b AS (
      SELECT lang, source, n_chars // 500 AS band FROM documents
    ), g AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT band) AS BIGINT) AS l_distinct,
             CAST(max(bn) * 1000000 // count(*) AS BIGINT)
               AS top_band_ppm
      FROM (SELECT lang, source, band,
                   count(*) OVER (PARTITION BY lang, source, band)
                     AS bn
            FROM b)
      GROUP BY lang, source
    )
    SELECT lang, source, n_docs, l_distinct, top_band_ppm,
           CASE WHEN l_distinct >= 3 THEN 1 ELSE 0 END AS is_diverse
    FROM g ORDER BY lang, source
    """,
    "Privacy audit beyond k-anonymity (b80): l-diversity — per "
    "quasi-identifier group (lang, source), the number of DISTINCT "
    "sensitive values (length band) and the dominance share of the "
    "most common one.  A group can be k-anonymous yet reveal its "
    "sensitive attribute when every member shares it; l>=3 is the "
    "standard floor.  One grouped aggregate plus a band-count "
    "window over the grouped relation — scales as the QI "
    "cardinality, not the corpus.",
)
def b138_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    b = docs.select("lang", "source",
                    F.expr("n_chars div 500").alias("band"))
    bn = b.select("lang", "source", "band",
                  F.count("*").over(
                      W.partitionBy("lang", "source", "band"))
                  .alias("bn"))
    g = (bn.groupBy("lang", "source")
         .agg(F.count("*").cast("long").alias("n_docs"),
              F.countDistinct("band").cast("long").alias("l_distinct"),
              F.expr("max(bn) * 1000000 div count(*)").cast("long")
              .alias("top_band_ppm")))
    return (g.withColumn("is_diverse",
                         F.when(F.col("l_distinct") >= 3, 1)
                         .otherwise(0).cast("int"))
            .orderBy("lang", "source"))


@_register(
    "c119_modularity_int",
    f"""
    WITH RECURSIVE {_EDGES_SQL},
    comp AS (SELECT node, min(r) AS c FROM reach GROUP BY node),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY a),
    per AS (
      SELECT ca.c,
             CAST(count(DISTINCT ca.node) AS BIGINT) AS n_nodes,
             CAST(sum(deg.deg) AS BIGINT) AS deg_sum
      FROM comp ca JOIN deg ON deg.node = ca.node
      GROUP BY ca.c
    ), inn AS (
      SELECT ca.c, CAST(count(*) AS BIGINT) AS in_edges
      FROM edges e JOIN comp ca ON ca.node = e.d1
      GROUP BY ca.c
    )
    SELECT CAST(p.c AS BIGINT) AS community, p.n_nodes,
           CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges,
           p.deg_sum,
           CAST(4 * CAST(m.m AS HUGEINT) * coalesce(i.in_edges, 0)
                - CAST(p.deg_sum AS HUGEINT) * p.deg_sum
                AS BIGINT) AS q_contrib
    FROM per p LEFT JOIN inn i ON i.c = p.c, m
    ORDER BY community
    """,
    "Graph-partition quality: Newman modularity of the near-dup "
    "component clustering, exact-integer per-community contributions "
    "— Q = sum_c (in_c/m - (deg_c/2m)^2) published as the integer "
    "numerator 4*m*in_c - deg_c^2 over the common denominator 4m^2, "
    "so no floats anywhere.  Communities are the c19 connected "
    "components (min-label propagation; oracle re-derives them with "
    "the recursive CTE); in-community edges count each undirected "
    "edge once via its canonical d1 endpoint (both endpoints share a "
    "component by construction).  Everything past the shared edge "
    "derivation runs on |nodes| + |edges| rows — the standard "
    "community-quality audit attached to any clustering at scale.",
)
def c119_modularity_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.components import (
        connected_components)
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_graph import (
        _edges)

    # lazy: CC's round-1 convergence count is the first action and
    # materializes the (expensive) pair derivation as a side effect —
    # one fewer job submission (r08 drift fix; BASELINE.md)
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    comp = connected_components(edges)
    m = edges.agg(F.count("*").cast("long").alias("m"))
    sym = (edges.select(F.col("d1").alias("node"))
           .unionAll(edges.select(F.col("d2").alias("node"))))
    deg = sym.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    per = (comp.join(deg, "node")
           .groupBy(F.col("component").alias("c"))
           # count(*) == countDistinct(node): comp is keyed by node
           # (one row per node), so the cheaper single-phase agg is
           # value-identical and drops the distinct Expand
           .agg(F.count("*").cast("long").alias("n_nodes"),
                F.sum("deg").cast("long").alias("deg_sum")))
    inn = (edges.join(comp.withColumnRenamed("node", "d1"), "d1")
           .groupBy(F.col("component").alias("c"))
           .agg(F.count("*").cast("long").alias("in_edges")))
    return (per.join(inn, "c", "left")
            .withColumn("in_edges",
                        F.coalesce("in_edges", F.lit(0)).cast("long"))
            .crossJoin(F.broadcast(m))
            .select(F.col("c").cast("long").alias("community"),
                    "n_nodes", "in_edges", "deg_sum",
                    # decimal intermediates: deg_sum^2 and 4*m*in_c sit
                    # right at the int64 edge for graphs whose contrib
                    # is still representable; the OUTPUT stays BIGINT,
                    # which bounds the operator at m <= ~1.5e9 edges
                    # (dup graphs after LSH verify are far sparser)
                    F.expr("CAST(4 * CAST(m AS DECIMAL(38,0)) * in_edges "
                           "- CAST(deg_sum AS DECIMAL(38,0)) * deg_sum "
                           "AS BIGINT)").alias("q_contrib"))
            .orderBy("community"))


@_register(
    "c120_matryoshka_audit",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, embedding[1:8]::DOUBLE[] AS pre
      FROM embeddings
      WHERE list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
        AND list_sum(list_transform(embedding[1:8]::DOUBLE[],
                                    x -> x * x)) > 0
    ), c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 8),
    asg AS (SELECT vec_id, emb, pre, cent_id FROM (
              SELECT e.vec_id, e.emb, e.pre, c.cent_id,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.emb, c.cemb),
                                      6) DESC, c.cent_id) AS rn
              FROM e CROSS JOIN c) WHERE rn = 1),
    p AS (
      SELECT a.cent_id,
             CAST(round(round(list_cosine_similarity(a.emb, b.emb), 6)
                        * 1000000) AS BIGINT) AS full_u,
             CAST(round(round(list_cosine_similarity(a.pre, b.pre), 6)
                        * 1000000) AS BIGINT) AS pre_u
      FROM asg a JOIN asg b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    )
    SELECT cent_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN full_u >= 350000 AND pre_u >= 350000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN full_u >= 350000 AND pre_u < 350000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_only,
           CAST(sum(CASE WHEN full_u < 350000 AND pre_u >= 350000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix_only,
           CAST(sum(abs(full_u - pre_u)) // count(*) AS BIGINT)
             AS mean_abs_gap_ppm
    FROM p GROUP BY cent_id ORDER BY cent_id
    """,
    "Embedding ops: MATRYOSHKA truncation audit — how much near-dup "
    "signal survives keeping only the first 8 dimensions (the MRL "
    "deployment question: how far can you truncate before ANN "
    "decisions flip).  Within-cell candidate pairs (the c10 IVF "
    "blocking, O(sum cell^2) never O(n^2)) scored by full-dim and "
    "prefix-dim cosine; per cell: threshold-agreement confusion "
    "counts and the mean absolute gap.  Cosines are 6dp-rounded then "
    "scaled to exact integer micro-units, so all aggregation is "
    "integer and order-independent (the float-sum-order discipline); "
    "zero-norm full OR prefix vectors are excluded up front — a "
    "truncated slice can be all-zero even when the full vector is "
    "not, and its cosine is undefined.",
)
def c120_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions.vectors import (
        cosine, dot)
    from tp_airflow_gtfs_snowflake_spark.operators import (
        similarity as SIM)

    emb = _t(spark, sf_dir, "embeddings")
    e = (emb.withColumn("pre", F.slice("embedding", 1, 8))
         .filter((dot(F.col("embedding"), F.col("embedding")) > 0)
                 & (dot(F.col("pre"), F.col("pre")) > 0)))
    asg = SIM.ivf_assign(e, n_cents=8)
    u = F.round(F.round(cosine(F.col("a_emb"), F.col("b_emb")), 6)
                * 1_000_000).cast("long")
    up = F.round(F.round(cosine(F.col("a_pre"), F.col("b_pre")), 6)
                 * 1_000_000).cast("long")
    a = asg.select("cent_id", F.col("vec_id").alias("d1"),
                   F.col("embedding").alias("a_emb"),
                   F.col("pre").alias("a_pre"))
    b = asg.select(F.col("cent_id").alias("c2"),
                   F.col("vec_id").alias("d2"),
                   F.col("embedding").alias("b_emb"),
                   F.col("pre").alias("b_pre"))
    p = (a.join(b, (a["cent_id"] == b["c2"]) & (a["d1"] < b["d2"]))
         .select("cent_id", u.alias("full_u"), up.alias("pre_u")))
    thr = 350_000
    return (p.groupBy("cent_id")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum(F.when((F.col("full_u") >= thr)
                              & (F.col("pre_u") >= thr), 1)
                       .otherwise(0)).cast("long").alias("n_both"),
                 F.sum(F.when((F.col("full_u") >= thr)
                              & (F.col("pre_u") < thr), 1)
                       .otherwise(0)).cast("long").alias("n_full_only"),
                 F.sum(F.when((F.col("full_u") < thr)
                              & (F.col("pre_u") >= thr), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_prefix_only"),
                 F.expr("sum(abs(full_u - pre_u)) div count(*)")
                 .cast("long").alias("mean_abs_gap_ppm"))
            .orderBy("cent_id"))


@_register(
    "b139_holt_linear_forecast",
    """
    WITH RECURSIVE d0 AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ), d AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day) AS idx,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM d0
    ), rec AS (
      -- init consumes y_1 AND y_2 (l_0 = y_1, b_0 = y_2 - y_1), so
      -- the base row sits at idx 2 and the first smoothing step
      -- folds y_3 — mirroring the Spark fold over slice(ys, 3, ...)
      SELECT d1.event_type, 2 AS idx, d1.y AS l, d2.y - d1.y AS b
      FROM d d1 JOIN d d2
        ON d2.event_type = d1.event_type AND d2.idx = 2
      WHERE d1.idx = 1
      UNION ALL
      SELECT r.event_type, r.idx + 1,
             (d.y + r.l + r.b) // 2,
             (r.b + ((d.y + r.l + r.b) // 2) - r.l) // 2
      FROM rec r JOIN d ON d.event_type = r.event_type
                       AND d.idx = r.idx + 1
    )
    SELECT r.event_type, CAST(d.n AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_cents,
           CAST(r.b AS BIGINT) AS trend_cents,
           CAST(r.l + r.b AS BIGINT) AS forecast_1,
           CAST(r.l + 7 * r.b AS BIGINT) AS forecast_7
    FROM rec r JOIN d ON d.event_type = r.event_type AND d.idx = r.idx
    WHERE r.idx = d.n
    ORDER BY r.event_type
    """,
    "Holt double-exponential smoothing (level + trend) over the "
    "daily revenue series per event type, alpha = beta = 1/2 in "
    "truncating-integer arithmetic: l_t = (y_t + l + b) div 2, "
    "b_t = (b + l_t - l) div 2 — the forecasting sibling of the b79 "
    "single EWMA, now with a trend component and 1/7-day-ahead "
    "forecasts.  Sequential recurrences are value-hashable because "
    "truncating div is a pure function of the input sequence: Spark "
    "folds the per-type SORTED daily array (one aggregate, the fold "
    "runs on |days| elements per group), the oracle replays it as a "
    "recursive CTE.  Both sides truncate toward zero (Spark div == "
    "DuckDB //), which matters on negative trends.",
)
def b139_holt_linear_forecast(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"),
                       F.lit("2024-01-01").cast("date")).alias("day"))
         .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
              .cast("long").alias("y")))
    arr = (d.groupBy("event_type")
           .agg(F.expr("transform(array_sort(collect_list("
                       "struct(day, y))), s -> s.y)").alias("ys")))
    # the new level l_t appears inside b_t's expression; Spark struct
    # lambdas bind acc fields at entry (unlike DuckDB list_reduce's
    # sequential binding, the b95 lesson), so repeating the l_t
    # expression inside b_t is safe here — both read the OLD acc.
    holt = F.expr("""
      aggregate(
        slice(ys, 3, greatest(size(ys) - 2, 0)),
        struct(CAST(element_at(ys, 1) AS BIGINT) AS l,
               CAST(element_at(ys, 2) - element_at(ys, 1) AS BIGINT) AS b),
        (acc, y) -> struct(
          CAST((y + acc.l + acc.b) div 2 AS BIGINT) AS l,
          CAST((acc.b + ((y + acc.l + acc.b) div 2) - acc.l) div 2
               AS BIGINT) AS b))
    """)
    out = (arr.filter(F.size("ys") >= 2)
           .withColumn("h", holt)
           .select("event_type",
                   F.size("ys").cast("long").alias("n_days"),
                   F.col("h.l").alias("level_cents"),
                   F.col("h.b").alias("trend_cents"),
                   (F.col("h.l") + F.col("h.b")).cast("long")
                   .alias("forecast_1"),
                   (F.col("h.l") + 7 * F.col("h.b")).cast("long")
                   .alias("forecast_7"))
           .orderBy("event_type"))
    return out


@_register(
    "c121_lexical_diversity",
    """
    WITH t AS (
      SELECT doc_id, lang, source,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, source, tok, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY doc_id, lang, source, tok
    ), d AS (
      SELECT doc_id, lang, source,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS rep
      FROM c GROUP BY doc_id, lang, source
    )
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(types * 1000000 // n) // count(*) AS BIGINT)
             AS mean_ttr_ppm,
           CAST(sum(CASE WHEN n >= 2
                         THEN rep * 1000000 // (n * (n - 1))
                         ELSE 0 END) // count(*) AS BIGINT)
             AS mean_simpson_ppm
    FROM d WHERE n >= 1
    GROUP BY lang, source ORDER BY lang, source
    """,
    "Text quality: lexical diversity per (lang, source) — mean "
    "type-token ratio and mean Simpson repeat index (Hunter-Gaston "
    "sum c_i(c_i-1)/(n(n-1))), both in integer ppm.  Entropy needs a "
    "log; Simpson is the log-free diversity index that stays "
    "oracle-exact, and low diversity flags the template/boilerplate "
    "documents LLM curation down-weights.  One explode + two "
    "aggregates, everything after the (doc, token) count runs at "
    "per-doc then per-group cardinality.",
)
def c121_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "source",
                    F.explode(T.tokens(F.col("text"))).alias("tok"))
    c = (t.groupBy("doc_id", "lang", "source", "tok")
         .agg(F.count("*").cast("long").alias("c")))
    d = (c.groupBy("doc_id", "lang", "source")
         .agg(F.sum("c").cast("long").alias("n"),
              F.count("*").cast("long").alias("types"),
              F.sum(F.expr("c * (c - 1)")).cast("long").alias("rep"))
         .filter(F.col("n") >= 1))
    return (d.groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.expr("sum(types * 1000000 div n) div count(*)")
                 .cast("long").alias("mean_ttr_ppm"),
                 F.expr("sum(CASE WHEN n >= 2 THEN rep * 1000000 "
                        "div (n * (n - 1)) ELSE 0 END) div count(*)")
                 .cast("long").alias("mean_simpson_ppm"))
            .orderBy("lang", "source"))


@_register(
    "c122_rouge_dup_audit",
    f"""
    WITH {_EDGES_SQL},
    tt AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), tc AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM tt GROUP BY doc_id, tok
    ), dn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc
              GROUP BY doc_id),
    ov AS (
      SELECT e.d1, e.d2,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS overlap
      FROM edges e
      JOIN tc a ON a.doc_id = e.d1
      JOIN tc b ON b.doc_id = e.d2 AND b.tok = a.tok
      GROUP BY e.d1, e.d2
    ), m AS (
      SELECT o.d1, o.d2,
             o.overlap * 1000000 // na.n AS p_ppm,
             o.overlap * 1000000 // nb.n AS r_ppm
      FROM ov o JOIN dn na ON na.doc_id = o.d1
                JOIN dn nb ON nb.doc_id = o.d2
    )
    SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
           CAST(p_ppm AS BIGINT) AS rouge1_p_ppm,
           CAST(r_ppm AS BIGINT) AS rouge1_r_ppm,
           CAST(CASE WHEN p_ppm + r_ppm = 0 THEN 0
                     ELSE 2 * p_ppm * r_ppm // (p_ppm + r_ppm) END
                AS BIGINT) AS rouge1_f1_ppm
    FROM m ORDER BY d1, d2
    """,
    "Dedup explainability in EVAL-METRIC terms: ROUGE-1 precision / "
    "recall / F1 (clipped multiset token overlap, integer ppm) for "
    "every verified near-dup pair — Jaccard says the pair is "
    "similar, ROUGE says how much of EACH SIDE is covered, which is "
    "what asymmetric containment cases (quote-inside-article) need.  "
    "Pairs come from the shared c08 edge derivation, so the metric "
    "join runs at |edges| x shared-token cardinality, never corpus "
    "pairs; clipping (least of the two counts) is the standard "
    "n-gram-precision discipline and stays integer-exact.",
)
def c122_rouge_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions import text as T
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_graph import (
        _edges)

    docs = _t(spark, sf_dir, "documents")
    edges = _edges(spark, sf_dir)
    tc = (docs.select("doc_id",
                      F.explode(T.tokens(F.col("text"))).alias("tok"))
          .groupBy("doc_id", "tok")
          .agg(F.count("*").cast("long").alias("c")))
    dn = tc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    a = tc.select(F.col("doc_id").alias("d1"), "tok",
                  F.col("c").alias("ca"))
    b = tc.select(F.col("doc_id").alias("d2b"),
                  F.col("tok").alias("tok2"), F.col("c").alias("cb"))
    ov = (edges.join(a, "d1")
          .join(b, (F.col("d2") == F.col("d2b"))
                & (F.col("tok") == F.col("tok2")))
          .groupBy("d1", "d2")
          .agg(F.sum(F.least("ca", "cb")).cast("long").alias("overlap")))
    m = (ov.join(dn.withColumnRenamed("doc_id", "d1")
                 .withColumnRenamed("n", "na"), "d1")
         .join(dn.withColumnRenamed("doc_id", "d2")
               .withColumnRenamed("n", "nb"), "d2")
         .select("d1", "d2",
                 F.expr("overlap * 1000000 div na").alias("p_ppm"),
                 F.expr("overlap * 1000000 div nb").alias("r_ppm")))
    return m.select(
        F.col("d1").cast("long"), F.col("d2").cast("long"),
        F.col("p_ppm").cast("long").alias("rouge1_p_ppm"),
        F.col("r_ppm").cast("long").alias("rouge1_r_ppm"),
        F.expr("CASE WHEN p_ppm + r_ppm = 0 THEN 0 "
               "ELSE 2 * p_ppm * r_ppm div (p_ppm + r_ppm) END")
        .cast("long").alias("rouge1_f1_ppm")).orderBy("d1", "d2")


def _c123_oracle() -> str:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _duck_hash64, _duck_minhash_band_case, _duck_minhash_mins,
        _duck_shingles, _duck_toks)

    cfg_sql = []
    for bands, rows in ((2, 8), (4, 4), (8, 2)):
        cfg_sql.append(f"""
    banded{bands} AS (SELECT doc_id, b.band AS band,
                      md5({_duck_minhash_band_case(16, bands)}) AS bucket
               FROM m, range(0, {bands}) b(band)),
    cand{bands} AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM banded{bands} a JOIN banded{bands} b
               ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
    hit{bands} AS (SELECT c.d1 FROM cand{bands} c
             JOIN truth t2 ON c.d1 = t2.d1 AND c.d2 = t2.d2)""")
        cfg_sql.append(f"""
    row{bands} AS (
      SELECT CAST({bands} AS BIGINT) AS bands,
             CAST({rows} AS BIGINT) AS rows_per_band,
             CAST((SELECT count(*) FROM cand{bands}) AS BIGINT)
               AS n_candidates,
             CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT count(*) FROM hit{bands}) AS BIGINT) AS n_hit,
             CAST((SELECT count(*) FROM hit{bands}) * 1000000
                  // nullif((SELECT count(*) FROM cand{bands}), 0)
                  AS BIGINT) AS precision_ppm,
             CAST((SELECT count(*) FROM hit{bands}) * 1000000
                  // nullif((SELECT count(*) FROM truth), 0)
                  AS BIGINT) AS recall_ppm)""")
    return f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {_D.MINHASH_P} AS h
           FROM sh),
    m AS (SELECT doc_id, {_duck_minhash_mins(16)} FROM hx
          GROUP BY doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    truth AS (SELECT a.doc_id AS d1, b.doc_id AS d2
              FROM sh a JOIN sh b
                ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) * 1.0
                     / (min((SELECT n_sh FROM sizes s
                             WHERE s.doc_id = a.doc_id))
                        + min((SELECT n_sh FROM sizes s
                               WHERE s.doc_id = b.doc_id))
                        - count(*)) >= 0.5),
    {','.join(cfg_sql)}
    SELECT * FROM row2
    UNION ALL SELECT * FROM row4
    UNION ALL SELECT * FROM row8
    ORDER BY bands
    """


@_register(
    "c123_lsh_band_sweep",
    _c123_oracle(),
    "LSH OPERATING-POINT SWEEP: precision/recall of MinHash-LSH "
    "candidates vs the exact-Jaccard truth set for three bandings of "
    "the SAME 16-slot signature — (2 bands x 8 rows: high precision), "
    "(4 x 4: the production default c06/c80 audit), (8 x 2: high "
    "recall).  The S-curve picker in table form: one signature pass "
    "(localCheckpointed) is re-banded three ways, so the sweep costs "
    "three band-bucket joins over (doc, band, bucket) rows — never "
    "three signature recomputes and never an all-pairs scan.  "
    "Portable md5-64 base hash keeps every count oracle-exact "
    "(the c80 pattern, swept).",
)
def c123_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _spread)

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = _D.minhash_signatures(
        docs, "doc_id", "text", num_hashes=16, shingle_n=3,
        hash_fn=_D.portable_hash64).localCheckpoint(eager=True)
    truth = (_D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.5)
             .select("d1", "d2").localCheckpoint(eager=True))
    nt = truth.agg(F.count("*").cast("long").alias("n_truth"))
    outs = []
    for bands, rows in ((2, 8), (4, 4), (8, 2)):
        cand = _D.minhash_lsh_candidates(sigs, bands=bands,
                                         rows_per_band=rows)
        hit = cand.join(truth, ["d1", "d2"])
        outs.append(
            cand.agg(F.count("*").cast("long").alias("n_candidates"))
            .crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(
                hit.agg(F.count("*").cast("long").alias("n_hit"))))
            .select(F.lit(bands).cast("long").alias("bands"),
                    F.lit(rows).cast("long").alias("rows_per_band"),
                    "n_candidates", "n_truth", "n_hit",
                    F.expr("n_hit * 1000000 div nullif(n_candidates, 0)")
                    .cast("long").alias("precision_ppm"),
                    F.expr("n_hit * 1000000 div nullif(n_truth, 0)")
                    .cast("long").alias("recall_ppm")))
    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("bands")


@_register(
    "b140_streaming_dedup_restart",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "STREAMING DEDUP value-oracled (the A15 first-wins dedup's "
    "streaming sibling): events lands once, then a re-delivered "
    "subset (every 10th event_id) lands after a CHECKPOINT RESTART — "
    "inside the watermark horizon, so dropDuplicatesWithinWatermark's "
    "state store must recognize and drop every re-send.  The oracle "
    "is plain batch SQL over events: any duplicate that survives "
    "(state lost across the restart, wrong key, horizon bug) inflates "
    "the counts and flips the hash.  Output goes through the "
    "exactly-once streaming file sink; id_sum makes single-row leaks "
    "visible even when counts collide.",
)
def b140_streaming_dedup_restart(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="b140_dedup_")
    landing = f"{base}/landing"
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"

    def run() -> None:
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        dd = (stream.withWatermark("ts", "3650 days")
              .dropDuplicatesWithinWatermark(["event_id"]))
        q = (dd.writeStream.outputMode("append")
             .format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    ev.repartition(2).write.parquet(landing)
    run()
    # re-delivery after a restart: every 10th event re-sent verbatim
    (ev.filter(F.col("event_id") % 10 == 0).repartition(1)
     .write.mode("append").parquet(landing))
    run()
    return (spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                 .cast("long").alias("value_cents"),
                 F.sum("event_id").cast("long").alias("id_sum"))
            .orderBy("event_type"))


@_register(
    "b141_countmin_frequency",
    """
    WITH ex AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), hashes AS (
      SELECT user_id, n, r.r AS r,
             CAST(('0x' || substr(md5(r.r || ':' || user_id), 1, 12))
                  ::BIGINT % 256 AS BIGINT) AS b
      FROM ex, range(0, 4) r(r)
    ), counters AS (
      SELECT r, b, CAST(sum(n) AS BIGINT) AS cnt
      FROM hashes GROUP BY r, b
    ), est AS (
      SELECT h.user_id, min(c.cnt) AS est
      FROM hashes h JOIN counters c ON c.r = h.r AND c.b = h.b
      GROUP BY h.user_id
    )
    SELECT ex.user_id, ex.n AS n_exact, CAST(est.est AS BIGINT) AS est,
           CAST(est.est - ex.n AS BIGINT) AS overcount
    FROM ex JOIN est ON est.user_id = ex.user_id
    ORDER BY ex.n DESC, ex.user_id LIMIT 20
    """,
    "Count-Min frequency sketch with PORTABLE hashes, self-auditing: "
    "d=4 rows x w=256 counters over per-user event counts; the point "
    "estimate (min over rows of the hashed counter) is compared to "
    "the exact count for the top-20 users — overcount >= 0 by "
    "construction, and every value is oracle-exact because the row "
    "hashes are md5-48 mod w (the b102 portability discipline "
    "applied to the frequency-sketch family: KMV = distinct, "
    "Misra-Gries = heavy hitters, CM = point frequency).  Mergeable "
    "shape: counters are sums, so partial sketches combine by "
    "addition; the only full-data pass is the per-user count — the "
    "sketch itself is built from the AGGREGATE, and the counter "
    "table is d*w rows regardless of corpus size.",
)
def b141_countmin_frequency(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ex = (ev.groupBy("user_id")
          .agg(F.count("*").cast("long").alias("n"))
          .localCheckpoint(eager=True))
    hashes = (ex.select(
        "user_id", "n",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r"))
        .withColumn(
            "b",
            F.pmod(_kmv.portable_hash48(
                F.concat_ws(":", F.col("r"), F.col("user_id"))),
                F.lit(256)).cast("long")))
    counters = (hashes.groupBy("r", "b")
                .agg(F.sum("n").cast("long").alias("cnt")))
    est = (hashes.join(counters, ["r", "b"])
           .groupBy("user_id")
           .agg(F.min("cnt").cast("long").alias("est")))
    return (ex.join(est, "user_id")
            .select("user_id", F.col("n").alias("n_exact"), "est",
                    (F.col("est") - F.col("n")).cast("long")
                    .alias("overcount"))
            .orderBy(F.desc("n_exact"), "user_id").limit(20))


@_register(
    "c124_priority_sample",
    """
    WITH h AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
               ::BIGINT AS hv
      FROM documents
    ), pr AS (
      SELECT doc_id, w, w * 68719476736 // (hv // 4096 + 1) AS p
      FROM h
    ), top AS (
      SELECT doc_id, w, p,
             row_number() OVER (ORDER BY p DESC, doc_id) AS rn
      FROM pr
    ), tau AS (
      SELECT coalesce(max(CASE WHEN rn = 51 THEN p END), 0) AS tau
      FROM top
    ), samp AS (
      SELECT doc_id, w, p FROM top WHERE rn <= 50
    )
    SELECT s.doc_id, s.w, CAST(s.p AS BIGINT) AS priority,
           CAST((SELECT sum(greatest(w, tau)) FROM samp, tau)
                AS BIGINT) AS est_total_w
    FROM samp s, tau
    ORDER BY s.doc_id
    """,
    "PRIORITY SAMPLING (Duffield-Lund-Thorup): a one-pass weighted "
    "sample-without-replacement of the corpus — each doc gets "
    "priority w/u with u a uniform from its portable md5-48 hash "
    "(integer-scaled: w * 2^36 div (h/4096 + 1), bounded below "
    "2^63 for any realistic weight), the k=50 largest priorities "
    "are the sample, and the (k+1)-th priority tau yields the "
    "unbiased Horvitz-Thompson total-weight estimate "
    "sum(max(w, tau)).  THE primitive for weighted training-mix "
    "subsampling at 100 TB: one narrow map + one top-k "
    "(TakeOrderedAndProject), no per-stratum passes, deterministic "
    "and replayable because the randomness is a content hash.  "
    "Weights here are doc lengths (sample tokens, not documents).",
)
def c124_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pr = docs.select(
        "doc_id", F.col("n_chars").cast("long").alias("w"),
        F.expr("CAST(n_chars AS BIGINT) * 68719476736 div "
               "(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), "
               "16, 10) div 4096 + 1)").cast("long").alias("p"))
    # materialize the 51-row top set: samp/tau/est all branch from it,
    # and without the cut each branch re-executes the corpus scan
    top51 = (pr.orderBy(F.desc("p"), "doc_id").limit(51)
             .localCheckpoint(eager=True))
    from pyspark.sql import Window as W
    ranked = top51.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("p"), "doc_id")))
    tau = ranked.agg(
        F.coalesce(F.max(F.when(F.col("rn") == 51, F.col("p"))),
                   F.lit(0)).cast("long").alias("tau"))
    samp = ranked.filter(F.col("rn") <= 50).select("doc_id", "w", "p")
    est = (samp.crossJoin(F.broadcast(tau))
           .agg(F.sum(F.greatest("w", "tau")).cast("long")
                .alias("est_total_w")))
    return (samp.crossJoin(F.broadcast(est))
            .select("doc_id", "w", F.col("p").alias("priority"),
                    "est_total_w")
            .orderBy("doc_id"))


def _c125_oracle() -> str:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _duck_hash64, _duck_minhash_mins, _duck_shingles, _duck_toks)

    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(16))
    return f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {_D.MINHASH_P} AS h
           FROM sh),
    m AS (SELECT doc_id, {_duck_minhash_mins(16)} FROM hx
          GROUP BY doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), ex AS (
      SELECT p.d1, p.d2,
             p.n_common * 1000000
               // (x.n_sh + y.n_sh - p.n_common) AS exact_ppm
      FROM pairs p JOIN sizes x ON x.doc_id = p.d1
                   JOIN sizes y ON y.doc_id = p.d2
      WHERE p.n_common * 1.0
            / (x.n_sh + y.n_sh - p.n_common) >= 0.5
    )
    SELECT e.d1, e.d2,
           CAST(({agree}) * 1000000 // 16 AS BIGINT) AS est_ppm,
           CAST(e.exact_ppm AS BIGINT) AS exact_ppm,
           CAST(abs(({agree}) * 1000000 // 16 - e.exact_ppm)
                AS BIGINT) AS abs_err_ppm
    FROM ex e JOIN m a ON a.doc_id = e.d1
              JOIN m b ON b.doc_id = e.d2
    ORDER BY e.d1, e.d2
    """


@_register(
    "c125_minhash_estimate_error",
    _c125_oracle(),
    "MinHash ACCURACY audit: for every verified near-dup pair, the "
    "signature-agreement Jaccard estimate (matching slots / 16, "
    "integer ppm) next to the exact n-gram Jaccard and the absolute "
    "error — the number that tells you whether 16 hashes are enough "
    "for your threshold or you need 64 (E[err] ~ 1/sqrt(k)).  The "
    "estimate is the quantity LSH banding implicitly thresholds, so "
    "auditing it against exact truth on real pairs closes the loop "
    "the c80/c123 candidate-level audits open.  Signatures are the "
    "portable 16-slot table (one narrow pass); the exact side reuses "
    "the inverted-index pair derivation; per-pair work is a "
    "zip_with over two 16-element arrays.",
)
def c125_minhash_estimate_error(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _spread)

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = _D.minhash_signatures(
        docs, "doc_id", "text", num_hashes=16, shingle_n=3,
        hash_fn=_D.portable_hash64)
    pairs = (_D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.5, keep_sizes=True)
             .select("d1", "d2",
                     F.expr("n_common * 1000000 div "
                            "(n1 + n2 - n_common)").alias("exact_ppm")))
    a = sigs.select(F.col("doc_id").alias("d1"),
                    F.col("signature").alias("sig1"))
    b = sigs.select(F.col("doc_id").alias("d2"),
                    F.col("signature").alias("sig2"))
    est = F.expr("aggregate(zip_with(sig1, sig2, "
                 "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
                 "0, (acc, v) -> acc + v) * 1000000 div 16")
    return (pairs.join(a, "d1").join(b, "d2")
            .select("d1", "d2",
                    est.cast("long").alias("est_ppm"),
                    F.col("exact_ppm").cast("long").alias("exact_ppm"),
                    F.abs(est - F.col("exact_ppm")).cast("long")
                    .alias("abs_err_ppm"))
            .orderBy("d1", "d2"))


@_register(
    "b142_streaming_late_data_drop",
    """
    SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY day ORDER BY day
    """,
    "WATERMARK SEMANTICS value-oracled: a tumbling daily count with a "
    "1-hour watermark ingests all events, then — after a checkpoint "
    "restart — a verbatim re-delivery of the EARLIEST day's events "
    "arrives far behind the watermark.  Append-mode window "
    "aggregation must discard those late rows (their windows are "
    "finalized); two far-future sentinel batches then advance the "
    "watermark so every real window flushes to the exactly-once file "
    "sink.  The oracle is plain batch SQL over events: if late rows "
    "leak into closed windows (or a window double-emits after the "
    "restart) the counts inflate and the hash flips.  Completes the "
    "streaming hard-signal set: exactly-once (b134), sketch state "
    "(b135), stateful timers (b136), dedup state (b140), and now "
    "late-data discard.",
)
def b142_streaming_late_data_drop(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    lo, hi = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    base = tempfile.mkdtemp(prefix="b142_late_")
    landing = f"{base}/landing"
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(landing)
        agg = (stream.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 day").alias("w"))
               .agg(F.count("*").alias("n_events"))
               .select(F.datediff(F.col("w.start").cast("date"),
                                  F.lit("2024-01-01").cast("date"))
                       .alias("day"),
                       "n_events"))
        return (agg.writeStream.outputMode("append")
                .format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt))

    # phase 1: everything lands; most windows stay open (unflushed)
    ev.repartition(2).write.parquet(landing)
    q = start().trigger(availableNow=True).start()
    q.awaitTermination()

    # phase 2 (restart): re-deliver the earliest day's rows — far
    # behind the checkpointed watermark — then two sentinel batches
    # flush every real window
    q = start().start()
    first_day_end = lo - (lo % 86_400_000_000) + 86_400_000_000
    (ev.filter(F.unix_micros("ts") < first_day_end).repartition(1)
     .write.mode("append").parquet(landing))
    q.processAllAvailable()
    for off in (90_000_000_000, 90_060_000_000):  # ~25h past max
        (spark.range(1)
         .select(F.lit(-1).cast("long").alias("user_id"),
                 F.timestamp_micros(F.lit(hi + off)).alias("ts"))
         .write.mode("append").parquet(landing))
        q.processAllAvailable()
    q.stop()

    # drop the sentinel windows: real days end at max(ts)'s day
    # (2024-01-01 is day 19723 of the unix epoch)
    max_real_day = hi // 86_400_000_000 - 19723
    counts = (spark.read.parquet(sink)
              .filter(F.col("day") <= F.lit(int(max_real_day))))
    # the streamed value under test is n_events; n_users joins in
    # from an exact batch aggregate so the oracle's countDistinct
    # has a bit-exact twin (approx_count_distinct is not oracle-able)
    exact_users = (ev.groupBy(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users")))
    return (counts.select("day", F.col("n_events").cast("long")
                          .alias("n_events"))
            .join(exact_users, "day")
            .orderBy("day"))


@_register(
    "b143_streaming_stream_join",
    """
    WITH p AS (
      SELECT a.event_type AS cur_type, b.event_type AS prev_type,
             epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND b.ts < a.ts
       AND b.ts >= a.ts - INTERVAL 1 HOUR
    )
    SELECT cur_type, prev_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(gap_us) AS BIGINT) AS gap_us_sum
    FROM p GROUP BY cur_type, prev_type
    ORDER BY cur_type, prev_type
    """,
    "STREAM-STREAM JOIN value-oracled (the last streaming operator "
    "class on pytest-only evidence): a watermarked self-join of the "
    "event stream — each event joined to the SAME user's events in "
    "the preceding hour — run across a CHECKPOINT RESTART, so "
    "cross-phase pairs (current side in phase 2, prior side in "
    "phase 1) must come out of the restored join state, and the "
    "range condition bounds that state to the watermark horizon.  "
    "Joined pairs land in the exactly-once file sink; the oracle is "
    "the batch theta self-join.  Missing state (lost pairs), "
    "re-emission (duplicated pairs), or wrong range pruning all "
    "flip the per-type-pair counts and gap sums.",
)
def b143_streaming_stream_join(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts",
                                            "event_id", "event_type")
    base = tempfile.mkdtemp(prefix="b143_ssj_")
    landing = f"{base}/landing"
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"

    def start():
        cur = (spark.readStream.schema(ev.schema).parquet(landing)
               .withWatermark("ts", "2 hours")
               .select(F.col("user_id").alias("u"),
                       F.col("ts").alias("cur_ts"),
                       F.col("event_type").alias("cur_type")))
        prev = (spark.readStream.schema(ev.schema).parquet(landing)
                .withWatermark("ts", "2 hours")
                .select(F.col("user_id").alias("pu"),
                        F.col("ts").alias("prev_ts"),
                        F.col("event_type").alias("prev_type")))
        joined = (cur.join(
            prev,
            (F.col("u") == F.col("pu"))
            & (F.col("prev_ts") < F.col("cur_ts"))
            & (F.col("prev_ts")
               >= F.col("cur_ts") - F.expr("INTERVAL 1 HOUR")))
            .select("cur_type", "prev_type",
                    (F.unix_micros("cur_ts") - F.unix_micros("prev_ts"))
                    .alias("gap_us")))
        return (joined.writeStream.outputMode("append")
                .format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt))

    # two event-time-ordered phases around a restart: cross-boundary
    # pairs must be served from the restored right-side join state
    lo, hi = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    mid = (lo + hi) // 2
    us = F.unix_micros("ts")
    ev.filter(us < mid).repartition(2).write.parquet(landing)
    q = start().trigger(availableNow=True).start()
    q.awaitTermination()
    (ev.filter(us >= mid).repartition(2)
     .write.mode("append").parquet(landing))
    q = start().trigger(availableNow=True).start()
    q.awaitTermination()

    return (spark.read.parquet(sink)
            .groupBy("cur_type", "prev_type")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum("gap_us").cast("long").alias("gap_us_sum"))
            .orderBy("cur_type", "prev_type"))
