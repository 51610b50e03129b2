"""Round-14 registry additions (built in the r08 session, enter the
driver window in r09 behind the r08 cohort).

- b168: exact single-changepoint detection (binary segmentation's
  first split) over the daily event-revenue series — argmax of the
  between-group variance gain, computed from prefix sums so every
  candidate split is evaluated from O(1) aggregates.
- b169: partition-transform planning audit — the Iceberg/Delta
  partition-spec decision (day(ts) vs hash-bucket vs category) scored
  on partition count, size skew, and pruning selectivity for a
  declared workload predicate.
- c138: greedy max-coverage corpus selection (facility-location-style
  data selection): k rounds of "pick the document covering the most
  not-yet-covered shingles" — the classic submodular selection
  primitive behind coverage-driven training-data curation.
- c139: Cohen's kappa for the stopword lang-id against synthetic
  gold labels — chance-corrected classifier eval in truncating
  integer ppm arithmetic.
- b170: runtime-filter (Bloom) reduction audit — measured, not
  modeled, shuffle-reduction and false-pass rates for the
  SPARK-32268-style join filter decision.

Reference contract: none of these exist in the reference (its
analytic surface is the KPI list, README.md:116-129); they extend the
charter's lakehouse-maintenance and LLM-curation tiers with public
designs (Iceberg partition transforms; binary segmentation, Scott &
Knott 1974; greedy max-coverage, Nemhauser et al. 1978).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.operators.kmv import (
    PORTABLE_HASH48_SQL as _H48)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    _register, _t)


# ---------------------------------------------------------------------
# b168: exact single changepoint over the daily revenue series
# ---------------------------------------------------------------------


@_register(
    "b168_changepoint_binary_segmentation",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ), pre AS (
      SELECT day, cents,
             sum(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s1,
             row_number() OVER (ORDER BY day) AS n1,
             sum(cents) OVER () AS st,
             count(*) OVER () AS nt
      FROM daily
    ), cand AS (
      SELECT strftime(day, '%Y-%m-%d') AS split_day,
             CAST(n1 AS BIGINT) AS n_before,
             CAST(nt - n1 AS BIGINT) AS n_after,
             CAST(s1 AS BIGINT) AS sum_before_cents,
             CAST(st - s1 AS BIGINT) AS sum_after_cents,
             round(CAST(s1 * (nt - n1) - (st - s1) * n1 AS DOUBLE)
                   * CAST(s1 * (nt - n1) - (st - s1) * n1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * (nt - n1) * nt), 3)
               AS gain
      FROM pre WHERE n1 < nt
    ), ranked AS (
      SELECT *, max(gain) OVER () AS best FROM cand
    )
    SELECT split_day, n_before, n_after,
           sum_before_cents, sum_after_cents, gain,
           CAST(CASE WHEN gain = best AND split_day =
                  min(CASE WHEN gain = best THEN split_day END) OVER ()
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM ranked ORDER BY split_day
    """,
    "EXACT SINGLE-CHANGEPOINT detection (the first split of binary "
    "segmentation, Scott & Knott 1974) over the daily event-revenue "
    "series: for every candidate split k the between-group variance "
    "gain  (S1*n2 - S2*n1)^2 / (n1*n2*n)  is computed from PREFIX "
    "SUMS, so all |days|-1 candidates cost one running-sum window "
    "over the daily aggregate — never a per-split rescan.  Sums stay "
    "exact BIGINT cents; only the final ranking ratio is IEEE double "
    "(identical op sequence in both engines, rounded to 3dp; the "
    "min-day tiebreak pins equal-gain ties).  Output is the full "
    "candidate relation with the argmax flagged — the audit view a "
    "monitoring pipeline thresholds on.  Scale shape: the fact "
    "collapses to |days| rows in ONE aggregate; the prefix window is "
    "single-partition over that calendar-bounded relation (reviewed "
    "in _SP_ORDERING_REVIEWED); at 100 TB the same plan holds with "
    "day -> (series, day) and the window partitioned by series.",
)
def b168_changepoint_binary_segmentation(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)"))
                  .cast("long").alias("cents")))
    wo = W.orderBy("day")
    pre = daily.select(
        "day", "cents",
        F.sum("cents").over(
            wo.rowsBetween(W.unboundedPreceding, 0)).alias("s1"),
        F.row_number().over(wo).alias("n1"),
        F.sum("cents").over(
            W.rowsBetween(W.unboundedPreceding,
                          W.unboundedFollowing)).alias("st"),
        F.count("*").over(
            W.rowsBetween(W.unboundedPreceding,
                          W.unboundedFollowing)).alias("nt"))
    cand = (pre.filter(F.col("n1") < F.col("nt"))
            .select(F.date_format("day", "yyyy-MM-dd").alias("split_day"),
                    F.col("n1").cast("long").alias("n_before"),
                    (F.col("nt") - F.col("n1")).cast("long")
                    .alias("n_after"),
                    F.col("s1").cast("long").alias("sum_before_cents"),
                    (F.col("st") - F.col("s1")).cast("long")
                    .alias("sum_after_cents"),
                    F.round(
                        F.expr("CAST(s1 * (nt - n1) - (st - s1) * n1 "
                               "AS DOUBLE)")
                        * F.expr("CAST(s1 * (nt - n1) - (st - s1) * n1 "
                                 "AS DOUBLE)")
                        / F.expr("CAST(n1 AS DOUBLE) * (nt - n1) * nt"),
                        3).alias("gain")))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = cand.withColumn("best", F.max("gain").over(wall))
    first_best = F.min(F.when(F.col("gain") == F.col("best"),
                              F.col("split_day"))).over(wall)
    return (ranked.withColumn(
        "is_best",
        F.when((F.col("gain") == F.col("best"))
               & (F.col("split_day") == first_best), 1)
        .otherwise(0).cast("long"))
        .drop("best")
        .orderBy("split_day"))


# ---------------------------------------------------------------------
# b169: partition-transform planning audit
# ---------------------------------------------------------------------

_PT_LO = "2024-01-08"
_PT_HI = "2024-01-15"          # [lo, hi): a 7-day workload window
_PT_BUCKETS = 16


def _pt_audit_sql(transform: str, part: str) -> str:
    return f"""
      SELECT '{transform}' AS transform,
             CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(cnt) AS BIGINT) AS rows_total,
             CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT)
               AS max_part_ppm,
             CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS parts_touched,
             CAST(sum(CASE WHEN hits > 0 THEN cnt ELSE 0 END)
                  * 1000000 // sum(cnt) AS BIGINT) AS scan_ppm,
             CAST(sum(hits) * 1000000
                  // greatest(sum(CASE WHEN hits > 0 THEN cnt
                                  ELSE 0 END), 1) AS BIGINT)
               AS scan_precision_ppm
      FROM (
        SELECT {part} AS part, count(*) AS cnt,
               sum(CASE WHEN ts >= TIMESTAMP '{_PT_LO}'
                         AND ts < TIMESTAMP '{_PT_HI}'
                    THEN 1 ELSE 0 END) AS hits
        FROM events GROUP BY 1)
    """


@_register(
    "b169_partition_transform_audit",
    f"""
    SELECT * FROM ({_pt_audit_sql('bucket16_user',
                                  f'user_id % {_PT_BUCKETS}')})
    UNION ALL
    SELECT * FROM ({_pt_audit_sql('day_ts', 'CAST(ts AS DATE)')})
    UNION ALL
    SELECT * FROM ({_pt_audit_sql('type', 'event_type')})
    ORDER BY transform
    """,
    "PARTITION-TRANSFORM planning audit — the Iceberg partition-spec "
    "/ Delta partition-column decision, scored before any data is "
    "laid out: three candidate transforms (day(ts), "
    f"{_PT_BUCKETS}-way user-id bucket, event-type category) are "
    "each evaluated with ONE narrow aggregate producing the "
    "per-partition manifest (count + workload-predicate hits), then "
    "audited on partition count, size skew (largest-partition ppm), "
    "and pruning behavior for a declared 7-day time-range workload: "
    "parts_touched / scan_ppm (how much data a pruned scan still "
    "reads) and scan_precision_ppm (how much of the scanned data "
    "actually matches).  day(ts) prunes the time workload to "
    "exactly its week at precision 1e6; the bucket and category "
    "transforms touch every partition — the audit makes that "
    "trade-off a number instead of a guess.  Scale shape: each "
    "candidate costs one aggregate to |partitions| rows; nothing "
    "data-scaled survives the first GROUP BY, and the audit is "
    "exactly the dry-run a table-format migration runs per candidate "
    "spec before committing a 100 TB rewrite.",
)
def b169_partition_transform_audit(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    lo = F.lit(_PT_LO).cast("timestamp")
    hi = F.lit(_PT_HI).cast("timestamp")

    def audit(part_col, transform: str) -> DataFrame:
        parts = (ev.groupBy(part_col.alias("part"))
                 .agg(F.count("*").alias("cnt"),
                      F.sum(F.when((F.col("ts") >= lo)
                                   & (F.col("ts") < hi), 1)
                            .otherwise(0)).alias("hits")))
        touched = F.col("hits") > 0
        return (parts.agg(
            F.count("*").cast("long").alias("n_partitions"),
            F.sum("cnt").cast("long").alias("rows_total"),
            F.expr("max(cnt) * 1000000 div sum(cnt)").cast("long")
            .alias("max_part_ppm"),
            F.sum(F.when(touched, 1).otherwise(0)).cast("long")
            .alias("parts_touched"),
            F.expr("sum(CASE WHEN hits > 0 THEN cnt ELSE 0 END) "
                   "* 1000000 div sum(cnt)").cast("long")
            .alias("scan_ppm"),
            F.expr("sum(hits) * 1000000 div greatest(sum(CASE WHEN "
                   "hits > 0 THEN cnt ELSE 0 END), 1)").cast("long")
            .alias("scan_precision_ppm"))
            .select(F.lit(transform).alias("transform"), "*"))

    return (audit(F.col("user_id") % _PT_BUCKETS, "bucket16_user")
            .unionByName(audit(F.to_date("ts"), "day_ts"))
            .unionByName(audit(F.col("event_type"), "type"))
            .orderBy("transform"))


# ---------------------------------------------------------------------
# c138: greedy max-coverage corpus selection
# ---------------------------------------------------------------------

_MC_K = 5


def _mc_round_sql(i: int) -> str:
    """Round i: pick the doc with the largest not-yet-covered shingle
    gain (tiebreak min doc_id), then extend the covered set."""
    prev_cov = (f"cov{i - 1}" if i > 1 else
                "(SELECT NULL AS sh WHERE 1 = 0)")
    prev_picks = " UNION ALL ".join(
        f"SELECT doc_id FROM p{j}" for j in range(1, i)) or \
        "SELECT NULL AS doc_id WHERE 1 = 0"
    return f"""
    g{i} AS (
      SELECT s.doc_id, count(*) AS gain
      FROM sh s
      WHERE s.sh NOT IN (SELECT sh FROM {prev_cov})
        AND s.doc_id NOT IN ({prev_picks})
      GROUP BY s.doc_id
    ), p{i} AS (
      SELECT doc_id, gain FROM g{i}
      ORDER BY gain DESC, doc_id LIMIT 1
    ), cov{i} AS (
      SELECT sh FROM {prev_cov}
      UNION
      SELECT s.sh FROM sh s JOIN p{i} USING (doc_id)
    )"""


@_register(
    "c138_greedy_max_coverage_selection",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS sh
      FROM t WHERE len(toks) >= 3
    ), tot AS (SELECT count(DISTINCT sh) AS n FROM sh)
    {"".join("," + _mc_round_sql(i) for i in range(1, _MC_K + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
          f'''SELECT {i} AS pick_rank,
                     CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(gain AS BIGINT) AS gain,
                     CAST((SELECT count(*) FROM cov{i}) * 1000000
                          // (SELECT n FROM tot) AS BIGINT)
                       AS coverage_ppm
              FROM p{i}''' for i in range(1, _MC_K + 1))})
    ORDER BY pick_rank
    """,
    "GREEDY MAX-COVERAGE corpus selection — the submodular data-"
    "selection primitive (Nemhauser et al. 1978: the greedy pick is "
    "a (1-1/e)-approximation of the optimal k-subset): "
    f"{_MC_K} rounds of 'take the document covering the most "
    "not-yet-covered 3-gram shingles' (tiebreak min doc_id), "
    "reporting each pick's marginal gain and the cumulative corpus "
    "coverage ppm — how coverage-driven curation picks seed/eval "
    "subsets.  Scale shape: the shingle relation builds once and is "
    "reused every round (lazy checkpoint — cut lineage, no rescan); "
    "each round is one broadcast anti-join against the covered set "
    "(bounded: shingles of at most k picked docs), one groupBy(doc), "
    "and a TakeOrdered(1); the single-row argmax collect per round "
    "is k-bounded driver state, the same posture as the BPE merge "
    "loop.  The covered set stays k-doc-bounded so the broadcast "
    "never grows with the corpus.",
)
def c138_greedy_max_coverage_selection(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        _shingle_rows)
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _spread)

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # distinct (doc, shingle) rows, built once, reused k+1 times
    sh = (_shingle_rows(docs, "doc_id", "text", 3)
          .distinct().localCheckpoint(eager=False))
    total = sh.select("sh").distinct().count()

    picked: list[int] = []
    out_rows = []
    covered = 0
    for rank in range(1, _MC_K + 1):
        remaining = sh.filter(~F.col("doc_id").isin(picked)) \
            if picked else sh
        cov = (sh.filter(F.col("doc_id").isin(picked))
               .select("sh").distinct()) if picked else None
        gains = remaining if cov is None else remaining.join(
            F.broadcast(cov), "sh", "left_anti")
        top = (gains.groupBy("doc_id")
               .agg(F.count("*").alias("gain"))
               .orderBy(F.desc("gain"), "doc_id")
               .limit(1).collect())  # 1 row: k-bounded driver state
        if not top:
            break
        doc_id, gain = int(top[0]["doc_id"]), int(top[0]["gain"])
        picked.append(doc_id)
        covered += gain
        out_rows.append((rank, doc_id, gain,
                         covered * 1_000_000 // total))
    return spark.createDataFrame(
        out_rows,
        "pick_rank int, doc_id long, gain long, coverage_ppm long")


# ---------------------------------------------------------------------
# c139: Cohen's kappa of the lang-id classifier vs gold labels
# ---------------------------------------------------------------------


@_register(
    "c139_cohens_kappa_langid",
    None,  # oracle attached below (wraps the shared c03c oracle SQL)
    "COHEN'S KAPPA agreement of the c03c stopword lang-id classifier "
    "against the gold `lang` column — the chance-corrected eval "
    "metric the raw accuracy (po) overstates whenever the class "
    "distribution is skewed: kappa = (po - pe) / (1 - pe) with pe "
    "the marginal-product chance agreement.  All arithmetic is exact "
    "integer ppm (truncating division in both engines): po_ppm from "
    "the agree count, pe_ppm from the PER-CLASS ppm marginals "
    "(sum(gold_ppm * pred_ppm) div 1e6 — each factor <= 1e6, so "
    "every intermediate stays far inside int64 at ANY doc count; "
    "the naive gold_n * pred_n * 1e6 over N^2 form overflows past "
    "~3M docs, ADVICE r08), kappa_ppm from the two.  Reuses the exact "
    "c03c prediction (the Spark side calls the registered query, the "
    "oracle embeds c03c's oracle SQL as a CTE) so the two metrics "
    "can never drift apart.  Scale shape: one doc-level pass, then "
    "everything runs on |classes| marginals — the standard "
    "classifier-eval audit attached to any labeling stage.  The "
    "measured kappa ~ 0.002 is the CEILING, not a classifier defect: "
    "c142_label_signal_ceiling shows the fixture's lang column is "
    "statistically independent of the text (per-class unigram TV "
    "sits inside the deterministic hash-null band and shrinks ~1/"
    "sqrt(n) with corpus size), so the Bayes-optimal kappa here is "
    "~0 and raising this number would mean fitting sampling noise "
    "(VERDICT r09 task 4, closed with evidence).",
)
def c139_cohens_kappa_langid(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
        REGISTRY)

    # pred feeds THREE different-key aggregates (global po, gold
    # marginal, pred marginal) — different subtrees, so AQE exchange
    # reuse cannot share them and the full-corpus lang-id pass would
    # run three times.  Lazy cut: one pass, |docs| x 2 narrow rows
    # (r11 job diet; the c144 shared-relation treatment).
    pred = REGISTRY["c03c_lang_id"].fn(spark, sf_dir) \
        .select("lang", "lang_pred").localCheckpoint(eager=False)
    tot = pred.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), 1)
              .otherwise(0)).cast("long").alias("n_agree"))
    gold = pred.groupBy(F.col("lang").alias("cls")) \
        .agg(F.count("*").alias("gold_n"))
    pr = pred.groupBy(F.col("lang_pred").alias("cls")) \
        .agg(F.count("*").alias("pred_n"))
    pe = (gold.join(pr, "cls")
          .crossJoin(F.broadcast(tot.select("n_docs")))
          .agg(F.coalesce(F.sum(F.expr(
              "(gold_n * 1000000 div n_docs)"
              " * (pred_n * 1000000 div n_docs)")),
              F.lit(0)).cast("long").alias("pe_cross"))
          .select(F.expr("pe_cross div 1000000")
                  .cast("long").alias("pe_ppm")))
    return (tot.crossJoin(F.broadcast(pe))
            .select("n_docs", "n_agree",
                    F.expr("n_agree * 1000000 div n_docs")
                    .cast("long").alias("po_ppm"),
                    F.col("pe_ppm"),
                    F.expr("(n_agree * 1000000 div n_docs - pe_ppm)"
                           " * 1000000 div nullif(1000000 - pe_ppm, 0)")
                    .cast("long").alias("kappa_ppm")))


def _attach_kappa_oracle() -> None:
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
        REGISTRY, QuerySpec)

    c03c = REGISTRY["c03c_lang_id"].oracle
    sql = f"""
    WITH pred AS ({c03c}),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM pred
    ), pe AS (
      SELECT CAST(coalesce(sum((g.gold_n * 1000000 // t.n_docs)
                               * (p.pred_n * 1000000 // t.n_docs)), 0)
                  // 1000000 AS BIGINT) AS pe_ppm
      FROM (SELECT lang AS cls, count(*) AS gold_n
            FROM pred GROUP BY 1) g
      JOIN (SELECT lang_pred AS cls, count(*) AS pred_n
            FROM pred GROUP BY 1) p USING (cls)
      CROSS JOIN tot t
    )
    SELECT n_docs, n_agree,
           CAST(n_agree * 1000000 // n_docs AS BIGINT) AS po_ppm,
           pe_ppm,
           CAST((n_agree * 1000000 // n_docs - pe_ppm)
                * 1000000 // nullif(1000000 - pe_ppm, 0)
                AS BIGINT) AS kappa_ppm
    FROM tot, pe
    """
    spec = REGISTRY["c139_cohens_kappa_langid"]
    REGISTRY["c139_cohens_kappa_langid"] = QuerySpec(
        fn=spec.fn, oracle=sql, note=spec.note)


_attach_kappa_oracle()


# ---------------------------------------------------------------------
# b170: runtime-filter (Bloom semi-join) shuffle-reduction audit
# ---------------------------------------------------------------------

_RF_M = 16384      # filter bits
_RF_K = 4          # salted portable hashes (independent, not affine:
                   # m | 2^48 would correlate an affine family)
_RF_LO = "1997-01-01"
_RF_HI = "1998-01-01"


@_register(
    "b170_runtime_filter_reduction_audit",
    f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '{_RF_LO}'
        AND o_orderdate <  TIMESTAMP '{_RF_HI}'
    ), probe AS (
      SELECT l_orderkey AS key, count(*) AS nrows
      FROM lineitem GROUP BY 1
    ), js AS (SELECT unnest(range(0, {_RF_K})) AS j),
    bits AS (
      SELECT DISTINCT
             {_H48.format(c="CAST(j AS VARCHAR) || '#' || key")}
               % {_RF_M} AS pos
      FROM build CROSS JOIN js
    ), pm AS (
      SELECT key, min(nrows) AS nrows,
             sum(CASE WHEN
                 {_H48.format(c="CAST(j AS VARCHAR) || '#' || key")}
                   % {_RF_M} IN (SELECT pos FROM bits)
                 THEN 1 ELSE 0 END) AS nset
      FROM probe CROSS JOIN js GROUP BY key
    ), lab AS (
      SELECT key, nrows,
             CASE WHEN nset = {_RF_K} THEN 1 ELSE 0 END AS pass,
             CASE WHEN key IN (SELECT key FROM build)
                  THEN 1 ELSE 0 END AS is_match
      FROM pm
    )
    SELECT CAST(sum(nrows) AS BIGINT) AS probe_rows,
           CAST(count(*) AS BIGINT) AS probe_keys,
           CAST((SELECT count(*) FROM build) AS BIGINT) AS build_keys,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(sum(is_match * nrows) AS BIGINT) AS exact_rows,
           CAST(sum(pass * nrows) AS BIGINT) AS pass_rows,
           CAST(sum(CASE WHEN pass = 1 AND is_match = 0
                         THEN nrows ELSE 0 END) AS BIGINT)
             AS false_pass_rows,
           CAST((sum(nrows) - sum(pass * nrows)) * 1000000
                // sum(nrows) AS BIGINT) AS reduction_ppm,
           CAST((SELECT count(*) FROM bits) * 1000000 // {_RF_M}
                AS BIGINT) AS bit_density_ppm
    FROM lab
    """,
    "RUNTIME-FILTER shuffle-reduction audit — Spark's bloom runtime "
    "filter (SPARK-32268) / Iceberg bloom pushdown, value-checked "
    "end to end: a selective dimension slice (urgent 1997 orders) "
    f"builds a {_RF_M}-bit k={_RF_K} Bloom over its join keys "
    "(salted portable md5-48 hashes, so the oracle reproduces every "
    "bit), the FACT side is probed PER DISTINCT KEY (rows ride as a "
    "count — the filter decision is key-functional, so the audit "
    "shuffles |keys|, never rows), and the output quantifies what "
    "the filter buys before the real join: probe rows that pass vs "
    "exact matches, false-pass rows (measured, not modeled — the "
    "filter is the repo's own portable construction), the shuffle "
    "reduction ppm, and the filter's bit density (its health "
    "indicator: density -> 1 means the filter has saturated and "
    "should be resized).  A filter that drops a true match would "
    "break pass_rows >= exact_rows against the oracle.  Scale "
    "shape: the build side collapses to distinct keys then "
    f"<= {_RF_M} bit positions (broadcast; mergeable by bitmap OR "
    "across build shards); the probe side pre-aggregates to "
    "distinct keys before any filter math — at 100 TB this audit "
    "IS the decision to enable the runtime filter for a given join.",
)
def b170_runtime_filter_reduction_audit(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.kmv import (
        portable_hash48)

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    build = (orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit(_RF_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_RF_HI).cast("timestamp")))
        .select(F.col("o_orderkey").alias("key")).distinct())
    probe = (li.groupBy(F.col("l_orderkey").alias("key"))
             .agg(F.count("*").alias("nrows")))

    def positions(df: DataFrame) -> DataFrame:
        pos = [portable_hash48(
                   F.concat_ws("#", F.lit(str(j)),
                               F.col("key").cast("string")))
               % F.lit(_RF_M) for j in range(_RF_K)]
        return df.withColumn("pos", F.explode(F.array(*pos)))

    bits = positions(build).select("pos").distinct()
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))
    n_build = build.agg(F.count("*").cast("long").alias("build_keys"))
    pm = (positions(probe)
          .join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                "pos", "left")
          .groupBy("key")
          .agg(F.min("nrows").alias("nrows"),
               F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nset")))
    lab = (pm.join(F.broadcast(build.withColumn("is_m", F.lit(1))),
                   "key", "left")
           .select("nrows",
                   F.when(F.col("nset") == _RF_K, 1).otherwise(0)
                   .alias("pass"),
                   F.coalesce(F.col("is_m"), F.lit(0)).alias("is_match")))
    return (lab.agg(
        F.sum("nrows").cast("long").alias("probe_rows"),
        F.count("*").cast("long").alias("probe_keys"),
        F.sum(F.col("is_match") * F.col("nrows")).cast("long")
        .alias("exact_rows"),
        F.sum(F.col("pass") * F.col("nrows")).cast("long")
        .alias("pass_rows"),
        F.sum(F.when((F.col("pass") == 1) & (F.col("is_match") == 0),
                     F.col("nrows")).otherwise(0)).cast("long")
        .alias("false_pass_rows"),
        F.expr("(sum(nrows) - sum(pass * nrows)) * 1000000 "
               "div sum(nrows)").cast("long").alias("reduction_ppm"))
        .crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .withColumn("bit_density_ppm",
                    F.expr(f"bits_set * 1000000 div {_RF_M}")
                    .cast("long"))
        .select("probe_rows", "probe_keys", "build_keys", "bits_set",
                "exact_rows", "pass_rows", "false_pass_rows",
                "reduction_ppm", "bit_density_ppm"))
