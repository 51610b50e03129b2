"""Round-5 additions: ordered string aggregation, blocked fuzzy
(edit-distance) join, discrete quantiles, day-over-day growth,
compression-ratio quality scoring, and exact-substring
decontamination.

Analytics (b73-b76):
- b73: ordered LISTAGG / STRING_AGG — Snowflake `LISTAGG(x, ',')
  WITHIN GROUP (ORDER BY ...)` analogue.  Spark has no ordered
  collect, so the canonical recipe is collect_list of a sort-key
  struct -> array_sort -> transform -> array_join; deterministic
  regardless of partitioning because the sort happens AFTER the
  unordered collect.
- b74: fuzzy record-linkage join (edit distance).  The scale-smart
  shape: collapse to DISTINCT strings first (fuzzy-join cost then
  depends on |vocabulary|, not |rows|), length-band blocking with
  band±1 candidate expansion (provably lossless: lev<=2 bounds the
  length delta by 2 < band width 3), exact levenshtein verify, then
  re-expand pair multiplicities from the per-string counts.
- b75: discrete quantiles (percentile_disc / DuckDB quantile_disc):
  the smallest element with cume_dist >= p, i.e. the 1-based
  ceil(p*n)-th element of the sorted list.  Spark has percentile
  (interpolating) but no disc form — composed here as
  element_at(array_sort(collect_list(x)), ceil(p*n)).
- b76: day-over-day growth — lag over a per-(type, day) integer-cents
  pre-aggregate; growth in ppm via truncating integer division so
  both engines agree bit-for-bit.

Curation (c59-c60):
- c59: zlib compression-ratio quality signal (Gopher-family filter:
  near-incompressible text is noise/markup/random, ultra-compressible
  text is boilerplate/repetition).  DuckDB has no zlib, so the
  registry entry is rows-only; tests/test_rows_only_references.py
  checks the mapInPandas output byte-exactly against direct python zlib on every
  sf0.001 doc.
- c60: exact-substring decontamination (the GPT-3/PaLM appendix
  method: drop training docs sharing a long exact substring with an
  eval set).  Needles derive deterministically from the corpus (first
  12 chars of the 10 longest docs); containment via instr over a
  broadcast needle table.

Engine-parity conventions follow driver_queries: BIGINT casts,
floor(value*100) integer cents, truncating `div`, identical aliases
both sides.  Reference parity: the KPI aggregation tier mirrors
README.md:116-129 of the reference (tp-airflow-gtfs-snowflake); the
curation tier is the charter's LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    REGISTRY, _register, _t)


@_register(
    "b73_sorted_listagg",
    """
    WITH spend AS (
      SELECT event_type, user_id,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, user_id, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents DESC, user_id) AS rn
      FROM spend
    )
    SELECT event_type,
           string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY rn)
             AS top_users_csv,
           CAST(sum(cents) AS BIGINT) AS top_cents
    FROM ranked WHERE rn <= 5
    GROUP BY event_type
    """,
    "ordered LISTAGG/STRING_AGG (Snowflake WITHIN GROUP analogue): "
    "top-5 spenders per event type as a deterministic csv.  Spark has "
    "no ordered collect, so: collect_list(struct(-cents, user_id)) -> "
    "array_sort -> slice 5 -> transform -> array_join, ONE hash "
    "aggregate after the per-(type,user) pre-agg.  The collect is "
    "bounded per group by the slice; at 100 TB cap the collect FIRST "
    "with a windowed top-k when per-type user counts are unbounded",
)
def b73_sorted_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    spend = (ev.groupBy("event_type", "user_id")
             .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    # Sort key (-cents, user_id) == ORDER BY cents DESC, user_id; the
    # array sort runs after the unordered collect, so the result is
    # partitioning-independent.
    top5 = F.slice(
        F.array_sort(F.collect_list(F.struct(
            (-F.col("cents")).alias("neg"),
            F.col("user_id").alias("user_id")))), 1, 5)
    return (spend.groupBy("event_type")
            .agg(top5.alias("t"))
            .select(
                "event_type",
                F.array_join(
                    F.transform(F.col("t"),
                                lambda s: s["user_id"].cast("string")),
                    ",").alias("top_users_csv"),
                F.aggregate(F.col("t"), F.lit(0).cast("long"),
                            lambda acc, s: acc - s["neg"])
                .alias("top_cents")))


@_register(
    "b74_fuzzy_name_join",
    """
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS cnt
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name1, b.p_name AS name2,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
             AS edit_distance,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_part_pairs
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    "fuzzy record-linkage join: part-name pairs within edit distance "
    "2.  Scale shape: collapse to DISTINCT names first (64 at "
    "sf0.01 vs 2000 rows — fuzzy cost scales with vocabulary, not "
    "corpus), block on length-div-3 bands with band+-1 expansion "
    "(lossless: lev<=2 => length delta <=2 < band width), exact "
    "levenshtein verify inside the block only, multiplicities "
    "re-expanded from per-name counts.  Unlike c27 (operators/fuzzy: "
    "first-token blocking is the documented, recall-lossy SPEC), the "
    "band+-1 blocking here is LOSSLESS, so the oracle is the naive "
    "all-pairs theta join while the Spark side stays equi-join only "
    "(no cartesian) — at 100 TB vocabularies add PPJoin-style q-gram "
    "prefix blocking (c35) on top of the length bands",
)
def b74_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    names = (part.groupBy("p_name")
             .agg(F.count("*").cast("long").alias("cnt")))
    band = (F.length("p_name") / F.lit(3)).cast("long")
    # Left side probes its own band and both neighbours; right side
    # keys on its exact band -> every qualifying pair matched exactly
    # once (right key is single-valued).
    left = (names
            .withColumn("cand_band",
                        F.explode(F.array(band - 1, band, band + 1)))
            .select(F.col("p_name").alias("name1"),
                    F.col("cnt").alias("cnt1"), "cand_band"))
    right = names.select(F.col("p_name").alias("name2"),
                         F.col("cnt").alias("cnt2"),
                         band.alias("band2"))
    lev = F.levenshtein("name1", "name2")
    return (left.join(right,
                      (F.col("cand_band") == F.col("band2"))
                      & (F.col("name1") < F.col("name2")))
            .filter(lev <= 2)
            .select("name1", "name2",
                    lev.cast("long").alias("edit_distance"),
                    (F.col("cnt1") * F.col("cnt2")).cast("long")
                    .alias("n_part_pairs")))


@_register(
    "b75_quantile_disc",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           quantile_disc(CAST(floor(value * 100) AS BIGINT), 0.5)
             AS p50_cents,
           quantile_disc(CAST(floor(value * 100) AS BIGINT), 0.9)
             AS p90_cents
    FROM events GROUP BY event_type
    """,
    "discrete quantiles (percentile_disc semantics: smallest element "
    "with cume_dist >= p = 1-based ceil(p*n)-th sorted element — "
    "verified against DuckDB quantile_disc).  Spark lacks the disc "
    "form; composed as element_at(array_sort(collect_list), "
    "ceil(p*n)).  The collect materializes each group — fine for "
    "bounded groups; at 100 TB use approx_percentile or a two-pass "
    "count-then-select at the exact rank",
)
def b75_quantile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long"))

    def disc(vals, n, p):
        idx = F.ceil(n.cast("double") * F.lit(p)).cast("int")
        return F.element_at(vals, idx)

    agg = (ev.groupBy("event_type")
           .agg(F.count("*").cast("long").alias("n"),
                F.array_sort(F.collect_list("cents")).alias("vals")))
    return agg.select(
        "event_type", "n",
        disc(F.col("vals"), F.col("n"), 0.5).alias("p50_cents"),
        disc(F.col("vals"), F.col("n"), 0.9).alias("p90_cents"))


@_register(
    "b76_dod_growth",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    )
    SELECT event_type, event_date, CAST(cents AS BIGINT) AS cents,
           CAST(lag(cents) OVER w AS BIGINT) AS prev_cents,
           CAST((cents - lag(cents) OVER w) * 1000000
                // nullif(lag(cents) OVER w, 0) AS BIGINT)
             AS growth_ppm
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY event_date)
    """,
    "day-over-day growth in ppm: lag over a per-(type, day) "
    "pre-aggregate.  The window runs on the AGGREGATED relation "
    "(|types| x |days| rows), so its sort is trivial no matter how "
    "large the fact is — the standard growth-accounting shape.  "
    "Integer cents + truncating div keep both engines bit-identical",
)
def b76_dod_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.date_format("ts", "yyyy-MM-dd")
                        .alias("event_date"))
             .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    w = W.partitionBy("event_type").orderBy("event_date")
    prev = F.lag("cents").over(w)
    # DuckDB integer `//` and Spark `div` both truncate toward zero
    # (verified: -7//2 == -3 in both), so plain BIGINT div matches
    # bit-for-bit even for negative growth.
    num = (F.col("cents") - prev) * F.lit(1_000_000)
    flo = F.expr("num div prev_cents")
    return (daily
            .select("event_type", "event_date",
                    F.col("cents").cast("long").alias("cents"),
                    prev.cast("long").alias("prev_cents"),
                    num.cast("long").alias("num"))
            .withColumn(
                "growth_ppm",
                F.when(F.col("prev_cents").isNotNull()
                       & (F.col("prev_cents") != 0), flo)
                .cast("long"))
            .drop("num"))


@_register(
    "c59_compression_ratio",
    None,  # DuckDB has no zlib — rows-only; byte-exact pytest instead
    "zlib compression-ratio quality signal (Gopher-family heuristic: "
    "ratio ~1 = random/encoded noise, ratio ~0 = boilerplate "
    "repetition; keep the middle band).  Arrow-batched mapInPandas, "
    "level pinned for determinism, text never leaves the executor; "
    "per-(lang, source) aggregate of ppm ratios + band counts.  "
    "Rows-only in the driver gate (no zlib in SQL); "
    "tests/test_rows_only_references.py pins the per-doc bytes "
    "against direct "
    "python zlib at sf0.001.  Narrow map + one hash agg — scales",
)
def c59_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions.compression import (
        with_compression_ratio)
    docs = _t(spark, sf_dir, "documents")
    scored = with_compression_ratio(docs, text_col="text")
    return (scored.groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("ratio_ppm").cast("long").alias("ratio_ppm_sum"),
                 F.sum(F.when(F.col("ratio_ppm") > 900_000, 1)
                       .otherwise(0)).cast("long").alias("n_noisy"),
                 F.sum(F.when(F.col("ratio_ppm") < 300_000, 1)
                       .otherwise(0)).cast("long").alias("n_boiler"))
            .orderBy("lang", "source"))


@_register(
    "c60_exact_substring_decontam",
    """
    WITH needles AS (
      SELECT doc_id AS src_id, substr(text, 1, 12) AS needle
      FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT 10
    )
    SELECT n.src_id, n.needle,
           CAST(count(d.doc_id) AS BIGINT) AS n_contaminated
    FROM needles n LEFT JOIN documents d
      ON d.doc_id <> n.src_id AND instr(d.text, n.needle) > 0
    GROUP BY n.src_id, n.needle
    """,
    "exact-substring decontamination (GPT-3/PaLM appendix method): "
    "count corpus docs sharing a >=12-char exact substring with each "
    "eval needle.  Needles derive deterministically from the corpus "
    "(12-char prefix of the 10 longest docs).  Spark: broadcast the "
    "tiny needle table, instr containment filter, count per needle — "
    "one corpus scan however many needles.  At 100 TB with thousands "
    "of needles switch to an Aho-Corasick mapInPandas pass (one "
    "automaton, still one scan) instead of n_needles instr calls",
)
def c60_exact_substring_decontam(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    needles = (docs
               .orderBy(F.desc("n_chars"), "doc_id").limit(10)
               .select(F.col("doc_id").alias("src_id"),
                       F.substring("text", 1, 12).alias("needle")))
    hits = (docs.crossJoin(F.broadcast(needles))
            .filter((F.col("doc_id") != F.col("src_id"))
                    & (F.instr("text", F.col("needle")) > 0))
            .groupBy("src_id", "needle")
            .agg(F.count("*").cast("long").alias("n_contaminated")))
    # LEFT join semantics: needles with zero hits still appear.
    return (needles.join(hits, ["src_id", "needle"], "left")
            .select("src_id", "needle",
                    F.coalesce("n_contaminated", F.lit(0))
                    .cast("long").alias("n_contaminated")))


@_register(
    "b77_weighted_median",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
             sum(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, cents, w,
             sum(w) OVER (PARTITION BY flag ORDER BY cents) AS cum_w,
             sum(w) OVER (PARTITION BY flag) AS tot_w
      FROM v
    )
    SELECT flag, CAST(max(tot_w) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cum_w >= tot_w THEN cents END)
                AS BIGINT) AS wmedian_cents
    FROM c GROUP BY flag
    """,
    "weighted discrete median (quantity-weighted price): smallest "
    "value whose cumulative weight reaches half the total.  Shape: "
    "collapse duplicate values FIRST (per-(group, value) weight agg — "
    "the window then runs on |distinct values| rows, not |fact| "
    "rows), one running-sum window, min over qualifying values.  "
    "Exact integers end-to-end; at 100 TB the pre-collapse is the "
    "difference between sorting the fact and sorting its value "
    "histogram",
)
def b77_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = (li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100).cast("long")
            .alias("cents"))
         .agg(F.sum(F.col("l_quantity").cast("long")).alias("w")))
    wc = W.partitionBy("flag").orderBy("cents")
    wt = W.partitionBy("flag")
    c = v.select(
        "flag", "cents",
        F.sum("w").over(wc).alias("cum_w"),
        F.sum("w").over(wt).alias("tot_w"))
    return (c.groupBy("flag")
            .agg(F.max("tot_w").cast("long").alias("total_weight"),
                 F.min(F.when(2 * F.col("cum_w") >= F.col("tot_w"),
                              F.col("cents"))).cast("long")
                 .alias("wmedian_cents")))


@_register(
    "b78_reset_cumsum",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ), seg AS (
      SELECT user_id, cents,
             sum(is_err) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS seg_id
      FROM e
    ), per_seg AS (
      SELECT user_id, seg_id, sum(cents) AS seg_cents
      FROM seg GROUP BY user_id, seg_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(max(seg_cents) AS BIGINT) AS max_segment_cents,
           CAST(arg_max(seg_cents, seg_id) AS BIGINT)
             AS last_segment_cents
    FROM per_seg GROUP BY user_id
    """,
    "flag-triggered running-sum reset (the 'counter reset' shape: "
    "odometer rollover, error-triggered session restart).  Classic "
    "two-step: segment id = cumulative count of reset flags (one "
    "per-user window), then aggregate within (user, segment).  ONE "
    "per-user shuffle feeds both steps; the reset row opens its own "
    "segment.  Per-user windows bound state; users parallelize",
)
def b78_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "error", 1).otherwise(0)
        .alias("is_err"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.withColumn("seg_id", F.sum("is_err").over(w))
    per_seg = (seg.groupBy("user_id", "seg_id")
               .agg(F.sum("cents").alias("seg_cents")))
    return (per_seg.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_segments"),
                 F.max("seg_cents").cast("long")
                 .alias("max_segment_cents"),
                 F.max_by("seg_cents", "seg_id").cast("long")
                 .alias("last_segment_cents")))


@_register(
    "c61_mislabel_candidates",
    """
    WITH q AS (
      SELECT label, i,
             CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000)
                           AS BIGINT)) AS DOUBLE)
               / count(*) / 1000000.0 AS c_val
      FROM embeddings, range(1, 65) r(i)
      GROUP BY label, i
    ), cents AS (
      SELECT label, list(c_val ORDER BY i) AS centroid
      FROM q GROUP BY label
    ), scored AS (
      SELECT e.label, e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                                          c.centroid), 6) AS cos_sim
      FROM embeddings e JOIN cents c ON e.label = c.label
    ), ranked AS (
      SELECT label, vec_id, cos_sim,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos_sim, vec_id) AS rn
      FROM scored
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id, cos_sim,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
    "mislabel-candidate mining (confident-learning direction): "
    "vectors FARTHEST from their own label centroid are the ones a "
    "human should re-check before the batch enters training.  "
    "Centroids use c20's floor-quantized exact BIGINT sums "
    "(aggregation-order-proof), ride back via a broadcast join on "
    "label (|labels| rows), cosine is a narrow map, per-label top-5 "
    "via window over |labels| small partitions.  One posexplode agg "
    "+ one broadcast join + one bounded window — scales",
)
def c61_mislabel_candidates(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.select("label", F.posexplode("embedding").alias("pos", "x"))
         .select("label", "pos",
                 F.floor(F.col("x").cast("double") * 1_000_000)
                 .cast("long").alias("xq"))
         .groupBy("label", "pos")
         .agg(F.sum("xq").alias("s"), F.count("*").alias("n")))
    cents = (q.groupBy("label")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     F.col("pos").alias("pos"),
                     (F.col("s").cast("double") / F.col("n")
                      / F.lit(1_000_000.0)).alias("v")))),
                 lambda st: st["v"]).alias("centroid")))
    scored = (emb.join(F.broadcast(cents), "label")
              .select(F.col("label").cast("long").alias("label"),
                      "vec_id",
                      F.round(cosine(F.col("embedding").cast(
                          "array<double>"), F.col("centroid")), 6)
                      .alias("cos_sim")))
    w = W.partitionBy("label").orderBy("cos_sim", "vec_id")
    return (scored.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= 5))


@_register(
    "b79_ewma_halving",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents,
             ts, event_id
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(list_reduce(list(cents ORDER BY ts, event_id),
                            (acc, x) -> (acc + x) // 2) AS BIGINT)
             AS ewma_cents
    FROM e GROUP BY user_id
    """,
    "integer EWMA (alpha=1/2 smoothing: acc' = (acc + x) div 2 — the "
    "bit-shift update real-time systems use for jitter/latency "
    "smoothing, RFC 6298 family).  Recursive smoothing is not "
    "window-expressible, but IS an ordered fold: collect the ordered "
    "per-user series once, fold left.  Integer halving truncates "
    "identically in both engines, so the result is bit-exact with no "
    "float accumulation concerns.  Per-user arrays are bounded by "
    "per-user event counts; at 100 TB fold per (user, day) and "
    "re-seed daily, or move to applyInPandasWithState for unbounded "
    "streams",
)
def b79_ewma_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("event_id"),
            F.col("cents").alias("cents")))),
        lambda s: s["cents"])
    # Fold starts from the FIRST element (list_reduce semantics), so
    # seed with element 1 and fold the tail; positive cents make
    # shiftright(acc+x, 1) == truncating (acc+x)//2.
    ewma = F.aggregate(
        F.slice(ordered, 2, F.greatest(F.size(ordered) - 1, F.lit(0))),
        F.element_at(ordered, 1),
        lambda acc, x: F.shiftright(acc + x, 1))
    return (e.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_events"),
                 ewma.cast("long").alias("ewma_cents")))


@_register(
    "b80_k_anonymity",
    """
    WITH g AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(floor(value / 10) AS BIGINT) AS value_band,
             count(*) AS k
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(min(k) AS BIGINT) AS k_min,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_risky_rows
    FROM g
    """,
    "k-anonymity audit (privacy/data-governance gate before a "
    "dataset leaves the pipeline): group by the quasi-identifier "
    "tuple (type, hour, value band), find equivalence classes "
    "smaller than k=5 — each is a re-identification risk.  Two "
    "cascaded hash aggregates, both map-side combinable; the second "
    "input is |classes| rows.  The same shape audits any QI choice; "
    "at 100 TB the QI agg is one shuffle of grouped partials",
)
def b80_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = (ev.groupBy(
            "event_type",
            F.hour("ts").cast("long").alias("hr"),
            F.floor(F.col("value") / 10).cast("long")
            .alias("value_band"))
         .agg(F.count("*").alias("k")))
    return g.agg(
        F.min("k").cast("long").alias("k_min"),
        F.count("*").cast("long").alias("n_classes"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0)).cast("long")
        .alias("n_risky_classes"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long").alias("n_risky_rows"))


@_register(
    "b81_exact_corr",
    """
    WITH m AS (
      SELECT l_returnflag AS flag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS syy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS corr_qty_price
    FROM m
    """,
    "exact Pearson correlation from BIGINT moment sums: built-in "
    "corr() accumulates doubles whose result depends on partition "
    "order (not reproducible run-to-run on a cluster); the moment "
    "form sums exact integers (order-proof), then evaluates the "
    "closed formula once per group in DOUBLE.  One map-side- "
    "combinable aggregate; the moments are also the mergeable "
    "partial state for incremental refresh",
)
def b81_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100).cast("long")
    m = (li.groupBy(F.col("l_returnflag").alias("flag"))
         .agg(F.count("*").alias("n"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
              F.sum(x * y).alias("sxy")))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = ((nd * F.col("sxy") - sx * F.col("sy"))
            / F.sqrt((nd * F.col("sxx") - sx * F.col("sx"))
                     * (nd * F.col("syy") - sy * F.col("sy"))))
    return m.select("flag", F.col("n").cast("long").alias("n"),
                    F.round(corr, 6).alias("corr_qty_price"))


@_register(
    "c62_template_detection",
    """
    WITH sig AS (
      SELECT doc_id, text,
             md5(array_to_string(
                   list_transform(
                     list_slice(string_split_regex(trim(text), ' +'),
                                1, 6),
                     x -> CAST(length(x) AS VARCHAR)),
                   ',')) AS structure_sig
      FROM documents
    )
    SELECT structure_sig,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS example_doc_id
    FROM sig
    GROUP BY structure_sig
    HAVING count(*) >= 2 AND count(DISTINCT text) > 1
    """,
    "template/boilerplate mining: docs sharing a STRUCTURAL "
    "signature (here: the length pattern of the first 6 tokens — "
    "the shared-opening/header heuristic) while differing in "
    "content are template instantiations — mail-merge pages, "
    "scaffolded spam — that near-dup text measures miss when the "
    "fill-ins diverge.  Signature is a narrow map (split once, "
    "slice, transform, hash); one hash agg; HAVING keeps "
    "multi-variant groups (non-vacuous: 44 groups at sf0.01).  The "
    "128-bit signature shuffles instead of the text — same scale "
    "contract as c01 exact dedup; widen the slice (or drop it) as "
    "template length demands",
)
def c62_template_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sig = F.md5(F.array_join(
        F.transform(
            F.slice(F.split(F.trim(F.col("text")), " +"), 1, 6),
            lambda x: F.length(x).cast("string")),
        ","))
    return (docs.select(sig.alias("structure_sig"), "doc_id", "text")
            .groupBy("structure_sig")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("text").cast("long").alias("n_variants"),
                 F.min("doc_id").cast("long").alias("example_doc_id"))
            .filter((F.col("n_docs") >= 2) & (F.col("n_variants") > 1)))


@_register(
    "b82_right_outer_join",
    """
    SELECT p.p_brand,
           CAST(count(DISTINCT p.p_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT CASE WHEN l.l_orderkey IS NULL
                                    THEN p.p_partkey END) AS BIGINT)
             AS n_never_shipped,
           CAST(coalesce(sum(CAST(floor(l.l_extendedprice * 100)
                                  AS BIGINT)), 0) AS BIGINT)
             AS shipped_cents
    FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    "RIGHT OUTER join (completes the join-type matrix next to b12 "
    "anti / b24 full / b28 semi / b70 null-safe): every part "
    "survives, unshipped parts carry NULL lineitem columns and are "
    "counted separately.  Catalyst canonicalizes right-to-left "
    "outer, so the physical plan is the mirrored LEFT outer with the "
    "small side broadcast when it fits; the aggregate is one "
    "map-side-combinable pass",
)
def b82_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey, "right_outer")
    return (j.groupBy("p_brand")
            .agg(F.countDistinct("p_partkey").cast("long")
                 .alias("n_parts"),
                 F.countDistinct(
                     F.when(F.col("l_orderkey").isNull(),
                            F.col("p_partkey"))).cast("long")
                 .alias("n_never_shipped"),
                 F.coalesce(
                     F.sum(F.floor(F.col("l_extendedprice") * 100)
                           .cast("long")), F.lit(0)).cast("long")
                 .alias("shipped_cents")))


@_register(
    "b83_quantile_band_classify",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), bounds AS (
      SELECT flag,
             quantile_disc(cents, 0.25) AS q1,
             quantile_disc(cents, 0.50) AS q2,
             quantile_disc(cents, 0.75) AS q3
      FROM v GROUP BY flag
    )
    SELECT v.flag,
           CAST(CASE WHEN cents <= q1 THEN 1
                     WHEN cents <= q2 THEN 2
                     WHEN cents <= q3 THEN 3
                     ELSE 4 END AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS band_cents
    FROM v JOIN bounds ON v.flag = bounds.flag
    GROUP BY 1, 2
    """,
    "classify-by-computed-boundary: per-group quartile fences from a "
    "first pass (b75's disc-quantile recipe), broadcast-joined back "
    "onto the fact for banding, then a banded aggregate.  The "
    "boundary relation is |groups| rows — always broadcastable — so "
    "the fact is scanned twice but shuffled once (the final agg); at "
    "100 TB replace pass 1 with approx_percentile partials and the "
    "same join-back",
)
def b83_quantile_band_classify(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(F.col("l_returnflag").alias("flag"),
                  F.floor(F.col("l_extendedprice") * 100).cast("long")
                  .alias("cents"))

    def disc(vals, n, p):
        return F.element_at(
            vals, F.ceil(n.cast("double") * F.lit(p)).cast("int"))

    agg = (v.groupBy("flag")
           .agg(F.count("*").alias("n"),
                F.array_sort(F.collect_list("cents")).alias("vals")))
    bounds = agg.select(
        "flag",
        disc(F.col("vals"), F.col("n"), 0.25).alias("q1"),
        disc(F.col("vals"), F.col("n"), 0.50).alias("q2"),
        disc(F.col("vals"), F.col("n"), 0.75).alias("q3"))
    band = (F.when(F.col("cents") <= F.col("q1"), 1)
            .when(F.col("cents") <= F.col("q2"), 2)
            .when(F.col("cents") <= F.col("q3"), 3)
            .otherwise(4)).cast("long")
    return (v.join(F.broadcast(bounds), "flag")
            .withColumn("band", band)
            .groupBy("flag", "band")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum("cents").cast("long").alias("band_cents")))


@_register(
    "c63_embedding_qa_audit",
    """
    WITH per_vec AS (
      SELECT label, vec_id,
             CAST(len(embedding) AS BIGINT) AS dim,
             list_sum(list_transform(
               embedding::DOUBLE[],
               x -> CAST(floor(x * x * 1000000000000) AS BIGINT)))
               AS normsq_q
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
           CAST(min(normsq_q) AS BIGINT) AS min_normsq_q,
           CAST(max(normsq_q) AS BIGINT) AS max_normsq_q,
           CAST(sum(normsq_q) // count(*) AS BIGINT) AS avg_normsq_q,
           CAST(sum(CASE WHEN normsq_q = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_vecs
    FROM per_vec GROUP BY label
    """,
    "embedding-table QA gate (run before any ANN/dedup consumer): "
    "per label — vector count, dimension consistency (n_distinct_dims "
    "must be 1), norm-squared distribution, and zero-vector count "
    "(zero vectors poison cosine math with division by zero).  "
    "Element-wise floor(x^2 * 1e12) quantization makes the per-vector "
    "sum an exact BIGINT — aggregation-order-proof, same contract as "
    "c20 centroids.  Narrow per-row HOF + one hash agg: scales "
    "linearly, no shuffle of the vectors themselves",
)
def c63_embedding_qa_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    normsq_q = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(x * x * F.lit(1e12)).cast("long"))
    per_vec = emb.select(
        F.col("label").cast("long").alias("label"), "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        normsq_q.alias("normsq_q"))
    return (per_vec.groupBy("label")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.countDistinct("dim").cast("long")
                 .alias("n_distinct_dims"),
                 F.min("normsq_q").cast("long").alias("min_normsq_q"),
                 F.max("normsq_q").cast("long").alias("max_normsq_q"),
                 F.expr("sum(normsq_q) div count(*)").cast("long")
                 .alias("avg_normsq_q"),
                 F.sum(F.when(F.col("normsq_q") == 0, 1).otherwise(0))
                 .cast("long").alias("n_zero_vecs")))


@_register(
    "b84_event_motifs",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS e1, e2, e3,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_occurrences DESC, e1, e2, e3
    LIMIT 10
    """,
    "behavioral motif mining: top-10 consecutive event-type TRIPLES "
    "per user stream (the 3-gram extension of b45's pair-transition "
    "matrix — funnels and abuse patterns surface as over-represented "
    "motifs).  One per-user window feeding two leads, one hash agg "
    "over at most |types|^3 groups, TakeOrderedAndProject top-k.  "
    "Per-user window state is two rows deep — streams and scales",
)
def b84_event_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type").over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (s.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
            .groupBy("e1", "e2", "e3")
            .agg(F.count("*").cast("long").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), "e1", "e2", "e3")
            .limit(10))


@_register(
    "b85_chisq_independence",
    """
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS iso_dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, iso_dow, o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY iso_dow) AS ct,
             sum(o) OVER () AS n
      FROM cells
    )
    SELECT CAST(max(n) AS BIGINT) AS n_events,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT iso_dow) - 1) AS BIGINT) AS dof,
           CAST(sum(CAST(floor(
                 (o - rt * ct * 1.0 / n) * (o - rt * ct * 1.0 / n)
                 / (rt * ct * 1.0 / n) * 1000000) AS BIGINT))
                AS BIGINT) AS chi2_ppm
    FROM tot
    """,
    "chi-square independence test between event type and ISO "
    "weekday (the 'is traffic composition day-dependent' audit).  "
    "Observed counts are exact BIGINTs; each cell's (o-e)^2/e "
    "contribution is computed in DOUBLE from those ints (identical "
    "inputs both engines), floor-quantized to ppm PER CELL, then "
    "integer-summed — aggregation-order-proof like c20.  Physically: "
    "one fact aggregate to |types x days| cells, windows over that "
    "tiny relation, one final fold.  The fact is shuffled once",
)
def b85_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = (ev.groupBy("event_type",
                        (F.weekday("ts") + 1).cast("long")
                        .alias("iso_dow"))
             .agg(F.count("*").cast("long").alias("o")))
    tot = cells.select(
        "event_type", "iso_dow", "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(W.partitionBy("iso_dow")).alias("ct"),
        F.sum("o").over(W.partitionBy()).alias("n"))
    e = (F.col("rt") * F.col("ct") * F.lit(1.0) / F.col("n"))
    contrib = F.floor((F.col("o") - e) * (F.col("o") - e) / e
                      * F.lit(1_000_000)).cast("long")
    return tot.agg(
        F.max("n").cast("long").alias("n_events"),
        ((F.countDistinct("event_type") - 1)
         * (F.countDistinct("iso_dow") - 1)).cast("long").alias("dof"),
        F.sum(contrib).cast("long").alias("chi2_ppm"))


# Benford first-digit expectation, ppm of log10(1 + 1/d) — hardcoded
# literals on BOTH sides so no libm rounding difference can leak in.
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181,
                66947, 58019, 51153, 45757]


@_register(
    "b86_benford_digit_audit",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE floor(value * 100) >= 1
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), exp AS (
      SELECT * FROM (VALUES
        {", ".join(f"({i + 1}, {p})" for i, p in enumerate(_BENFORD_PPM))}
      ) e(digit, expected_ppm)
    )
    SELECT exp.digit, coalesce(obs.n, 0) AS n,
           CAST(coalesce(obs.n, 0) * 1000000
                // (SELECT sum(n) FROM obs) AS BIGINT) AS observed_ppm,
           CAST(expected_ppm AS BIGINT) AS expected_ppm,
           CAST(abs(coalesce(obs.n, 0) * 1000000
                    // (SELECT sum(n) FROM obs) - expected_ppm)
                AS BIGINT) AS abs_dev_ppm
    FROM exp LEFT JOIN obs ON exp.digit = obs.digit
    """,
    "Benford first-digit audit (fraud/synthetic-data detector: "
    "organic magnitudes follow log10(1+1/d); fabricated ones "
    "usually don't).  Expected ppm are LITERALS on both sides — no "
    "libm log10 in the query, so no cross-engine rounding risk.  "
    "One digit extraction (narrow), one 9-group agg, scalar total "
    "join-back (broadcast).  The LEFT join from the literal digit "
    "spine keeps zero-count digits visible",
)
def b86_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    d = (ev.filter(cents >= 1)
         .select(F.substring(cents.cast("string"), 1, 1).cast("long")
                 .alias("digit")))
    obs = d.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    total = obs.agg(F.sum("n").alias("tot"))
    spine = (_t(spark, sf_dir, "events").sparkSession
             .createDataFrame([(i + 1, p) for i, p in
                               enumerate(_BENFORD_PPM)],
                              "digit long, expected_ppm long"))
    j = (spine.join(obs, "digit", "left")
         .crossJoin(F.broadcast(total))
         .select("digit",
                 F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                 F.expr("coalesce(n, 0) * 1000000 div tot").cast("long")
                 .alias("observed_ppm"),
                 F.col("expected_ppm").cast("long").alias("expected_ppm")))
    return j.withColumn(
        "abs_dev_ppm",
        F.abs(F.col("observed_ppm") - F.col("expected_ppm"))
        .cast("long"))


@_register(
    "c64_source_overlap_matrix",
    """
    WITH t AS (
      SELECT source, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS sh
      FROM t
    ), sizes AS (
      SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    ), common AS (
      SELECT a.source AS src1, b.source AS src2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src1, src2, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000
                // (x.n_sh + y.n_sh - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM common JOIN sizes x ON x.source = src1
                JOIN sizes y ON y.source = src2
    WHERE n_common * 1000000 // (x.n_sh + y.n_sh - n_common) >= 10000
    """,
    "source-level corpus overlap matrix: exact 3-gram-shingle "
    "Jaccard between every SOURCE pair (>=1% ppm cut) — the "
    "dataset-composition diagnostic run before mixing sources into "
    "a training blend (near-identical sources waste budget; c34's "
    "mixture weights assume distinct distributions).  Inverted-"
    "index equi-join on shingle over DISTINCT (source, shingle) "
    "rows: pairs-per-shingle is bounded by |sources|^2 (not docs), "
    "so the join output is |shingles| x O(|sources|^2) worst case — "
    "at larger source counts swap in per-source MinHash partials "
    "(b41's mergeable-sketch pattern) for the same matrix "
    "approximately",
)
def c64_source_overlap_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        token_shingles)
    docs = _t(spark, sf_dir, "documents")
    sh = (docs.select("source",
                      F.explode(token_shingles(F.col("text"), 3))
                      .alias("sh"))
          .distinct())
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("src1"), "sh")
    b = sh.select(F.col("source").alias("src2"), "sh")
    common = (a.join(b, "sh")
              .filter(F.col("src1") < F.col("src2"))
              .groupBy("src1", "src2")
              .agg(F.count("*").cast("long").alias("n_common")))
    x = sizes.select(F.col("source").alias("src1"),
                     F.col("n_sh").alias("n1"))
    y = sizes.select(F.col("source").alias("src2"),
                     F.col("n_sh").alias("n2"))
    out = (common.join(F.broadcast(x), "src1")
           .join(F.broadcast(y), "src2")
           .withColumn("jaccard_ppm",
                       F.expr("n_common * 1000000 "
                              "div (n1 + n2 - n_common)").cast("long")))
    return (out.filter(F.col("jaccard_ppm") >= 10_000)
            .select("src1", "src2", "n_common", "jaccard_ppm"))


@_register(
    "c64b_source_overlap_sketched",
    """
    WITH t AS (
      SELECT source, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT source AS g,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS sh
      FROM t
    ), hh AS (
      SELECT DISTINCT g,
             CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
      FROM sh
    ), r AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM hh
    ), agg AS (
      SELECT g, count(*) AS nh,
             CASE WHEN count(*) >= 256
                  THEN max(CASE WHEN rn = 256 THEN h END)
                  ELSE 281474976710656 END AS theta
      FROM r WHERE rn <= 256 GROUP BY g
    ), est AS (
      SELECT g, theta,
             CASE WHEN nh < 256 THEN nh
                  ELSE 255 * 281474976710656 // theta END AS est
      FROM agg
    ), ret AS (
      SELECT g, h FROM r WHERE rn <= 256
    ), spine AS (
      SELECT a.g AS src1, b.g AS src2,
             least(a.theta, b.theta) AS cth, a.est AS e1, b.est AS e2
      FROM est a JOIN est b ON a.g < b.g
    ), common AS (
      SELECT s.src1, s.src2, count(*) AS c
      FROM spine s
      JOIN ret ra ON ra.g = s.src1
      JOIN ret rb ON rb.g = s.src2 AND rb.h = ra.h
      WHERE ra.h < s.cth
      GROUP BY s.src1, s.src2
    )
    SELECT s.src1 AS src1, s.src2 AS src2,
           CAST(coalesce(c.c, 0) * 281474976710656 // s.cth AS BIGINT)
             AS est_inter,
           CAST(coalesce(c.c, 0) * 281474976710656 // s.cth * 1000000
                // (s.e1 + s.e2
                    - coalesce(c.c, 0) * 281474976710656 // s.cth)
                AS BIGINT) AS jaccard_est_ppm
    FROM spine s
    LEFT JOIN common c ON c.src1 = s.src1 AND c.src2 = s.src2
    ORDER BY s.src1, s.src2
    """,
    "c64's docstring escape hatch, implemented (r03 verdict item 7): "
    "source-overlap matrix from per-source KMV/theta sketches "
    "instead of the exact inverted-index self-join.  Each source "
    "collapses to a k=256 sketch of its distinct 3-gram shingles "
    "(one Arrow partial pass + one k-bounded merge agg — the ONLY "
    "work proportional to the corpus), and the |sources|^2 pairwise "
    "stage is array math over tiny sketch rows: at 1000s of sources "
    "the c64 join's |shingles| x |sources|^2 blowup disappears.  "
    "Portable md5-48 hash + truncating-integer estimators make it "
    "VALUE-HASH oracled (the b102/b103 pattern), not merely "
    "rows-only as charted; accuracy vs exact c64 is pinned in "
    "tests/test_driver_queries.py",
)
def c64b_source_overlap_sketched(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import kmv as _kmv
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        token_shingles)
    docs = _t(spark, sf_dir, "documents")
    sh = (docs.select(F.col("source").alias("g"),
                      F.explode(token_shingles(F.col("text"), 3))
                      .alias("sh"))
          .distinct())
    hashed = sh.select(
        "g", _kmv.portable_hash48(F.col("sh")).alias("h")).distinct()
    sk = _kmv.kmv_sketch(hashed, "g", "h", k=256)
    # est (|sources| rows) feeds BOTH legs of the non-equi self-join
    # below, which compiles to a BroadcastNestedLoopJoin: one leg
    # streams, the other builds a BroadcastExchange — different
    # exchange kinds, so AQE exchange reuse cannot share the final
    # sketch/estimate stages and they replay on the broadcast build.
    # Lazy cut -> one evaluation (interleaved A/B at sf0.1: opt won
    # 7-8 of 11 pairs, min 2.76 -> 2.42 s idle-ish / 3.85 -> 2.66 s
    # contended, results identical, r11); tiny relation, trivially
    # bounded, never SinglePartition un-aggregated.
    est = _kmv.with_distinct_estimate(sk, 256).localCheckpoint(
        eager=False)
    a = est.select(F.col("g").alias("src1"),
                   F.col("sketch").alias("sketch_a"),
                   F.col("est").alias("e1"))
    b = est.select(F.col("g").alias("src2"),
                   F.col("sketch").alias("sketch_b"),
                   F.col("est").alias("e2"))
    spine = a.join(b, F.col("src1") < F.col("src2"))
    out = _kmv.with_intersect_estimate(spine, 256)
    return (out.withColumn(
        "jaccard_est_ppm",
        F.expr("est_inter * 1000000 div (e1 + e2 - est_inter)")
        .cast("long"))
        .select("src1", "src2",
                F.col("est_inter").cast("long").alias("est_inter"),
                "jaccard_est_ppm"))


@_register(
    "c65_effective_token_yield",
    """
    WITH canon AS (
      SELECT min(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)
    ), toks AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
               AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN keep_id IS NOT NULL THEN n_tok ELSE 0 END)
                AS BIGINT) AS effective_tokens,
           CAST(sum(CASE WHEN keep_id IS NOT NULL THEN n_tok ELSE 0 END)
                * 1000000 // sum(n_tok) AS BIGINT) AS yield_ppm
    FROM toks LEFT JOIN canon ON doc_id = keep_id
    GROUP BY source
    """,
    "effective token yield per source: tokens surviving exact "
    "dedup (md5 canonical, min-doc_id keeper) over raw tokens — "
    "the 'how much of this source is actually new data' metric "
    "that decides acquisition priorities (a 400k-ppm source is "
    "60% duplicate weight).  Canonical set = c01's hash-groupBy "
    "contract (128-bit keys shuffle, text never does); survivors "
    "found via LEFT semi-ish join on doc_id, one final per-source "
    "agg.  Composes c01 x c03e into a decision-grade rollup",
)
def c65_effective_token_yield(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    canon = (docs.groupBy(F.md5("text"))
             .agg(F.min("doc_id").alias("keep_id")))
    toks = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), " +")).cast("long")
        .alias("n_tok"))
    j = toks.join(canon, toks.doc_id == canon.keep_id, "left")
    kept = F.when(F.col("keep_id").isNotNull(), F.col("n_tok")) \
            .otherwise(0)
    return (j.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("raw_tokens"),
                 F.sum(kept).cast("long").alias("effective_tokens"))
            .withColumn("yield_ppm",
                        F.expr("effective_tokens * 1000000 "
                               "div raw_tokens").cast("long")))


@_register(
    "c66_quality_classifier", None,
    "model-based quality filtering (the fastText/CCNet-style "
    "classifier gate: train a linear model on cheap text features "
    "against weak labels, score the whole corpus, keep the "
    "high-probability tail).  Weak label = lang=='en' (the "
    "high-resource-class proxy); features are c03's native-SQL "
    "stats (token count, avg token length, stopword ppm, digit "
    "ppm) — NOT the label.  pyspark.ml LogisticRegression, fixed "
    "hyperparameters; scoring is a narrow map over the fitted "
    "model.  rows-only (iterative LBFGS has no SQL twin); pytest "
    "pins class separation + probability bounds + rerun "
    "determinism.  At 100 TB: fit on a sample (the model is 5 "
    "floats), score everywhere — exactly how production quality "
    "gates deploy",
)
def c66_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    n_tok = F.size(toks)
    stop = F.size(F.filter(
        toks, lambda x: x.isin("the", "a", "of", "and", "in")))
    n_char = F.length(F.col("text"))
    n_digit = (n_char - F.length(F.regexp_replace("text", r"[0-9]", "")))
    feats = docs.select(
        "doc_id", "lang", "source",
        (F.col("lang") == "en").cast("double").alias("label"),
        n_tok.cast("double").alias("f_ntok"),
        (n_char.cast("double") / n_tok).alias("f_avg_tok_len"),
        (stop.cast("double") / n_tok).alias("f_stop_ratio"),
        (n_digit.cast("double") / n_char).alias("f_digit_ratio"))
    va = VectorAssembler(
        inputCols=["f_ntok", "f_avg_tok_len", "f_stop_ratio",
                   "f_digit_ratio"],
        outputCol="features")
    data = va.transform(feats)
    lr = LogisticRegression(maxIter=25, regParam=0.1,
                            featuresCol="features", labelCol="label")
    model = lr.fit(data)
    # Score NATIVELY from the extracted coefficients instead of
    # model.transform: (a) the model is literally 5 doubles — inline
    # them as expressions and scoring is whole-stage-codegen'd with
    # no ML wrapper on the executors; (b) in Spark 4.1 the fitted
    # model's training summary pins the SparkSession, and once any
    # Observation has registered, serializing that closure throws
    # "Task not serializable: ObservationManager".
    wts = [float(w) for w in model.coefficients.toArray()]
    b0 = float(model.intercept)
    cols = ["f_ntok", "f_avg_tok_len", "f_stop_ratio", "f_digit_ratio"]
    z = F.lit(b0)
    for w, c in zip(wts, cols):
        z = z + F.lit(w) * F.col(c)
    prob_pos = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (feats
            .select("lang", prob_pos.alias("p"),
                    (prob_pos >= 0.5).cast("long").alias("pred"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("pred").cast("long").alias("n_pred_quality"),
                 F.round(F.avg("p"), 3).alias("mean_quality_prob"))
            .orderBy("lang"))


@_register(
    "b87_topk_other_rollup",
    """
    WITH rev AS (
      SELECT p.p_brand,
             sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), ranked AS (
      SELECT p_brand, cents,
             row_number() OVER (ORDER BY cents DESC, p_brand) AS rn
      FROM rev
    )
    SELECT CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END AS brand,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(min(rn) AS BIGINT) AS best_rank
    FROM ranked
    GROUP BY CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END
    """,
    "top-k-plus-OTHER rollup (the reporting staple: top 5 brands by "
    "revenue, everything else collapsed into one residual row so "
    "totals still reconcile).  Rank runs over the |brands| "
    "pre-aggregate (tiny), never the fact; relabel + re-aggregate "
    "costs one more pass over |brands| rows.  The fact is shuffled "
    "once (the brand agg), with the part dim broadcast",
)
def b87_topk_other_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .groupBy("p_brand")
           .agg(F.sum(F.floor(F.col("l_extendedprice") * 100)
                      .cast("long")).alias("cents")))
    w = W.orderBy(F.desc("cents"), "p_brand")
    ranked = rev.withColumn("rn", F.row_number().over(w))
    brand = F.when(F.col("rn") <= 5, F.col("p_brand")) \
             .otherwise("OTHER")
    return (ranked.groupBy(brand.alias("brand"))
            .agg(F.sum("cents").cast("long").alias("cents"),
                 F.count("*").cast("long").alias("n_brands"),
                 F.min("rn").cast("long").alias("best_rank")))


@_register(
    "c67_target_encoding",
    """
    WITH e AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ), g AS (
      SELECT event_type, sum(cents) AS s, count(*) AS n
      FROM e GROUP BY event_type
    ), loo AS (
      SELECT e.event_type,
             (s - cents) * 1000000 // nullif(n - 1, 0) AS loo_ppm
      FROM e JOIN g USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(loo_ppm) AS BIGINT) AS min_loo_ppm,
           CAST(max(loo_ppm) AS BIGINT) AS max_loo_ppm,
           CAST(sum(loo_ppm) // count(*) AS BIGINT) AS avg_loo_ppm
    FROM loo GROUP BY event_type
    """,
    "leave-one-out target encoding (the ML feature-engineering "
    "transform for high-cardinality categoricals: each row gets its "
    "category's mean target EXCLUDING itself, preventing target "
    "leakage).  The per-category (sum, count) is one map-side- "
    "combinable agg; the per-row encode is a broadcast join-back + "
    "narrow arithmetic — the fact never shuffles twice.  Integer "
    "cents x ppm with truncating div: bit-exact both engines.  "
    "Summarized per category here (min/max/avg of the encodings) to "
    "keep the output decision-grade",
)
def c67_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"))
    g = e.groupBy("event_type").agg(F.sum("cents").alias("s"),
                                    F.count("*").alias("n"))
    loo = (e.join(F.broadcast(g), "event_type")
           .select("event_type",
                   F.expr("(s - cents) * 1000000 div nullif(n - 1, 0)")
                   .alias("loo_ppm")))
    return (loo.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("loo_ppm").cast("long").alias("min_loo_ppm"),
                 F.max("loo_ppm").cast("long").alias("max_loo_ppm"),
                 F.expr("sum(loo_ppm) div count(*)").cast("long")
                 .alias("avg_loo_ppm")))


@_register(
    "c68_skipgram_pairs",
    """
    WITH t AS (
      SELECT string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), p1 AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || '|' || toks[i+1])) AS pair
      FROM t
    ), p2 AS (
      SELECT unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || '|' || toks[i+2])) AS pair
      FROM t
    ), allp AS (
      SELECT pair FROM p1 UNION ALL SELECT pair FROM p2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_cooc
    FROM allp GROUP BY pair
    ORDER BY n_cooc DESC, pair
    LIMIT 20
    """,
    "skip-gram co-occurrence extraction (word2vec/GloVe training-"
    "pair generation, window +-2 forward): distance-1 and "
    "distance-2 token pairs from every doc, counted corpus-wide, "
    "top-20.  Pairs come from zip_with over SHIFTED SLICES of the "
    "tokenized array (the 5-10x-faster bulk-array idiom from the "
    "shingle path — no transform(sequence)+element_at), so pair "
    "generation is a narrow map; one hash agg + "
    "TakeOrderedAndProject.  At 100 TB emit (pair, partial-count) "
    "combiners — exactly what this plan already does",
)
def c68_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    t = docs.select(toks.alias("toks"))

    def shifted_pairs(offset):
        n = F.size(F.col("toks"))
        a = F.slice(F.col("toks"), 1,
                    F.greatest(n - offset, F.lit(0)))
        b = F.slice(F.col("toks"), 1 + offset,
                    F.greatest(n - offset, F.lit(0)))
        return F.zip_with(a, b, lambda x, y: F.concat_ws("|", x, y))

    pairs = t.select(
        F.explode(F.concat(shifted_pairs(1), shifted_pairs(2)))
        .alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count("*").cast("long").alias("n_cooc"))
            .orderBy(F.desc("n_cooc"), "pair")
            .limit(20))


@_register(
    "b88_asof_nearest",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, event_id AS click_event_id FROM events
      WHERE event_type = 'click'
    ), cand AS (
      SELECT l.event_id, r.click_event_id,
             abs(epoch_us(l.ts) - epoch_us(r.ts)) AS d,
             CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS is_fwd,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)),
                        CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END,
                        CASE WHEN r.ts <= l.ts THEN -click_event_id
                             ELSE click_event_id END) AS rn
      FROM l JOIN r ON l.user_id = r.user_id
    )
    SELECT l.event_id, l.user_id, c.click_event_id,
           CAST(c.d AS BIGINT) AS asof_dist_us,
           CASE WHEN c.is_fwd = 0 THEN 'b' ELSE 'f' END
             AS asof_direction
    FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      ON l.event_id = c.event_id
    """,
    "NEAREST-direction as-of join (pandas merge_asof "
    "direction='nearest'): each purchase matched to the click "
    "closest in time either way; equal distances prefer the earlier "
    "(backward) click, duplicate-timestamp ties resolve by event id "
    "— fully deterministic.  The oracle is the naive O(|l| x "
    "|r|/user) candidate join; the Spark side is operators/"
    "asof.asof_join_nearest — union + ONE window shuffle carrying "
    "last-preceding and first-following right rows on the same "
    "sort, distances compared at full microsecond precision.  Same "
    "single-shuffle contract as b14",
)
def b88_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.asof import (
        asof_join_nearest)
    ev = _t(spark, sf_dir, "events")
    l = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    r = (ev.filter(F.col("event_type") == "click")
         .select("user_id", "ts",
                 F.col("event_id").alias("click_event_id")))
    out = asof_join_nearest(l, r, on=["user_id"], left_ts="ts",
                            right_ts="ts",
                            right_payload=["click_event_id"],
                            order_col="click_event_id")
    return out.select("event_id", "user_id", "click_event_id",
                      F.col("asof_dist_us").cast("long")
                      .alias("asof_dist_us"), "asof_direction")


@_register(
    "c69_hapax_rate",
    """
    WITH t AS (
      SELECT source, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), tok AS (
      SELECT source, unnest(list_transform(
               range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
               AS gram
      FROM t
    ), cnt AS (
      SELECT source, gram, count(*) AS n FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hapax_ppm
    FROM cnt GROUP BY source
    """,
    "hapax-legomenon rate per source at bigram grain (vocabulary-"
    "tail health: a high singleton share means diverse/novel "
    "combinations, a collapsing one means templated or looping "
    "text; the tail sibling of c47's top-p head truncation).  "
    "Bigrams from the shifted-slice zip_with idiom (narrow), one "
    "(source, gram) agg, one per-source rollup — two shuffles of "
    "grams and groups, never documents",
)
def c69_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    cnt = (docs.select("source", F.explode(grams).alias("gram"))
           .groupBy("source", "gram")
           .agg(F.count("*").alias("n")))
    return (cnt.groupBy("source")
            .agg(F.count("*").cast("long").alias("vocab_size"),
                 F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                 .cast("long").alias("n_hapax"))
            .withColumn("hapax_ppm",
                        F.expr("n_hapax * 1000000 div vocab_size")
                        .cast("long")))


@_register(
    "b89_grid_convolution",
    """
    WITH cells AS (
      SELECT CAST(hour(ts) AS BIGINT) AS gx,
             CAST(floor(value / 5) AS BIGINT) AS gy,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.gx, a.gy, a.n,
           CAST(sum(b.n) AS BIGINT) AS neighborhood_n,
           CAST(sum(b.n) * 1000000 // 9 AS BIGINT) AS smoothed_ppm
    FROM cells a JOIN cells b
      ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
    GROUP BY a.gx, a.gy, a.n
    """,
    "sparse 2D stencil convolution (3x3 box smoothing over the "
    "(hour, value-band) event-density grid — the density-smoothing "
    "/ heatmap-blur primitive).  Spark shape is SCATTER-gather: "
    "each populated cell explodes its 9 (dx,dy) contributions, one "
    "groupBy on the target cell sums them, an inner join back to "
    "the populated set keeps the output sparse — equi-joins only, "
    "cost O(9 x |populated cells|) regardless of grid extent.  The "
    "oracle is the naive neighborhood theta self-join.  Missing "
    "neighbors contribute 0 both ways; div 9 is the fixed kernel "
    "size (boundary cells intentionally read as zero-padded)",
)
def b89_grid_convolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = (ev.groupBy(
        F.hour("ts").cast("long").alias("gx"),
        F.floor(F.col("value") / 5).cast("long").alias("gy"))
        .agg(F.count("*").cast("long").alias("n")))
    offsets = F.expr(
        "explode(array(" + ", ".join(
            f"struct({dx}L AS dx, {dy}L AS dy)"
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)) + "))")
    # scatter: cell (gx,gy,n) contributes n to target (gx+dx, gy+dy)
    contrib = (cells.select("gx", "gy", "n", offsets.alias("o"))
               .select((F.col("gx") + F.col("o.dx")).alias("tx"),
                       (F.col("gy") + F.col("o.dy")).alias("ty"),
                       "n"))
    sums = (contrib.groupBy("tx", "ty")
            .agg(F.sum("n").cast("long").alias("neighborhood_n")))
    return (cells.join(sums, (cells.gx == sums.tx)
                       & (cells.gy == sums.ty))
            .select("gx", "gy", "n", "neighborhood_n",
                    F.expr("neighborhood_n * 1000000 div 9")
                    .cast("long").alias("smoothed_ppm")))


@_register(
    "c70_containment_pairs",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS sh
      FROM t
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000 // x.n_sh AS BIGINT) AS cont1_ppm,
           CAST(n_common * 1000000 // y.n_sh AS BIGINT) AS cont2_ppm
    FROM common JOIN sizes x ON x.doc_id = d1
                JOIN sizes y ON y.doc_id = d2
    WHERE x.n_sh >= 5 AND y.n_sh >= 5
      AND greatest(n_common * 1000000 // x.n_sh,
                   n_common * 1000000 // y.n_sh) >= 600000
    """,
    "asymmetric shingle CONTAINMENT (|A∩B|/|A|): catches subset "
    "duplication — a doc quoted or expanded inside a longer one — "
    "which symmetric Jaccard (c08) under-scores precisely when the "
    "length ratio is large.  Same inverted-index equi-join as c08 "
    "(pairs sharing >=1 shingle only), both directed containments "
    "reported, >=60% either way; min-size floor keeps trivial "
    "shingle sets out.  Scale contract == c08: hot shingles bound "
    "the join, MinHash (c06) prunes candidates first at corpus "
    "scale",
)
def c70_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        token_shingles)
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select("doc_id",
                     F.explode(token_shingles(F.col("text"), 3))
                     .alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("d1"), "sh")
    b = sh.select(F.col("doc_id").alias("d2"), "sh")
    common = (a.join(b, "sh").filter(F.col("d1") < F.col("d2"))
              .groupBy("d1", "d2")
              .agg(F.count("*").cast("long").alias("n_common")))
    x = sizes.select(F.col("doc_id").alias("d1"),
                     F.col("n_sh").alias("n1"))
    y = sizes.select(F.col("doc_id").alias("d2"),
                     F.col("n_sh").alias("n2"))
    out = (common.join(x, "d1").join(y, "d2")
           .filter((F.col("n1") >= 5) & (F.col("n2") >= 5))
           .withColumn("cont1_ppm",
                       F.expr("n_common * 1000000 div n1").cast("long"))
           .withColumn("cont2_ppm",
                       F.expr("n_common * 1000000 div n2").cast("long")))
    return (out.filter(F.greatest("cont1_ppm", "cont2_ppm") >= 600_000)
            .select("d1", "d2", "n_common", "cont1_ppm", "cont2_ppm"))


@_register(
    "b90_rolling_regression",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS x,
             sum(CAST(floor(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(x AS BIGINT) AS day_num,
           CAST(n AS BIGINT) AS n_days,
           CAST((n * sxy - sx * sy) * 1000000
                // nullif(n * sxx - sx * sx, 0) AS BIGINT)
             AS slope_cents_per_day_ppm
    FROM m
    """,
    "rolling trend detection: 7-day windowed least-squares slope "
    "per event type — b67's exact-integer-moment regression moved "
    "into a RANGE frame, so every day gets the local trend of its "
    "trailing week (the drift/anomaly-onset detector).  All five "
    "moments accumulate as BIGINT window sums over the DAILY "
    "pre-aggregate (|types| x |days| rows — the window never sees "
    "the fact), one shuffle total; nullif guards the single-day "
    "degenerate frame",
)
def b90_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).cast("long")
        .alias("x"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("y")))
    w = (W.partitionBy("event_type").orderBy("x")
         .rangeBetween(-6, 0))
    m = daily.select(
        "event_type", "x", "y",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"))
    return m.select(
        "event_type", F.col("x").cast("long").alias("day_num"),
        F.col("n").cast("long").alias("n_days"),
        F.expr("(n * sxy - sx * sy) * 1000000 "
               "div nullif(n * sxx - sx * sx, 0)").cast("long")
        .alias("slope_cents_per_day_ppm"))


@_register(
    "c71_winsorized_mean",
    """
    WITH v AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ), bounds AS (
      SELECT event_type,
             quantile_disc(cents, 0.05) AS lo,
             quantile_disc(cents, 0.95) AS hi
      FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_low,
           CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_high,
           CAST(sum(greatest(least(cents, hi), lo)) // count(*)
                AS BIGINT) AS winsorized_mean_cents
    FROM v JOIN bounds ON v.event_type = bounds.event_type
    GROUP BY v.event_type
    """,
    "winsorized mean (robust stats: clamp the 5% tails to the "
    "fences instead of dropping them — keeps n stable while "
    "neutering outliers; the metric powering robust KPIs and "
    "feature scaling for training data).  Discrete-quantile fences "
    "from b75's recipe, broadcast join-back (|types| rows), one "
    "clamp aggregate — the fact shuffles once for the fences and "
    "once for the mean; at 100 TB swap pass 1 to approx_percentile "
    "partials",
)
def c71_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents"))

    def disc(vals, n, p):
        return F.element_at(
            vals, F.ceil(n.cast("double") * F.lit(p)).cast("int"))

    agg = (v.groupBy("event_type")
           .agg(F.count("*").alias("cnt"),
                F.array_sort(F.collect_list("cents")).alias("vals")))
    bounds = agg.select(
        "event_type",
        disc(F.col("vals"), F.col("cnt"), 0.05).alias("lo"),
        disc(F.col("vals"), F.col("cnt"), 0.95).alias("hi"))
    j = v.join(F.broadcast(bounds), "event_type")
    clamped = F.greatest(F.least(F.col("cents"), F.col("hi")),
                         F.col("lo"))
    return (j.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.when(F.col("cents") < F.col("lo"), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_clamped_low"),
                 F.sum(F.when(F.col("cents") > F.col("hi"), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_clamped_high"),
                 F.expr("sum(greatest(least(cents, hi), lo)) "
                        "div count(*)").cast("long")
                 .alias("winsorized_mean_cents")))


@_register(
    "b91_order_allocation",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ), o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders
    ), base AS (
      SELECT l_orderkey, l_linenumber, qty, total_cents,
             sum(qty) OVER (PARTITION BY l_orderkey) AS qty_sum,
             total_cents * qty // sum(qty) OVER (PARTITION BY l_orderkey)
               AS floor_alloc,
             total_cents * qty % sum(qty) OVER (PARTITION BY l_orderkey)
               AS rem
      FROM li JOIN o ON l_orderkey = o_orderkey
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber) AS rr,
             total_cents - sum(floor_alloc)
               OVER (PARTITION BY l_orderkey) AS shortfall
      FROM base
    )
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(floor_alloc + CASE WHEN rr <= shortfall THEN 1 ELSE 0
                              END AS BIGINT) AS alloc_cents
    FROM ranked
    """,
    "proportional allocation with exact reconciliation (largest-"
    "remainder): spread each order's total cents across its lines "
    "in proportion to quantity so the per-order sum equals the "
    "total EXACTLY — floor allocations, then +1 cent to the lines "
    "with the largest remainders until the shortfall is gone (the "
    "revenue-attribution / cost-allocation finance primitive; c45 "
    "is the global single-group cousin).  Windows partition by "
    "order key — bounded state, orders parallelize; one fact "
    "shuffle feeds every window.  All-integer: bit-exact",
)
def b91_order_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("total_cents"))
    wp = W.partitionBy("l_orderkey")
    base = (li.join(o, li.l_orderkey == o.o_orderkey)
            .withColumn("qty_sum", F.sum("qty").over(wp))
            .withColumn("floor_alloc",
                        F.expr("total_cents * qty div qty_sum"))
            .withColumn("rem", F.expr("total_cents * qty % qty_sum")))
    ranked = (base
              .withColumn("rr", F.row_number().over(
                  wp.orderBy(F.desc("rem"), "l_linenumber")))
              .withColumn("shortfall",
                          F.col("total_cents")
                          - F.sum("floor_alloc").over(wp)))
    return ranked.select(
        "l_orderkey", F.col("l_linenumber").cast("long")
        .alias("l_linenumber"),
        (F.col("floor_alloc")
         + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0))
        .cast("long").alias("alloc_cents"))


@_register(
    "b92_overlap_coefficient",
    """
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
      SELECT event_type, count(*) AS n_users FROM tu GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             count(*) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT t1, t2, CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both * 1000000 // least(x.n_users, y.n_users)
                AS BIGINT) AS overlap_ppm
    FROM pairs JOIN sizes x ON x.event_type = t1
               JOIN sizes y ON y.event_type = t2
    """,
    "overlap (Szymkiewicz-Simpson) coefficient |A∩B|/min(|A|,|B|) "
    "between event-type audiences — the set-similarity measure that "
    "stays honest when one audience dwarfs the other (Jaccard "
    "collapses toward 0, containment is directional; overlap "
    "detects 'every error-user is also a click-user' directly).  "
    "Inverted-index join on user over the DISTINCT (type, user) "
    "relation; pairs-per-user bounded by |types|^2.  Same family as "
    "c64/c70, completing the set-similarity trio",
)
def b92_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = tu.select(F.col("event_type").alias("t1"), "user_id")
    b = tu.select(F.col("event_type").alias("t2"), "user_id")
    pairs = (a.join(b, "user_id")
             .filter(F.col("t1") < F.col("t2"))
             .groupBy("t1", "t2")
             .agg(F.count("*").cast("long").alias("n_both")))
    x = sizes.select(F.col("event_type").alias("t1"),
                     F.col("n_users").alias("n1"))
    y = sizes.select(F.col("event_type").alias("t2"),
                     F.col("n_users").alias("n2"))
    return (pairs.join(F.broadcast(x), "t1").join(F.broadcast(y), "t2")
            .select("t1", "t2", "n_both",
                    F.expr("n_both * 1000000 div least(n1, n2)")
                    .cast("long").alias("overlap_ppm")))


@_register(
    "c72_dup_quality_contingency",
    """
    WITH dup AS (
      SELECT doc_id,
             CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents
    ), q AS (
      SELECT doc_id,
             CASE WHEN len(string_split_regex(trim(text), ' +'))
                       BETWEEN 30 AND 60 THEN 'mid'
                  WHEN len(string_split_regex(trim(text), ' +')) < 30
                       THEN 'short'
                  ELSE 'long' END AS len_band
      FROM documents
    )
    SELECT len_band, CAST(is_dup AS BIGINT) AS is_dup,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM dup JOIN q USING (doc_id)
    GROUP BY 1, 2
    """,
    "duplication x length-band contingency table: the 'are my "
    "duplicates concentrated in short boilerplate' confound check "
    "run before interpreting any quality metric on a deduped "
    "corpus (if dups cluster in one band, dedup silently shifts "
    "the corpus composition).  Dup flag via a count window over "
    "the md5 fingerprint (128-bit shuffle, c01's contract); band "
    "is a narrow map; one join on doc_id + one tiny agg",
)
def c72_dup_quality_contingency(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    dup = docs.select(
        "doc_id",
        F.when(F.count("*").over(
            W.partitionBy(F.md5("text"))) > 1, 1).otherwise(0)
        .cast("long").alias("is_dup"))
    n_tok = F.size(F.split(F.trim(F.col("text")), " +"))
    q = docs.select(
        "doc_id",
        F.when(n_tok.between(30, 60), "mid")
        .when(n_tok < 30, "short").otherwise("long").alias("len_band"))
    return (dup.join(q, "doc_id")
            .groupBy("len_band", "is_dup")
            .agg(F.count("*").cast("long").alias("n_docs")))


@_register(
    "b93_autocorrelation",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS x,
             sum(CAST(floor(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, y,
             lag(y) OVER (PARTITION BY event_type ORDER BY x) AS yp
      FROM daily
    ), m AS (
      SELECT event_type, count(*) AS n,
             sum(y) AS sx, sum(yp) AS sy,
             sum(y * y) AS sxx, sum(yp * yp) AS syy,
             sum(y * yp) AS sxy
      FROM lagged WHERE yp IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
             AS lag1_autocorr
    FROM m
    """,
    "lag-1 autocorrelation of daily revenue per event type (the "
    "'is today predictive of tomorrow' seasonality screen; near 0 "
    "= memoryless, near 1 = trending, negative = oscillating).  "
    "Composes the b90 daily pre-aggregate, ONE lag window over "
    "|types| x |days| rows, then b81's exact-BIGINT-moment Pearson "
    "formula on (y_t, y_{t-1}) pairs — aggregation-order-proof, "
    "closed-form evaluated once per group",
)
def b93_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).cast("long")
        .alias("x"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("y")))
    w = W.partitionBy("event_type").orderBy("x")
    lagged = (daily.withColumn("yp", F.lag("y").over(w))
              .filter(F.col("yp").isNotNull()))
    m = (lagged.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("y").alias("sx"), F.sum("yp").alias("sy"),
              F.sum(F.col("y") * F.col("y")).alias("sxx"),
              F.sum(F.col("yp") * F.col("yp")).alias("syy"),
              F.sum(F.col("y") * F.col("yp")).alias("sxy")))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = ((nd * F.col("sxy") - sx * F.col("sy"))
            / F.sqrt((nd * F.col("sxx") - sx * F.col("sx"))
                     * (nd * F.col("syy") - sy * F.col("sy"))))
    return m.select("event_type",
                    F.col("n").cast("long").alias("n_pairs"),
                    F.round(corr, 6).alias("lag1_autocorr"))


@_register(
    "c73_distribution_drift_tv",
    """
    WITH b AS (
      SELECT source,
             least(len(string_split_regex(trim(text), ' +')) // 10, 9)
               AS band
      FROM documents
    ), per_src AS (
      SELECT source, band, count(*) AS n FROM b GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, sum(n) AS tot FROM per_src GROUP BY source
    ), corpus AS (
      SELECT band, sum(n) AS cn FROM per_src GROUP BY band
    ), corpus_tot AS (
      SELECT sum(cn) AS ctot FROM corpus
    ), joined AS (
      SELECT s.source,
             abs(coalesce(p.n, 0) * 1000000 // s.tot
                 - c.cn * 1000000 // ct.ctot) AS dev_ppm
      FROM src_tot s
      CROSS JOIN corpus c
      CROSS JOIN corpus_tot ct
      LEFT JOIN per_src p ON p.source = s.source AND p.band = c.band
    )
    SELECT source, CAST(sum(dev_ppm) AS BIGINT) AS tv_x2_ppm
    FROM joined GROUP BY source
    """,
    "per-source distribution drift vs the corpus (total-variation "
    "distance x2, ppm) over token-length bands — the integer-exact "
    "stand-in for PSI/KL drift monitors (which need log and a "
    "laplace floor; TV needs neither).  Flags sources whose length "
    "profile diverges from the blend before they skew training.  "
    "Two tiny aggregates + a band-spine join; the corpus histogram "
    "broadcasts",
)
def c73_distribution_drift_tv(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    band = F.least(
        (F.size(F.split(F.trim(F.col("text")), " +")) / 10)
        .cast("long"), F.lit(9))
    per_src = (docs.select("source", band.alias("band"))
               .groupBy("source", "band")
               .agg(F.count("*").alias("n")))
    src_tot = per_src.groupBy("source").agg(F.sum("n").alias("tot"))
    corpus = per_src.groupBy("band").agg(F.sum("n").alias("cn"))
    ctot = corpus.agg(F.sum("cn").alias("ctot"))
    spine = (src_tot.crossJoin(F.broadcast(corpus))
             .crossJoin(F.broadcast(ctot)))
    j = (spine.join(per_src, ["source", "band"], "left")
         .select("source",
                 F.abs(F.expr("coalesce(n, 0) * 1000000 div tot")
                       - F.expr("cn * 1000000 div ctot"))
                 .alias("dev_ppm")))
    return (j.groupBy("source")
            .agg(F.sum("dev_ppm").cast("long").alias("tv_x2_ppm")))


@_register(
    "b94_wow_aligned_compare",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS x,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT cur.event_type, CAST(cur.x AS BIGINT) AS day_num,
           CAST(cur.cents AS BIGINT) AS cents,
           CAST(prev.cents AS BIGINT) AS cents_7d_ago,
           CAST((cur.cents - prev.cents) * 1000000
                // nullif(prev.cents, 0) AS BIGINT) AS wow_ppm
    FROM daily cur LEFT JOIN daily prev
      ON cur.event_type = prev.event_type AND prev.x = cur.x - 7
    """,
    "week-over-week CALENDAR-aligned comparison: each day vs the "
    "same weekday one week earlier via a self-equi-join on day "
    "number minus 7 — NOT lag(7) over rows, which silently "
    "misaligns whenever a day is missing from the series (the "
    "correctness trap b76's row-lag form has at gap-y data).  The "
    "join runs on the |types| x |days| pre-aggregate; missing "
    "comparisons surface as NULL rather than a wrong pairing",
)
def b94_wow_aligned_compare(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).cast("long")
        .alias("x"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("cents")))
    cur = daily.select(F.col("event_type").alias("t"),
                       F.col("x").alias("day_num"),
                       F.col("cents").alias("cents"))
    prev = daily.select(F.col("event_type").alias("t"),
                        (F.col("x") + 7).alias("day_num"),
                        F.col("cents").alias("prev_cents"))
    return (cur.join(prev, ["t", "day_num"], "left")
            .select(F.col("t").alias("event_type"),
                    F.col("day_num").cast("long").alias("day_num"),
                    F.col("cents").cast("long").alias("cents"),
                    F.col("prev_cents").cast("long")
                    .alias("cents_7d_ago"),
                    F.expr("(cents - prev_cents) * 1000000 "
                           "div nullif(prev_cents, 0)").cast("long")
                    .alias("wow_ppm")))


@_register(
    "c74_cross_lang_dups",
    """
    WITH h AS (
      SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' '))
               AS fp
      FROM documents
    )
    SELECT a.lang AS lang1, b.lang AS lang2,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(a.doc_id) AS BIGINT) AS example_doc1
    FROM h a JOIN h b
      ON a.fp = b.fp AND a.lang < b.lang
    GROUP BY a.lang, b.lang
    """,
    "cross-language duplicate mining: content with the SAME "
    "bag-of-distinct-words signature (c03b's fingerprint family — "
    "order- and repetition-insensitive, so it survives shuffled or "
    "re-segmented copies) filed under DIFFERENT language tags — "
    "either a lang-ID labeling bug (fix the labels) or genuinely "
    "language-agnostic content (code, tables) that language-"
    "partitioned dedup (c17-style stratification) would silently "
    "keep twice.  Inverted join on the md5 signature restricted to "
    "unequal langs; 128-bit keys shuffle, text never does — c01's "
    "scale contract with a partition-boundary twist",
)
def c74_cross_lang_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(
        F.array_sort(F.array_distinct(
            F.split(F.trim(F.lower(F.col("text"))), " +"))), " "))
    h = docs.select("doc_id", "lang", fp.alias("fp"))
    a = h.select(F.col("fp"), F.col("lang").alias("lang1"),
                 F.col("doc_id").alias("d1"))
    b = h.select(F.col("fp"), F.col("lang").alias("lang2"),
                 F.col("doc_id").alias("d2"))
    return (a.join(b, "fp")
            .filter(F.col("lang1") < F.col("lang2"))
            .groupBy("lang1", "lang2")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.min("d1").cast("long").alias("example_doc1")))


@_register(
    "c75_inverse_dup_weighting",
    """
    WITH counts AS (
      SELECT md5(text) AS fp, count(*) AS dup_n
      FROM documents GROUP BY md5(text)
    ), weighted AS (
      SELECT d.source, 1000000 // c.dup_n AS w_ppm
      FROM documents d JOIN counts c ON md5(d.text) = c.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w_ppm) AS BIGINT) AS weight_sum_ppm,
           CAST(sum(w_ppm) // count(*) AS BIGINT) AS mean_weight_ppm
    FROM weighted GROUP BY source
    """,
    "inverse-duplication example weighting (the soft alternative "
    "to dropping duplicates: keep every copy but weight it 1/k so "
    "k copies contribute one document's worth of gradient — used "
    "when dedup would break provenance or sharding).  Per-"
    "fingerprint counts (c01's hash-groupBy), join-back on the "
    "128-bit key, integer ppm weights; weight_sum/1e6 is the "
    "effective corpus size per source, the companion number to "
    "c65's yield",
)
def c75_inverse_dup_weighting(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    withfp = docs.select("source", F.md5("text").alias("fp"))
    counts = withfp.groupBy("fp").agg(F.count("*").alias("dup_n"))
    weighted = (withfp.join(counts, "fp")
                .select("source",
                        F.expr("1000000 div dup_n").alias("w_ppm")))
    return (weighted.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("w_ppm").cast("long").alias("weight_sum_ppm"),
                 F.expr("sum(w_ppm) div count(*)").cast("long")
                 .alias("mean_weight_ppm")))


@_register(
    "b95_cusum_burst",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS x,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), tgt AS (
      SELECT event_type, sum(cents) // count(*) AS target
      FROM daily GROUP BY event_type
    ), pref_cte AS (
      SELECT d.event_type, d.x,
             sum(d.cents - t.target) OVER w AS pref
      FROM daily d JOIN tgt t ON d.event_type = t.event_type
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pre AS (
      SELECT event_type, x, pref,
             min(pref) OVER (PARTITION BY event_type ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS minpref_before
      FROM pref_cte
    ), burst AS (
      SELECT event_type, x,
             pref - least(0, coalesce(minpref_before, 0)) AS s
      FROM pre
    ), mx AS (
      SELECT event_type, max(s) AS max_burst FROM burst
      GROUP BY event_type
    )
    SELECT b.event_type, CAST(m.max_burst AS BIGINT) AS max_burst_cents,
           CAST(min(b.x) AS BIGINT) AS burst_end_day
    FROM burst b JOIN mx m
      ON b.event_type = m.event_type AND b.s = m.max_burst
    GROUP BY b.event_type, m.max_burst
    """,
    "CUSUM burst/changepoint detection via the Kadane closed form: "
    "the running CUSUM S_t = max(0, S_{t-1} + dev_t) equals "
    "prefix_t - min(0, min earlier prefix), so the whole recursive "
    "detector collapses into TWO stacked windows over the daily "
    "pre-aggregate — no iterative fold, no UDF (a sequential-"
    "binding quirk in DuckDB's list_reduce struct lambdas makes "
    "the fold form non-portable anyway).  Deviations vs the "
    "per-type mean daily revenue (integer target); max burst + "
    "first day it is achieved.  Exact BIGINTs throughout",
)
def b95_cusum_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).cast("long")
        .alias("x"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("cents")))
    tgt = (daily.groupBy("event_type")
           .agg(F.expr("sum(cents) div count(*)").alias("target")))
    d = daily.join(F.broadcast(tgt), "event_type") \
             .withColumn("dev", F.col("cents") - F.col("target"))
    wcum = (W.partitionBy("event_type").orderBy("x")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wbefore = (W.partitionBy("event_type").orderBy("x")
               .rowsBetween(W.unboundedPreceding, -1))
    pre = (d.withColumn("pref", F.sum("dev").over(wcum))
           .withColumn("minpref_before",
                       F.min(F.sum("dev").over(wcum)).over(wbefore)))
    burst = pre.withColumn(
        "s", F.col("pref")
        - F.least(F.lit(0), F.coalesce("minpref_before", F.lit(0))))
    mx = burst.groupBy("event_type").agg(F.max("s").alias("max_burst"))
    return (burst.join(mx, "event_type")
            .filter(F.col("s") == F.col("max_burst"))
            .groupBy("event_type", "max_burst")
            .agg(F.min("x").cast("long").alias("burst_end_day"))
            .select("event_type",
                    F.col("max_burst").cast("long")
                    .alias("max_burst_cents"), "burst_end_day"))


@_register(
    "c76_feature_covariance",
    """
    WITH q AS (
      SELECT vec_id, i,
             CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS v
      FROM embeddings, range(1, 65) r(i)
    ), m AS (
      SELECT a.i AS d1, b.i AS d2,
             count(*) AS n, sum(a.v) AS sx, sum(b.v) AS sy,
             sum(a.v * b.v) AS sxy
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i
    )
    SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_scaled
    FROM m
    ORDER BY abs(n * sxy - sx * sy) DESC, d1, d2
    LIMIT 10
    """,
    "feature covariance mining: the 10 most-correlated embedding "
    "dimension PAIRS (scaled covariance n*Sxy - Sx*Sy over "
    "quantized values — exact BIGINT, aggregation-order-proof), "
    "the screen run before whitening / PCA to see if dimensions "
    "are redundant.  The dim-pair self-join explodes each vector "
    "to its 64 dims and joins within vec_id (bounded: 64^2/2 "
    "pairs per vector); at 100 TB compute X^T X via per-partition "
    "Gram-matrix partials (one 64x64 accumulator per task) "
    "instead — same numbers, no row blow-up.  "
    "TakeOrderedAndProject top-10",
)
def c76_feature_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.select("vec_id",
                    F.posexplode(F.col("embedding").cast("array<double>"))
                    .alias("pos", "xval"))
         .select("vec_id", (F.col("pos") + 1).alias("i"),
                 F.floor(F.col("xval") * 1_000_000).cast("long")
                 .alias("v")))
    a = q.select("vec_id", F.col("i").alias("d1"),
                 F.col("v").alias("va"))
    b = q.select("vec_id", F.col("i").alias("d2"),
                 F.col("v").alias("vb"))
    m = (a.join(b, "vec_id")
         .filter(F.col("d1") < F.col("d2"))
         .groupBy("d1", "d2")
         .agg(F.count("*").alias("n"),
              F.sum("va").alias("sx"), F.sum("vb").alias("sy"),
              F.sum(F.col("va") * F.col("vb")).alias("sxy")))
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    return (m.select(F.col("d1").cast("long").alias("d1"),
                     F.col("d2").cast("long").alias("d2"),
                     cov.cast("long").alias("cov_scaled"))
            .orderBy(F.abs(F.col("cov_scaled")).desc(), "d1", "d2")
            .limit(10))


@_register(
    "b96_mann_whitney",
    """
    WITH s AS (
      SELECT event_type AS grp,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ), hist AS (
      SELECT cents, count(*) AS n,
             count(*) FILTER (WHERE grp = 'click') AS n1
      FROM s GROUP BY cents
    ), ranked AS (
      SELECT cents, n, n1,
             2 * (sum(n) OVER (ORDER BY cents) - n) + n + 1
               AS dbl_avg_rank
      FROM hist
    )
    SELECT CAST(sum(n1) AS BIGINT) AS n_click,
           CAST(sum(n - n1) AS BIGINT) AS n_view,
           CAST(sum(n1 * dbl_avg_rank) AS BIGINT) AS dbl_rank_sum_click,
           CAST(sum(n1 * dbl_avg_rank) - sum(n1) * (sum(n1) + 1)
                AS BIGINT) AS dbl_u_click
    FROM ranked
    """,
    "Mann-Whitney U (Wilcoxon rank-sum) two-sample test between "
    "click and view revenue — the nonparametric 'are these "
    "distributions different' screen that needs no normality "
    "assumption.  Tie-correct and EXACT: work on the value "
    "HISTOGRAM (collapse duplicates first, b77's trick), where "
    "2x(average tied rank) = 2x(count below) + count equal + 1 is "
    "an integer; U doubles likewise (dbl_u = 2U).  One fact agg + "
    "one window over |distinct values| + one fold — the fact "
    "shuffles once.  Compare dbl_u/2 against the normal "
    "approximation off-line; the heavy lifting is all here",
)
def b96_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type").isin("click", "view"))
         .select(F.col("event_type").alias("grp"),
                 F.floor(F.col("value") * 100).cast("long")
                 .alias("cents")))
    hist = (s.groupBy("cents")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("grp") == "click", 1).otherwise(0))
                 .alias("n1")))
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding,
                                       W.currentRow)
    ranked = hist.withColumn(
        "dbl_avg_rank",
        2 * (F.sum("n").over(w) - F.col("n")) + F.col("n") + 1)
    return ranked.agg(
        F.sum("n1").cast("long").alias("n_click"),
        F.sum(F.col("n") - F.col("n1")).cast("long").alias("n_view"),
        F.sum(F.col("n1") * F.col("dbl_avg_rank")).cast("long")
        .alias("dbl_rank_sum_click"),
        (F.sum(F.col("n1") * F.col("dbl_avg_rank"))
         - F.sum("n1") * (F.sum("n1") + 1)).cast("long")
        .alias("dbl_u_click"))


@_register(
    "c77_curation_funnel",
    """
    WITH canon AS (
      SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)
    ), needles AS (
      SELECT doc_id AS src_id, substr(text, 1, 12) AS needle
      FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
    ), flags AS (
      SELECT d.doc_id,
             CASE WHEN c.keep_id IS NOT NULL THEN 1 ELSE 0 END
               AS is_canonical,
             CASE WHEN len(string_split_regex(trim(d.text), ' +'))
                       BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS len_ok,
             CASE WHEN EXISTS (
               SELECT 1 FROM needles n
               WHERE n.src_id <> d.doc_id
                 AND instr(d.text, n.needle) > 0) THEN 0 ELSE 1 END
               AS not_contaminated
      FROM documents d LEFT JOIN canon c ON d.doc_id = c.keep_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(is_canonical) AS BIGINT) AS survive_dedup,
           CAST(sum(is_canonical * len_ok) AS BIGINT)
             AS survive_quality,
           CAST(sum(is_canonical * len_ok * not_contaminated)
                AS BIGINT) AS survive_decontam
    FROM flags
    """,
    "the curation FUNNEL: how many docs survive each gate "
    "cumulatively — exact dedup (c01's canonical keeper), a length "
    "quality rule (c23's family), then exact-substring decontam "
    "(c60's needles) — the one-row summary every dataset datacard "
    "leads with (c50) and the number that decides whether a source "
    "is worth ingesting.  Flags are independent narrow maps / "
    "semi-joins composed in ONE pass over the corpus; each stage "
    "count is a conditional sum, so adding a gate costs one column, "
    "not one scan",
)
def c77_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    canon = (docs.groupBy(F.md5("text"))
             .agg(F.min("doc_id").alias("keep_id")))
    needles = (docs.orderBy(F.desc("n_chars"), "doc_id").limit(10)
               .select(F.col("doc_id").alias("src_id"),
                       F.substring("text", 1, 12).alias("needle")))
    contaminated = (docs.crossJoin(F.broadcast(needles))
                    .filter((F.col("doc_id") != F.col("src_id"))
                            & (F.instr("text", F.col("needle")) > 0))
                    .select("doc_id").distinct()
                    .withColumn("bad", F.lit(1)))
    flags = (docs
             .join(canon, docs.doc_id == canon.keep_id, "left")
             .join(contaminated, "doc_id", "left")
             .select(
                 F.when(F.col("keep_id").isNotNull(), 1).otherwise(0)
                 .alias("is_canonical"),
                 F.when(F.size(F.split(F.trim(F.col("text")), " +"))
                        .between(20, 80), 1).otherwise(0)
                 .alias("len_ok"),
                 F.when(F.col("bad").isNull(), 1).otherwise(0)
                 .alias("not_contaminated")))
    return flags.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("is_canonical").cast("long").alias("survive_dedup"),
        F.sum(F.col("is_canonical") * F.col("len_ok")).cast("long")
        .alias("survive_quality"),
        F.sum(F.col("is_canonical") * F.col("len_ok")
              * F.col("not_contaminated")).cast("long")
        .alias("survive_decontam"))


@_register(
    "b97_ks_test",
    """
    WITH s AS (
      SELECT event_type AS grp,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ), hist AS (
      SELECT cents,
             count(*) FILTER (WHERE grp = 'click') AS n1,
             count(*) FILTER (WHERE grp = 'view') AS n2
      FROM s GROUP BY cents
    ), cum AS (
      SELECT cents,
             sum(n1) OVER (ORDER BY cents) AS c1,
             sum(n2) OVER (ORDER BY cents) AS c2
      FROM hist
    ), tot AS (
      SELECT sum(n1) AS t1, sum(n2) AS t2 FROM hist
    ), dev AS (
      SELECT cents, abs(c1 * t2 - c2 * t1) AS d_scaled
      FROM cum CROSS JOIN tot
    )
    SELECT CAST((SELECT t1 FROM tot) AS BIGINT) AS n_click,
           CAST((SELECT t2 FROM tot) AS BIGINT) AS n_view,
           CAST(max(d_scaled) AS BIGINT) AS ks_d_scaled,
           CAST(min(CASE WHEN d_scaled = (SELECT max(d_scaled)
                                          FROM dev)
                         THEN cents END) AS BIGINT) AS ks_at_cents
    FROM dev
    """,
    "exact two-sample Kolmogorov-Smirnov statistic between click "
    "and view revenue: D = max |F1 - F2| over the joint value grid, "
    "computed CROSS-MULTIPLIED (|c1*N2 - c2*N1|, all BIGINT) so no "
    "division ever rounds — D itself is ks_d_scaled/(N1*N2).  Value "
    "histogram first (the fact shuffles once), one cumulative "
    "window over |distinct values|, scalar totals broadcast; also "
    "reports the value where the gap peaks (where the two "
    "distributions diverge most — the actionable part).  "
    "Completes the b85/b96 hypothesis-test suite",
)
def b97_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type").isin("click", "view"))
         .select(F.col("event_type").alias("grp"),
                 F.floor(F.col("value") * 100).cast("long")
                 .alias("cents")))
    hist = (s.groupBy("cents")
            .agg(F.sum(F.when(F.col("grp") == "click", 1).otherwise(0))
                 .alias("n1"),
                 F.sum(F.when(F.col("grp") == "view", 1).otherwise(0))
                 .alias("n2")))
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding,
                                       W.currentRow)
    cum = hist.select("cents", F.sum("n1").over(w).alias("c1"),
                      F.sum("n2").over(w).alias("c2"))
    tot = hist.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    dev = (cum.crossJoin(F.broadcast(tot))
           .select("cents", "t1", "t2",
                   F.abs(F.col("c1") * F.col("t2")
                         - F.col("c2") * F.col("t1"))
                   .alias("d_scaled")))
    mx = dev.agg(F.max("d_scaled").alias("mx"))
    return (dev.crossJoin(F.broadcast(mx))
            .agg(F.max("t1").cast("long").alias("n_click"),
                 F.max("t2").cast("long").alias("n_view"),
                 F.max("d_scaled").cast("long").alias("ks_d_scaled"),
                 F.min(F.when(F.col("d_scaled") == F.col("mx"),
                              F.col("cents"))).cast("long")
                 .alias("ks_at_cents")))


@_register(
    "c78_text_embedding_join",
    """
    WITH nv AS (
      SELECT vec_id,
             list_sum(list_transform(
               embedding::DOUBLE[],
               x -> CAST(floor(x * x * 1000000) AS BIGINT)))
               AS normsq_q
      FROM embeddings
    ), j AS (
      SELECT d.lang, CAST(d.n_chars AS BIGINT) AS x, nv.normsq_q AS y
      FROM documents d JOIN nv ON d.doc_id = nv.vec_id
    ), m AS (
      SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM j GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
             AS corr_len_normsq
    FROM m
    """,
    "cross-modal join: the documents table joined to its embedding "
    "table on doc_id == vec_id (the canonical text<->vector "
    "co-partitioned layout), then per-language Pearson correlation "
    "between text length and embedding norm-squared — the 'does "
    "vector magnitude leak document length' representation audit "
    "(length-correlated norms bias cosine-free retrieval).  "
    "Quantized norms (c63) + exact-moment corr (b81); the join is "
    "the shape to co-bucket both tables on at 100 TB (Spark's "
    "bucketBy on the join key at write time) so it runs "
    "exchange-free",
)
def c78_text_embedding_join(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # 1e6 quantization (not c63's 1e12): y*y must stay inside
    # BIGINT under ANSI overflow checks; the corr is OF the quantized
    # variable on both sides, so parity is definitional.
    normsq_q = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(x * x * F.lit(1e6)).cast("long"))
    nv = emb.select("vec_id", normsq_q.alias("y"))
    j = (docs.join(nv, docs.doc_id == nv.vec_id)
         .select("lang", F.col("n_chars").cast("long").alias("x"),
                 "y"))
    m = (j.groupBy("lang")
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy")))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = ((nd * F.col("sxy") - sx * F.col("sy"))
            / F.sqrt((nd * F.col("sxx") - sx * F.col("sx"))
                     * (nd * F.col("syy") - sy * F.col("sy"))))
    return m.select("lang", F.col("n").cast("long").alias("n_docs"),
                    F.round(corr, 6).alias("corr_len_normsq"))


@_register(
    "b98_percent_of_parent",
    """
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT nation, region, CAST(cents AS BIGINT) AS cents,
           CAST(cents * 1000000
                // sum(cents) OVER (PARTITION BY region) AS BIGINT)
             AS pct_of_region_ppm,
           CAST(cents * 1000000 // sum(cents) OVER () AS BIGINT)
             AS pct_of_total_ppm
    FROM rev
    """,
    "percent-of-parent at two hierarchy levels (nation share of its "
    "region, nation share of the world) — the drill-down ratio "
    "every BI layer renders.  The fact aggregates ONCE to the "
    "nation grain through broadcast dim joins; both ratio windows "
    "then run over |nations| rows, so the unpartitioned total "
    "window is legal (bounded input — the b46 rule).  Integer ppm "
    "with truncating div: exact",
)
def b98_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy(F.col("n_name").alias("nation"),
                    F.col("r_name").alias("region"))
           .agg(F.sum(F.floor(F.col("o_totalprice") * 100)
                      .cast("long")).alias("cents")))
    wr = W.partitionBy("region")
    wt = W.partitionBy()
    return (rev
            .withColumn("sum_r", F.sum("cents").over(wr))
            .withColumn("sum_t", F.sum("cents").over(wt))
            .select("nation", "region",
                    F.col("cents").cast("long").alias("cents"),
                    F.expr("cents * 1000000 div sum_r").cast("long")
                    .alias("pct_of_region_ppm"),
                    F.expr("cents * 1000000 div sum_t").cast("long")
                    .alias("pct_of_total_ppm")))


@_register(
    "c79_idf_weighted_containment",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS sh
      FROM t
    ), df AS (
      SELECT sh, count(*) AS d FROM sh GROUP BY sh
    ), n_docs AS (
      SELECT count(*) AS nd FROM documents
    ), wsh AS (
      SELECT s.doc_id, s.sh, nd // d AS w
      FROM sh s JOIN df USING (sh) CROSS JOIN n_docs
    ), wsize AS (
      SELECT doc_id, sum(w) AS tw FROM wsh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.w) AS cw
      FROM wsh a JOIN wsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(cw AS BIGINT) AS common_weight,
           CAST(cw * 1000000 // x.tw AS BIGINT) AS wcont1_ppm,
           CAST(cw * 1000000 // y.tw AS BIGINT) AS wcont2_ppm
    FROM common JOIN wsize x ON x.doc_id = d1
                JOIN wsize y ON y.doc_id = d2
    WHERE greatest(cw * 1000000 // x.tw, cw * 1000000 // y.tw)
            >= 500000
    """,
    "IDF-weighted containment: like c70 but each shared shingle "
    "counts its RARITY (integer idf = n_docs div doc_freq), so "
    "overlap built from corpus-common boilerplate shingles scores "
    "near zero while overlap on rare content flags hard — the "
    "precision upgrade that stops template phrases from producing "
    "false duplicate pairs.  One extra (shingle -> df) aggregate + "
    "join-back over the same inverted index; ubiquitous shingles "
    "carry weight ~1, so the hot-posting join cost they dominate "
    "buys almost no score — at scale DROP shingles with df above a "
    "cutoff (stop-shingle pruning), shrinking the join exactly "
    "where it is hottest",
)
def c79_idf_weighted_containment(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        token_shingles)
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select("doc_id",
                     F.explode(token_shingles(F.col("text"), 3))
                     .alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("d"))
    nd = docs.agg(F.count("*").alias("nd"))
    wsh = (sh.join(dfreq, "sh").crossJoin(F.broadcast(nd))
           .select("doc_id", "sh", F.expr("nd div d").alias("w")))
    wsize = wsh.groupBy("doc_id").agg(F.sum("w").alias("tw"))
    a = wsh.select(F.col("doc_id").alias("d1"), "sh",
                   F.col("w").alias("wa"))
    b = wsh.select(F.col("doc_id").alias("d2"), "sh")
    common = (a.join(b, "sh").filter(F.col("d1") < F.col("d2"))
              .groupBy("d1", "d2").agg(F.sum("wa").alias("cw")))
    x = wsize.select(F.col("doc_id").alias("d1"),
                     F.col("tw").alias("tw1"))
    y = wsize.select(F.col("doc_id").alias("d2"),
                     F.col("tw").alias("tw2"))
    out = (common.join(x, "d1").join(y, "d2")
           .withColumn("wcont1_ppm",
                       F.expr("cw * 1000000 div tw1").cast("long"))
           .withColumn("wcont2_ppm",
                       F.expr("cw * 1000000 div tw2").cast("long")))
    return (out.filter(F.greatest("wcont1_ppm", "wcont2_ppm")
                       >= 500_000)
            .select("d1", "d2", F.col("cw").cast("long")
                    .alias("common_weight"), "wcont1_ppm",
                    "wcont2_ppm"))


@_register(
    "b99_survival_curve",
    """
    WITH last_day AS (
      SELECT user_id,
             max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
               AS d
      FROM events GROUP BY user_id
    ), hist AS (
      SELECT d, count(*) AS n_churned FROM last_day GROUP BY d
    ), tot AS (
      SELECT sum(n_churned) AS n FROM hist
    )
    SELECT CAST(d AS BIGINT) AS day_num,
           CAST(n_churned AS BIGINT) AS n_last_seen,
           CAST(sum(n_churned) OVER (ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS n_surviving,
           CAST(sum(n_churned) OVER (ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                * 1000000 // (SELECT n FROM tot) AS BIGINT)
             AS survival_ppm
    FROM hist
    """,
    "survival / churn curve: S(t) = share of users still active at "
    "or after day t, from each user's LAST event day — the "
    "Kaplan-Meier shape without censoring (every user's exit is "
    "observed inside the window).  One per-user max, one day "
    "histogram, one REVERSE cumulative window over |days| rows; "
    "the fact shuffles once.  Days with zero churn are absent "
    "(sparse representation — join b56's date spine to densify)",
)
def b99_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    last_day = (ev.groupBy("user_id")
                .agg(F.max(F.datediff(
                    F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date"))).alias("d")))
    hist = last_day.groupBy("d").agg(F.count("*").alias("n_churned"))
    tot = hist.agg(F.sum("n_churned").alias("n"))
    w = W.orderBy("d").rowsBetween(W.currentRow, W.unboundedFollowing)
    return (hist
            .withColumn("n_surviving", F.sum("n_churned").over(w))
            .crossJoin(F.broadcast(tot))
            .select(F.col("d").cast("long").alias("day_num"),
                    F.col("n_churned").cast("long").alias("n_last_seen"),
                    F.col("n_surviving").cast("long")
                    .alias("n_surviving"),
                    F.expr("n_surviving * 1000000 div n").cast("long")
                    .alias("survival_ppm")))


# c80 composes the c06 LSH candidate machinery with the c08 exact
# truth set to put a driver-checked NUMBER on the LSH quality claim.
from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
    _duck_hash64, _duck_minhash_band_case, _duck_minhash_mins,
    _duck_shingles, _duck_toks, _spread)


@_register(
    "c80_lsh_precision_audit",
    f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {{p}} AS h FROM sh),
    m AS (SELECT doc_id, {_duck_minhash_mins(16)} FROM hx
          GROUP BY doc_id),
    banded AS (SELECT doc_id, b.band AS band,
                      md5({_duck_minhash_band_case(16, 4)}) AS bucket
               FROM m, range(0, 4) b(band)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
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
    hit AS (SELECT c.d1, c.d2 FROM cand c
            JOIN truth t2 ON c.d1 = t2.d1 AND c.d2 = t2.d2)
    SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           CAST((SELECT count(*) FROM hit) * 1000000
                // nullif((SELECT count(*) FROM cand), 0) AS BIGINT)
             AS precision_ppm,
           CAST((SELECT count(*) FROM hit) * 1000000
                // nullif((SELECT count(*) FROM truth), 0) AS BIGINT)
             AS recall_ppm
    """.replace("{p}", str(_D.MINHASH_P)),
    "LSH quality audit with a driver-checked NUMBER: the c06 "
    "MinHash band candidates scored against the c08 exact-Jaccard "
    "truth set — candidate count, truth count, hits, precision and "
    "recall in ppm.  This is the query that justifies (or indicts) "
    "the (16 hashes, 4 bands) operating point before anyone trusts "
    "LSH dedup at corpus scale; re-run per corpus, since collision "
    "rates track shingle distributions.  Costs one LSH pass + one "
    "exact-verify pass over candidates' inverted index — the same "
    "two plans c06/c08 already run, composed",
)
def c80_lsh_precision_audit(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = _D.minhash_signatures(docs, "doc_id", "text",
                                 num_hashes=16, shingle_n=3,
                                 hash_fn=_D.portable_hash64)
    cand = (_D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)
            .select("d1", "d2").distinct())
    truth = (_D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.5)
             .select("d1", "d2"))
    hit = cand.join(truth, ["d1", "d2"])
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    return (nc.crossJoin(nt).crossJoin(nh)
            .select(F.col("n_candidates").cast("long")
                    .alias("n_candidates"),
                    F.col("n_truth").cast("long").alias("n_truth"),
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.expr("n_hit * 1000000 "
                           "div nullif(n_candidates, 0)").cast("long")
                    .alias("precision_ppm"),
                    F.expr("n_hit * 1000000 div nullif(n_truth, 0)")
                    .cast("long").alias("recall_ppm")))


@_register(
    "b100_sliding_wau_exact",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS d
      FROM events
    ), maxd AS (SELECT max(d) AS md FROM ud),
    contrib AS (
      SELECT user_id, ud.d + o.off AS target_d
      FROM ud, range(0, 7) o(off)
    )
    SELECT CAST(target_d AS BIGINT) AS day_num,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib CROSS JOIN maxd
    WHERE target_d <= md
    GROUP BY target_d
    """,
    "EXACT sliding 7-day active users (WAU) per day — the "
    "scatter-to-window trick: each distinct (user, day) observation "
    "contributes itself to the 7 window-end days it falls inside "
    "(explode x7), then one distinct-count per target day.  Turns "
    "an unsupported COUNT(DISTINCT) OVER RANGE into a plain "
    "groupBy: shuffle is 7x the distinct (user, day) relation — "
    "already tiny vs the fact — not the fact itself.  b49 is the "
    "mergeable-HLL approximate sibling for when 7x|user-days| is "
    "too much; this is the exact truth it is audited against",
)
def b100_sliding_wau_exact(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = (ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("d"))
        .distinct())
    maxd = ud.agg(F.max("d").alias("md"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6))
        .alias("target_d"))
    return (contrib.crossJoin(F.broadcast(maxd))
            .filter(F.col("target_d") <= F.col("md"))
            .groupBy(F.col("target_d").cast("long").alias("day_num"))
            .agg(F.countDistinct("user_id").cast("long").alias("wau")))


@_register(
    "c81_shard_balance_audit",
    """
    WITH s AS (
      SELECT CAST(CAST(concat('0x', substr(md5(text), 1, 8))
                       AS BIGINT) % 32 AS BIGINT) AS shard,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
               AS n_tok
      FROM documents
    ), per AS (
      SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens
      FROM s GROUP BY shard
    )
    SELECT CAST(count(*) AS BIGINT) AS n_shards,
           CAST(min(n_docs) AS BIGINT) AS min_docs,
           CAST(max(n_docs) AS BIGINT) AS max_docs,
           CAST(max(n_tokens) * 1000000
                // (sum(n_tokens) // count(*)) AS BIGINT)
             AS max_token_skew_ppm
    FROM per
    """,
    "shard-balance audit for content-hash sharding: docs assigned "
    "to 32 shards by hashing the md5 fingerprint, then min/max doc "
    "counts and the hottest shard's token load vs the mean (ppm) — "
    "the pre-flight check before a 1000-way repartition-by-key "
    "write, because token-weighted skew (not row skew) is what "
    "actually stalls a training-data shuffle.  Shard id is a "
    "PORTABLE hash — first 8 md5 hex chars parsed as an integer "
    "(Spark conv(,16,10) == DuckDB CAST('0x'||hex), verified) — "
    "so shard membership is engine- and cluster-size-independent, "
    "which is also the property a reproducible corpus layout "
    "wants (engine-native hash() would silently reshard on any "
    "engine swap)",
)
def c81_shard_balance_audit(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # portable shard hash: first 8 hex chars of md5 -> int -> % 32
    # (identical arithmetic both engines; no engine-native hash()).
    shard = (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
             .cast("long") % 32)
    s = docs.select(shard.alias("shard"),
                    F.size(F.split(F.trim(F.col("text")), " +"))
                    .cast("long").alias("n_tok"))
    per = (s.groupBy("shard")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("n_tokens")))
    return per.agg(
        F.count("*").cast("long").alias("n_shards"),
        F.min("n_docs").cast("long").alias("min_docs"),
        F.max("n_docs").cast("long").alias("max_docs"),
        F.expr("max(n_tokens) * 1000000 "
               "div (sum(n_tokens) div count(*))").cast("long")
        .alias("max_token_skew_ppm"))
