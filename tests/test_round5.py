"""Round-5 batch: ordered listagg, lossless banded fuzzy join,
discrete quantiles, DoD growth, exact-substring decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tp_airflow_gtfs_snowflake_spark.plans import (
    driver_queries_round5 as r5)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t


# ------------------------------------------------------ b74 fuzzy join

def test_b74_banded_join_has_no_cartesian(spark):
    plan = r5.b74_fuzzy_name_join(
        spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_b74_band_expansion_is_lossless(spark):
    """Planted pairs crossing a band boundary must still be found:
    lev<=2 bounds the length delta by 2, bands are width 3, so
    band+-1 expansion covers every qualifying pair."""
    rows = [(1, "abcdefgh"),    # len 8  -> band 2
            (2, "abcdefghi"),   # len 9  -> band 3, lev 1 from #1
                                #   (the cross-band pair under test)
            (3, "abcdefghijk"), # len 11 -> band 3, lev 3 from #1 (out)
                                #   but lev 2 from #2 (in, same band)
            (4, "zzzzzzzz")]    # len 8, lev 8 (out)
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    df.write.mode("overwrite").parquet("/tmp/r5_part/part.parquet")
    got = {(r.name1, r.name2): r.edit_distance
           for r in r5.b74_fuzzy_name_join(spark, "/tmp/r5_part")
           .collect()}
    assert got == {("abcdefgh", "abcdefghi"): 1,
                   ("abcdefghi", "abcdefghijk"): 2}


# -------------------------------------------------- b75 quantile disc

def test_b75_disc_quantile_known_values(spark):
    # quantile_disc picks the 1-based ceil(p*n)-th sorted element.
    rows = [("a", float(v)) for v in (0.10, 0.20, 0.30, 0.40)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    df = df.withColumn("ts", F.lit("2024-01-01").cast("timestamp")) \
           .withColumn("event_id", F.monotonically_increasing_id())
    df.write.mode("overwrite").parquet("/tmp/r5_ev/events.parquet")
    row = r5.b75_quantile_disc(spark, "/tmp/r5_ev").collect()[0]
    assert (row.n, row.p50_cents, row.p90_cents) == (4, 20, 40)


# ----------------------------------------------------- b73 determinism

def test_b73_listagg_partitioning_independent(spark):
    a = {(r.event_type, r.top_users_csv, r.top_cents)
         for r in r5.b73_sorted_listagg(spark, SF_SMALL).collect()}
    ev = _t(spark, SF_SMALL, "events").repartition(13)
    ev.write.mode("overwrite").parquet("/tmp/r5_ev13/events.parquet")
    b = {(r.event_type, r.top_users_csv, r.top_cents)
         for r in r5.b73_sorted_listagg(spark, "/tmp/r5_ev13").collect()}
    assert a == b


# ------------------------------------------------------- c60 decontam

def test_c60_zero_hit_needles_survive(spark):
    out = r5.c60_exact_substring_decontam(spark, SF_SMALL)
    rows = out.collect()
    assert len(rows) == 10                      # LEFT join keeps all
    assert all(r.n_contaminated >= 0 for r in rows)
    assert all(len(r.needle) <= 12 for r in rows)


# ------------------------------------------------- b77 weighted median

def test_b77_weighted_median_known(spark, tmp_path):
    # values (cents, weight): 100x1, 200x1, 300x5 -> total 7,
    # half=3.5 -> smallest v with cum >= 3.5 is 300.
    rows = [(1, 1, 1.0, 1.00, "A"), (2, 1, 1.0, 2.00, "A"),
            (3, 1, 5.0, 3.00, "A")]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_returnflag string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_round5 import (
        b77_weighted_median)
    r = b77_weighted_median(spark, str(tmp_path)).collect()[0]
    assert (r.flag, r.total_weight, r.wmedian_cents) == ("A", 7, 300)


# --------------------------------------------------- b78 reset cumsum

def test_b78_reset_opens_new_segment(spark, tmp_path):
    # user 1: click(10), error(1), click(5) -> segments [10], [1+5]
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 0.10),
            (2, "2024-01-01 00:01:00", 1, "error", 0.01),
            (3, "2024-01-01 00:02:00", 1, "click", 0.05)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.b78_reset_cumsum(spark, str(tmp_path)).collect()[0]
    assert (r.n_segments, r.max_segment_cents,
            r.last_segment_cents) == (2, 10, 6)


# ---------------------------------------------- c61 mislabel outliers

def test_c61_planted_outlier_ranks_first(spark, tmp_path):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(20):   # tight cluster near +e1
        v = [1.0] + [rng.uniform(-0.01, 0.01) for _ in range(63)]
        rows.append((i, v, 0))
    rows.append((99, [-1.0] + [0.0] * 63, 0))   # planted anti-aligned
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = r5.c61_mislabel_candidates(spark, str(tmp_path)).collect()
    first = [r for r in out if r.rn == 1][0]
    assert first.vec_id == 99
    assert first.cos_sim < 0


# ------------------------------------------------------- b79 EWMA fold

def test_b79_ewma_matches_reference_fold(spark, tmp_path):
    # acc: 100 -> (100+200)//2=150 -> (150+50)//2=100
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 1.00),
            (2, "2024-01-01 00:01:00", 1, "click", 2.00),
            (3, "2024-01-01 00:02:00", 1, "click", 0.50)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.b79_ewma_halving(spark, str(tmp_path)).collect()[0]
    assert (r.n_events, r.ewma_cents) == (3, 100)


def test_b79_single_event_is_identity(spark, tmp_path):
    rows = [(1, "2024-01-01 00:00:00", 7, "view", 3.21)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.b79_ewma_halving(spark, str(tmp_path)).collect()[0]
    assert (r.n_events, r.ewma_cents) == (1, 321)


# ---------------------------------------------------- b80 k-anonymity

def test_b80_risky_class_accounting(spark, tmp_path):
    # class A: 6 rows (safe), class B: 2 rows (risky)
    rows = ([(i, "2024-01-01 10:00:00", 1, "click", 5.0)
             for i in range(6)]
            + [(10 + i, "2024-01-01 11:00:00", 1, "click", 5.0)
               for i in range(2)])
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.b80_k_anonymity(spark, str(tmp_path)).collect()[0]
    assert (r.k_min, r.n_classes, r.n_risky_classes,
            r.n_risky_rows) == (2, 2, 1, 2)


# ------------------------------------------------------ b81 exact corr

def test_b81_perfect_linear_correlation(spark, tmp_path):
    # price = qty exactly -> corr == 1.0
    rows = [(i, 1, float(i + 1), (i + 1) / 100.0, "A")
            for i in range(10)]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_returnflag string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    r = r5.b81_exact_corr(spark, str(tmp_path)).collect()[0]
    assert r.corr_qty_price == 1.0


# --------------------------------------------- c62 template detection

def test_c62_non_vacuous_at_oracle_sf(spark):
    from tests.conftest import SF_ORACLE
    n = r5.c62_template_detection(spark, SF_ORACLE).count()
    assert n > 0    # guards against a 0==0 vacuous oracle pass


def test_c62_planted_template_found(spark, tmp_path):
    rows = [(1, "aaa bb c filler one"), (2, "xxx yy z filler two"),
            (3, "completely different structure here now maybe")]
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .withColumn("lang", F.lit("en"))
          .withColumn("source", F.lit("s"))
          .withColumn("n_chars", F.length("text").cast("long")))
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = r5.c62_template_detection(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert (out[0].n_docs, out[0].n_variants,
            out[0].example_doc_id) == (2, 2, 1)


# --------------------------------------------------- b82 right outer

def test_b82_unshipped_parts_survive(spark, tmp_path):
    li = [(1, 10, 1, 1, 1.0, 2.00, 0.0, 0.0, "N", "O",
           "2024-01-01 00:00:00")]
    parts = [(10, "widget a", "B1", "T", 1, 9.0),
             (11, "widget b", "B1", "T", 1, 9.0)]   # never shipped
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate string") \
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        parts, "p_partkey long, p_name string, p_brand string, "
               "p_type string, p_size int, p_retailprice double") \
        .write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    r = r5.b82_right_outer_join(spark, str(tmp_path)).collect()[0]
    assert (r.n_parts, r.n_never_shipped, r.shipped_cents) == (2, 1, 200)


# ------------------------------------------- b83 band classification

def test_b83_bands_partition_the_fact(spark):
    out = r5.b83_quantile_band_classify(spark, SF_SMALL).collect()
    li_n = _t(spark, SF_SMALL, "lineitem").count()
    assert sum(r.n_rows for r in out) == li_n
    assert {r.band for r in out} <= {1, 2, 3, 4}


# ------------------------------------------------- c63 embedding QA

def test_c63_flags_zero_vectors_and_dims(spark, tmp_path):
    rows = [(1, [1.0, 2.0], 0), (2, [0.0, 0.0], 0), (3, [3.0, 4.0], 1)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int") \
        .write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.label: r for r in
           r5.c63_embedding_qa_audit(spark, str(tmp_path)).collect()}
    assert out[0].n_zero_vecs == 1 and out[0].n_vecs == 2
    assert out[0].n_distinct_dims == 1
    assert out[1].min_normsq_q == 25 * 10**12


# ----------------------------------------------------- b84 motifs

def test_b84_motif_counts(spark, tmp_path):
    seq = ["view", "click", "purchase", "view"]
    rows = [(i, f"2024-01-01 00:0{i}:00", 1, t, 1.0)
            for i, t in enumerate(seq)]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {(r.e1, r.e2, r.e3): r.n_occurrences
           for r in r5.b84_event_motifs(spark, str(tmp_path)).collect()}
    assert got == {("view", "click", "purchase"): 1,
                   ("click", "purchase", "view"): 1}


# ------------------------------------------------------ b85 chi-square

def test_b85_independent_uniform_has_tiny_chi2(spark, tmp_path):
    # perfectly balanced 2 types x 2 days -> chi2 == 0
    rows = []
    eid = 0
    for day in ("2024-01-01", "2024-01-02"):   # Mon, Tue
        for t in ("a", "b"):
            for _ in range(5):
                rows.append((eid, f"{day} 10:00:00", 1, t, 1.0))
                eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.b85_chisq_independence(spark, str(tmp_path)).collect()[0]
    assert (r.n_events, r.dof, r.chi2_ppm) == (20, 1, 0)


# --------------------------------------------------------- b86 benford

def test_b86_spine_keeps_zero_digits(spark, tmp_path):
    rows = [(i, "2024-01-01 00:00:00", 1, "click", 1.23)
            for i in range(4)]   # all cents=123 -> digit 1 only
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.digit: r for r in
           r5.b86_benford_digit_audit(spark, str(tmp_path)).collect()}
    assert len(out) == 9
    assert out[1].observed_ppm == 1_000_000
    assert out[9].n == 0 and out[9].observed_ppm == 0
    assert out[1].expected_ppm == 301030


# ------------------------------------------------- c64 source overlap

def test_c64_identical_sources_hit_full_jaccard(spark, tmp_path):
    text = "alpha beta gamma delta epsilon zeta"
    rows = [(1, text, "en", "s1", len(text)),
            (2, text, "en", "s2", len(text)),
            (3, "totally different words here now", "en", "s3", 10)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {(r.src1, r.src2): r.jaccard_ppm
           for r in r5.c64_source_overlap_matrix(spark, str(tmp_path))
           .collect()}
    assert out == {("s1", "s2"): 1_000_000}


# --------------------------------------------------- c65 token yield

def test_c65_duplicate_tokens_discounted(spark, tmp_path):
    rows = [(1, "one two three", "en", "sA", 13),
            (2, "one two three", "en", "sA", 13),   # exact dup
            (3, "four five", "en", "sA", 9)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = r5.c65_effective_token_yield(spark, str(tmp_path)).collect()[0]
    # raw 3+3+2=8, effective 3+2=5 -> 625000 ppm
    assert (r.n_docs, r.raw_tokens, r.effective_tokens,
            r.yield_ppm) == (3, 8, 5, 625000)


# ---------------------------------------------- b87 top-k plus other

def test_b87_totals_reconcile(spark):
    out = r5.b87_topk_other_rollup(spark, SF_SMALL).collect()
    li = _t(spark, SF_SMALL, "lineitem")
    p = _t(spark, SF_SMALL, "part")
    total = (li.join(p, li.l_partkey == p.p_partkey)
             .select(F.sum(F.floor(F.col("l_extendedprice") * 100)
                           .cast("long")).alias("t")).collect()[0].t)
    assert sum(r.cents for r in out) == total
    named = [r for r in out if r.brand != "OTHER"]
    assert len(named) <= 5


# -------------------------------------------- c67 target encoding

def test_c67_loo_excludes_self(spark, tmp_path):
    # type 'a': cents 100, 200 -> LOO of each = the other one
    rows = [(1, "2024-01-01 00:00:00", 1, "a", 1.00),
            (2, "2024-01-01 00:01:00", 1, "a", 2.00)]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = r5.c67_target_encoding(spark, str(tmp_path)).collect()[0]
    assert (r.min_loo_ppm, r.max_loo_ppm) == (100_000_000, 200_000_000)


# ------------------------------------------------ c68 skipgram pairs

def test_c68_pair_generation_window2(spark, tmp_path):
    rows = [(1, "a b c", "en", "s", 5)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.pair: r.n_cooc
           for r in r5.c68_skipgram_pairs(spark, str(tmp_path)).collect()}
    assert got == {"a|b": 1, "b|c": 1, "a|c": 1}


# ---------------------------------------------- b88 nearest as-of

def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def test_b88_nearest_prefers_closer_forward(spark, tmp_path):
    # clicks at t=0 and t=10; purchase at t=7 -> forward click (d=3)
    _write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-01 00:00:10", 1, "click", 1.0),
        (3, "2024-01-01 00:00:07", 1, "purchase", 5.0)])
    r = r5.b88_asof_nearest(spark, str(tmp_path)).collect()[0]
    assert (r.click_event_id, r.asof_direction,
            r.asof_dist_us) == (2, "f", 3_000_000)


def test_b88_equal_distance_tie_prefers_backward(spark, tmp_path):
    # clicks at t=0 and t=10; purchase at t=5 -> backward (d=5 both)
    _write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-01 00:00:10", 1, "click", 1.0),
        (3, "2024-01-01 00:00:05", 1, "purchase", 5.0)])
    r = r5.b88_asof_nearest(spark, str(tmp_path)).collect()[0]
    assert (r.click_event_id, r.asof_direction) == (1, "b")


def test_b88_no_click_user_gets_null_match(spark, tmp_path):
    _write_events(spark, tmp_path, [
        (1, "2024-01-01 00:00:00", 1, "purchase", 5.0),
        (2, "2024-01-01 00:00:00", 2, "click", 1.0)])
    r = r5.b88_asof_nearest(spark, str(tmp_path)).collect()[0]
    assert r.click_event_id is None and r.asof_direction is None


def test_b88_is_single_window_shuffle(spark):
    from tests.conftest import SF_ORACLE
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
        REGISTRY)
    df = REGISTRY["b88_asof_nearest"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "nearest as-of built a join"
    # exactly one logical exchange feeds both window frames
    import re
    hashparts = set(re.findall(r"hashpartitioning\([^)]*\)", plan))
    assert len(hashparts) <= 1, f"extra shuffles: {hashparts}"


# ------------------------------------------------- c69 hapax rate

def test_c69_hapax_counts(spark, tmp_path):
    rows = [(1, "a b a b", "en", "s1", 7),    # bigrams: ab, ba, ab
            (2, "c d", "en", "s1", 3)]        # bigram: cd
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = r5.c69_hapax_rate(spark, str(tmp_path)).collect()[0]
    # vocab {ab, ba, cd}; hapax {ba, cd}
    assert (r.vocab_size, r.n_hapax, r.hapax_ppm) == (3, 2, 666666)


# ---------------------------------------------- b89 grid convolution

def test_b89_isolated_cell_smooths_to_self_over_9(spark, tmp_path):
    # one event at hour 3, value 7 -> band 1; no neighbors
    _write_events(spark, tmp_path,
                  [(1, "2024-01-01 03:00:00", 1, "click", 7.0)])
    r = r5.b89_grid_convolution(spark, str(tmp_path)).collect()[0]
    assert (r.gx, r.gy, r.n, r.neighborhood_n) == (3, 1, 1, 1)
    assert r.smoothed_ppm == 1_000_000 // 9


def test_b89_adjacent_cells_sum(spark, tmp_path):
    # hours 3 and 4, same band -> each sees both (neighborhood 2)
    _write_events(spark, tmp_path, [
        (1, "2024-01-01 03:00:00", 1, "click", 7.0),
        (2, "2024-01-01 04:00:00", 1, "click", 7.0)])
    out = {(r.gx, r.gy): r.neighborhood_n
           for r in r5.b89_grid_convolution(spark, str(tmp_path))
           .collect()}
    assert out == {(3, 1): 2, (4, 1): 2}


# --------------------------------------------- c70 containment pairs

def test_c70_subset_doc_hits_full_containment(spark, tmp_path):
    small = "w1 w2 w3 w4 w5 w6 w7"                # 5 shingles
    big = small + " x1 x2 x3 x4 x5 x6 x7 x8"      # superset + more
    rows = [(1, small, "en", "s", len(small)),
            (2, big, "en", "s", len(big)),
            (3, "a b c d e f g", "en", "s", 13)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = r5.c70_containment_pairs(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # doc 1 fully contained in doc 2; doc 2 only partially in doc 1
    assert (r.d1, r.d2, r.cont1_ppm) == (1, 2, 1_000_000)
    assert r.cont2_ppm < 1_000_000


# ---------------------------------------------- b90 rolling slope

def test_b90_constant_growth_has_constant_slope(spark, tmp_path):
    # one event per day, cents = 100 * (day+1): slope 100 cents/day
    rows = [(i, f"2024-01-{i+1:02d} 00:00:00", 1, "click",
             float(i + 1)) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    out = r5.b90_rolling_regression(spark, str(tmp_path)).collect()
    full = [r for r in out if r.n_days == 7]
    assert full and all(
        r.slope_cents_per_day_ppm == 100_000_000 for r in full)
    single = [r for r in out if r.n_days == 1]
    assert all(r.slope_cents_per_day_ppm is None for r in single)


# ------------------------------------------- c71 winsorized mean

def test_c71_clamps_the_tails(spark, tmp_path):
    # 20 values: 1..18 plus outliers -1000 and +1000 (cents)
    vals = [v / 100.0 for v in list(range(1, 19)) + [-1000, 100000]]
    rows = [(i, "2024-01-01 00:00:00", 1, "click", v)
            for i, v in enumerate(vals)]
    _write_events(spark, tmp_path, rows)
    r = r5.c71_winsorized_mean(spark, str(tmp_path)).collect()[0]
    assert r.n == 20
    # cents: -1000, 1..18, 100000.  lo fence = ceil(0.05*20) = 1st
    # sorted element = the low outlier itself (nothing sits strictly
    # below it); hi fence = 19th element = 18, so exactly the high
    # outlier clamps down to 18.
    assert r.n_clamped_low == 0 and r.n_clamped_high == 1
    # mean over (-1000, 1..18, 18): (-1000 + 171 + 18) div 20 = -40
    # (truncating toward zero, both engines)
    assert r.winsorized_mean_cents == -40


# ------------------------------------------------ b91 allocation

def test_b91_allocations_reconcile_exactly(spark):
    out = r5.b91_order_allocation(spark, SF_SMALL)
    o = _t(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("total_cents"))
    per_order = out.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("s"))
    j = per_order.join(o, per_order.l_orderkey == o.o_orderkey)
    bad = j.filter(F.col("s") != F.col("total_cents")).count()
    assert bad == 0, "largest-remainder failed to reconcile"


def test_b91_proportionality(spark, tmp_path):
    # qty 1 and 3 over 100 cents -> 25 / 75
    li = [(1, 1, 1.0), (1, 2, 3.0)]
    spark.createDataFrame(
        li, "l_orderkey long, l_linenumber int, l_quantity double") \
        .write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1.00)], "o_orderkey long, o_totalprice double") \
        .write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {r.l_linenumber: r.alloc_cents
           for r in r5.b91_order_allocation(spark, str(tmp_path))
           .collect()}
    assert got == {1: 25, 2: 75}


# ------------------------------------------ b92 overlap coefficient

def test_b92_subset_audience_hits_million(spark, tmp_path):
    # error users {1,2} subset of click users {1,2,3,4}
    rows = ([(i, "2024-01-01 00:00:00", u, "click", 1.0)
             for i, u in enumerate([1, 2, 3, 4])]
            + [(10 + i, "2024-01-01 00:00:00", u, "error", 1.0)
               for i, u in enumerate([1, 2])])
    _write_events(spark, tmp_path, rows)
    r = r5.b92_overlap_coefficient(spark, str(tmp_path)).collect()[0]
    assert (r.t1, r.t2, r.n_both, r.overlap_ppm) == (
        "click", "error", 2, 1_000_000)


# ------------------------------------- c72 dup/quality contingency

def test_c72_counts_partition_corpus(spark):
    out = r5.c72_dup_quality_contingency(spark, SF_SMALL).collect()
    n = _t(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in out) == n


# ------------------------------------------------ b93 autocorrelation

def test_b93_alternating_series_is_anticorrelated(spark, tmp_path):
    # daily cents alternate 100, 200, 100, 200... -> lag-1 corr = -1
    rows = [(i, f"2024-01-{i+1:02d} 00:00:00", 1, "click",
             1.0 if i % 2 == 0 else 2.0) for i in range(10)]
    _write_events(spark, tmp_path, rows)
    r = r5.b93_autocorrelation(spark, str(tmp_path)).collect()[0]
    assert r.n_pairs == 9
    assert r.lag1_autocorr == -1.0


# ------------------------------------------- c73 distribution drift

def test_c73_identical_sources_have_zero_drift(spark, tmp_path):
    text_a = " ".join(["w"] * 15)    # band 1
    text_b = " ".join(["w"] * 25)    # band 2
    rows = [(1, text_a, "en", "s1", 1), (2, text_b, "en", "s1", 1),
            (3, text_a, "en", "s2", 1), (4, text_b, "en", "s2", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r.tv_x2_ppm
           for r in r5.c73_distribution_drift_tv(spark, str(tmp_path))
           .collect()}
    assert out == {"s1": 0, "s2": 0}


def test_c73_disjoint_source_has_full_drift(spark, tmp_path):
    short = " ".join(["w"] * 5)      # band 0
    longt = " ".join(["w"] * 95)     # band 9
    rows = ([(i, short, "en", "sA", 1) for i in range(3)]
            + [(10 + i, longt, "en", "sB", 1) for i in range(3)])
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r.tv_x2_ppm
           for r in r5.c73_distribution_drift_tv(spark, str(tmp_path))
           .collect()}
    # each source: |1 - 0.5| + |0 - 0.5| = 1.0 -> 1_000_000 ppm
    assert out == {"sA": 1_000_000, "sB": 1_000_000}


# ------------------------------------------ b94 WoW aligned compare

def test_b94_gap_alignment_yields_null_not_wrong_pair(spark, tmp_path):
    # days 0 and 8 only: lag(7) over rows would wrongly pair them;
    # the calendar join must yield NULL for both.
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 1.00),
            (2, "2024-01-09 00:00:00", 1, "click", 2.00)]
    _write_events(spark, tmp_path, rows)
    out = {r.day_num: r for r in
           r5.b94_wow_aligned_compare(spark, str(tmp_path)).collect()}
    assert out[0].cents_7d_ago is None
    assert out[8].cents_7d_ago is None and out[8].wow_ppm is None


def test_b94_aligned_pair_computes_growth(spark, tmp_path):
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 1.00),
            (2, "2024-01-08 00:00:00", 1, "click", 1.50)]
    _write_events(spark, tmp_path, rows)
    out = {r.day_num: r for r in
           r5.b94_wow_aligned_compare(spark, str(tmp_path)).collect()}
    assert (out[7].cents_7d_ago, out[7].wow_ppm) == (100, 500_000)


# ---------------------------------------------- c74 cross-lang dups

def test_c74_non_vacuous_at_oracle_sf(spark):
    from tests.conftest import SF_ORACLE
    assert r5.c74_cross_lang_dups(spark, SF_ORACLE).count() > 0


def test_c74_same_bag_different_lang_found(spark, tmp_path):
    rows = [(1, "alpha beta beta", "en", "s", 1),
            (2, "beta alpha", "fr", "s", 1),      # same word SET
            (3, "gamma delta", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = r5.c74_cross_lang_dups(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert (out[0].lang1, out[0].lang2, out[0].n_pairs) == ("en", "fr", 1)


# ---------------------------------------- c75 inverse dup weighting

def test_c75_weights_neutralize_duplicates(spark, tmp_path):
    rows = [(1, "same text", "s", "en"), (2, "same text", "s", "en"),
            (3, "unique one", "s", "en")]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string") \
        .withColumn("n_chars", F.length("text").cast("long")) \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = r5.c75_inverse_dup_weighting(spark, str(tmp_path)).collect()[0]
    # weights: 500000 + 500000 + 1000000 = 2_000_000 (2 effective docs)
    assert (r.n_docs, r.weight_sum_ppm) == (3, 2_000_000)


# ------------------------------------------------ b95 CUSUM burst

def test_b95_burst_is_max_subarray_of_deviations(spark, tmp_path):
    # daily cents: 100,100,400,400,100,100 -> target 200
    # devs: -100,-100,200,200,-100,-100; max subarray = 400 (days 2-3)
    rows = [(i, f"2024-01-{i+1:02d} 00:00:00", 1, "click", v)
            for i, v in enumerate([1.0, 1.0, 4.0, 4.0, 1.0, 1.0])]
    _write_events(spark, tmp_path, rows)
    r = r5.b95_cusum_burst(spark, str(tmp_path)).collect()[0]
    assert (r.max_burst_cents, r.burst_end_day) == (400, 3)


def test_b95_flat_series_has_zero_burst(spark, tmp_path):
    rows = [(i, f"2024-01-{i+1:02d} 00:00:00", 1, "click", 2.0)
            for i in range(5)]
    _write_events(spark, tmp_path, rows)
    r = r5.b95_cusum_burst(spark, str(tmp_path)).collect()[0]
    assert r.max_burst_cents == 0 and r.burst_end_day == 0


# ------------------------------------------- c76 feature covariance

def test_c76_planted_correlated_dims_rank_first(spark, tmp_path):
    import random
    rng = random.Random(3)
    rows = []
    for i in range(50):
        base = rng.uniform(-1, 1)
        # dims 1 and 2 perfectly co-vary; rest tiny noise
        v = [base, base] + [rng.uniform(-0.001, 0.001)
                            for _ in range(62)]
        rows.append((i, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int") \
        .write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    top = r5.c76_feature_covariance(spark, str(tmp_path)).collect()[0]
    assert (top.d1, top.d2) == (1, 2)
    assert top.cov_scaled > 0


# ----------------------------------------------- b96 Mann-Whitney U

def test_b96_u_statistic_known_value(spark, tmp_path):
    # click: 10, 30; view: 20, 40  (cents)
    # ranks: 10->1, 20->2, 30->3, 40->4; R_click = 1+3 = 4
    # U = R1 - n1(n1+1)/2 = 4 - 3 = 1 -> dbl_u = 2
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 0.10),
            (2, "2024-01-01 00:00:01", 1, "view", 0.20),
            (3, "2024-01-01 00:00:02", 1, "click", 0.30),
            (4, "2024-01-01 00:00:03", 1, "view", 0.40)]
    _write_events(spark, tmp_path, rows)
    r = r5.b96_mann_whitney(spark, str(tmp_path)).collect()[0]
    assert (r.n_click, r.n_view) == (2, 2)
    assert r.dbl_rank_sum_click == 2 * 4
    assert r.dbl_u_click == 2 * 1


def test_b96_ties_get_average_rank(spark, tmp_path):
    # click: 10; view: 10 -> both rank 1.5; dbl_rank_sum_click = 3
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 0.10),
            (2, "2024-01-01 00:00:01", 1, "view", 0.10)]
    _write_events(spark, tmp_path, rows)
    r = r5.b96_mann_whitney(spark, str(tmp_path)).collect()[0]
    assert r.dbl_rank_sum_click == 3


# ---------------------------------------------- c77 curation funnel

def test_c77_funnel_is_monotone(spark):
    from tests.conftest import SF_ORACLE
    r = r5.c77_curation_funnel(spark, SF_ORACLE).collect()[0]
    assert (r.n_total >= r.survive_dedup >= r.survive_quality
            >= r.survive_decontam >= 0)
    assert r.survive_dedup > 0


# ------------------------------------------------------ b97 KS test

def test_b97_disjoint_distributions_hit_max_d(spark, tmp_path):
    # click all at 10, view all at 20 -> D = 1 -> scaled = N1*N2 = 4
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 0.10),
            (2, "2024-01-01 00:00:01", 1, "click", 0.10),
            (3, "2024-01-01 00:00:02", 1, "view", 0.20),
            (4, "2024-01-01 00:00:03", 1, "view", 0.20)]
    _write_events(spark, tmp_path, rows)
    r = r5.b97_ks_test(spark, str(tmp_path)).collect()[0]
    assert (r.ks_d_scaled, r.ks_at_cents) == (4, 10)


def test_b97_identical_distributions_have_zero_d(spark, tmp_path):
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 0.10),
            (2, "2024-01-01 00:00:01", 1, "view", 0.10),
            (3, "2024-01-01 00:00:02", 1, "click", 0.20),
            (4, "2024-01-01 00:00:03", 1, "view", 0.20)]
    _write_events(spark, tmp_path, rows)
    r = r5.b97_ks_test(spark, str(tmp_path)).collect()[0]
    assert r.ks_d_scaled == 0


# --------------------------------------- c78 text-embedding join

def test_c78_full_inner_join_coverage(spark):
    from tests.conftest import SF_ORACLE
    out = r5.c78_text_embedding_join(spark, SF_ORACLE).collect()
    n_docs = _t(spark, SF_ORACLE, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    for r in out:
        assert r.corr_len_normsq is None or \
            -1.0 <= r.corr_len_normsq <= 1.0


# ------------------------------------------- b98 percent of parent

def test_b98_shares_sum_to_million_per_region(spark):
    out = r5.b98_percent_of_parent(spark, SF_SMALL).collect()
    from collections import defaultdict
    per_region = defaultdict(int)
    total = 0
    for r in out:
        per_region[r.region] += r.pct_of_region_ppm
        total += r.pct_of_total_ppm
    # truncating div loses at most (n_children - 1) ppm per parent
    for region, s in per_region.items():
        n = sum(1 for r in out if r.region == region)
        assert 1_000_000 - n < s <= 1_000_000
    assert 1_000_000 - len(out) < total <= 1_000_000


# ------------------------------------- c79 idf-weighted containment

def test_c79_common_boilerplate_scores_below_rare_overlap(spark,
                                                          tmp_path):
    # boiler shingle shared by ALL docs (idf weight 1); docs 1 and 2
    # additionally share a rare tail -> their weighted containment
    # must beat the boilerplate-only pairs.
    boiler = "the quick brown fox jumps"
    rows = [(1, boiler + " rare1 rare2 rare3", "en", "s", 1),
            (2, boiler + " rare1 rare2 rare3", "en", "s", 1),
            (3, boiler + " other stuff here", "en", "s", 1),
            (4, boiler + " more unrelated words", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {(r.d1, r.d2): r.wcont1_ppm for r in
           r5.c79_idf_weighted_containment(spark, str(tmp_path))
           .collect()}
    assert (1, 2) in out
    assert out[(1, 2)] == 1_000_000          # identical docs
    others = [v for k, v in out.items() if k != (1, 2)]
    assert all(v < out[(1, 2)] for v in others)


# ------------------------------------------------ b99 survival curve

def test_b99_survival_is_monotone_and_starts_at_million(spark):
    out = sorted(r5.b99_survival_curve(spark, SF_SMALL).collect(),
                 key=lambda r: r.day_num)
    assert out[0].survival_ppm == 1_000_000   # day 0: everyone at risk
    ppms = [r.survival_ppm for r in out]
    assert ppms == sorted(ppms, reverse=True)
    assert sum(r.n_last_seen for r in out) == out[0].n_surviving


# ----------------------------------------------- c80 LSH audit

def test_c80_audit_counts_consistent(spark):
    from tests.conftest import SF_ORACLE
    r = r5.c80_lsh_precision_audit(spark, SF_ORACLE).collect()[0]
    assert r.n_hit <= min(r.n_candidates, r.n_truth)
    assert 0 <= r.precision_ppm <= 1_000_000
    assert 0 <= r.recall_ppm <= 1_000_000
    # at sf0.01 the (16,4) operating point is known-perfect: keep a
    # tripwire so a silent hash/banding regression shows up here
    assert r.recall_ppm == 1_000_000
    assert r.n_truth > 0


# ------------------------------------------------ b100 sliding WAU

def test_b100_wau_matches_naive_window(spark, tmp_path):
    # user 1 on days 0, 3; user 2 on day 8
    rows = [(1, "2024-01-01 00:00:00", 1, "click", 1.0),
            (2, "2024-01-04 00:00:00", 1, "click", 1.0),
            (3, "2024-01-09 00:00:00", 2, "click", 1.0)]
    _write_events(spark, tmp_path, rows)
    got = {r.day_num: r.wau for r in
           r5.b100_sliding_wau_exact(spark, str(tmp_path)).collect()}
    # day 8: window [2..8] covers user1@3 and user2@8 -> 2
    assert got[8] == 2
    # day 0..6 cover user 1 only
    assert got[0] == 1 and got[6] == 1
    # every day in [0, 8] has a row (windows overlap observations)
    assert set(got) == set(range(9))


# -------------------------------------------- c81 shard balance

def test_c81_shards_cover_all_docs(spark):
    r = r5.c81_shard_balance_audit(spark, SF_SMALL).collect()[0]
    assert r.n_shards <= 32
    assert r.min_docs >= 1
    assert r.max_token_skew_ppm >= 1_000_000   # max >= mean always
