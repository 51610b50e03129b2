"""Physical-plan quality gates (SURVEY §4): these queries must not
regress into plans that fall over at 100 TB.  Each assertion encodes a
scale property: filters/projections reach the parquet scan, small dims
broadcast, top-k avoids global sorts, the as-of join stays a
single-shuffle plan, and hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    jqe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return jqe.explainString(mode)


def test_filter_and_projection_reach_scan(spark):
    p = _plan(spark, "a18_projection_filter")
    assert "GreaterThanOrEqual(l_quantity,45.0)" in p, "filter not pushed"
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    n_cols = read.split("struct<")[1].count(":")
    assert n_cols == 3, f"scan reads extra columns: {read}"


def test_flagship_prunes_columns_through_join(spark):
    p = _plan(spark, "flagship_span_topk")
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    for r in reads:
        # lineitem has 16 columns, orders 6; both scans must be pruned
        assert r.split("struct<")[1].count(":") <= 3, f"unpruned scan: {r}"


def test_dimension_joins_broadcast(spark):
    p = _plan(spark, "b04_broadcast_dim_join")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_topk_uses_take_ordered_not_global_sort(spark):
    for name in ("b07_topk_by_aggregate", "c02_cosine_topk"):
        p = _plan(spark, name)
        assert "TakeOrderedAndProject" in p, f"{name}: global sort+limit"


def test_asof_join_is_single_shuffle(spark):
    p = _plan(spark, "b14_asof_join")
    # union + one window over (key): exactly one logical repartition;
    # formatted mode may print the exchange node twice (reuse), so
    # bound the count rather than demanding equality.
    n_exchanges = sum(1 for l in p.splitlines()
                      if ") Exchange" in l or l.strip().startswith("Exchange"))
    assert n_exchanges <= 2, f"asof join shuffles too much:\n{p}"
    assert "Window" in p


def test_range_join_broadcasts_the_dim(spark):
    p = _plan(spark, "b15_range_bucket_join")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_hot_paths_are_codegened(spark):
    # AQE only materializes codegen stages at execution time, so run
    # the query and inspect the final adaptive plan.
    for name in ("flagship_span_topk", "b03_delay_join",
                 "b05_time_bucket_agg"):
        df = REGISTRY[name].fn(spark, SF_ORACLE)
        df.collect()  # count() would wrap a new plan; collect finalizes THIS one
        qe = df._jdf.queryExecution()
        p = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        assert "isFinalPlan=true" in p
        assert "codegen id" in p, \
            f"{name}: no whole-stage codegen spans:\n{p[:800]}"


def test_set_ops_avoid_cartesian(spark):
    p = _plan(spark, "b18_set_ops")
    assert "CartesianProduct" not in p


def test_minhash_bucket_join_is_equi(spark):
    # LSH candidate generation and Jaccard verify must be hash joins
    # on (band,bucket)/(doc,shingle) — a nested-loop here is the
    # O(docs^2) failure mode the design exists to avoid.
    p = _plan(spark, "c06_minhash_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_assign_has_no_exchange(spark):
    """Centroid assignment is a pure per-row argmax over an inlined
    centroid literal: the plan must be scan -> project, no Exchange,
    no Window, no join (the old crossJoin+row_number form shuffled
    n_cents x |emb| rows)."""
    from tp_airflow_gtfs_snowflake_spark.operators.similarity import (
        ivf_assign)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    asg = ivf_assign(emb, n_cents=8)
    p = asg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "Exchange" not in p, f"ivf_assign shuffles:\n{p[:1200]}"
    assert "Window" not in p
    assert "Join" not in p


def test_exists_subquery_rewrites_to_semi_join(spark):
    # a correlated EXISTS that stays a per-row subquery probe would be
    # catastrophic at scale; Catalyst must rewrite it to a semi join.
    p = _plan(spark, "q04_exists_subquery")
    assert "LeftSemi" in p or "left_semi" in p.lower()
    assert "CartesianProduct" not in p


def test_sessionization_is_single_shuffle(spark):
    # lag + running-sum + per-session aggregate must all ride ONE
    # user_id exchange: the windows share the partitioning and the
    # groupBy is a child of it.
    p = _plan(spark, "b29_sessionization")
    ids = {l.strip().split()[0] for l in p.splitlines()
           if l.strip().startswith("(") and "Exchange" in l
           and "Reused" not in l}
    assert len(ids) <= 1, f"sessionization shuffles {len(ids)}x:\n{p[:1200]}"


def test_q10_topk_is_take_ordered(spark):
    p = _plan(spark, "q10_returned_item_revenue")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_not_exists_rewrites_to_anti_join(spark):
    # Q22's NOT EXISTS must become a left-anti join and its scalar
    # threshold subquery must execute once (uncorrelated), not per row.
    p = _plan(spark, "q22_dormant_accounts")
    assert "LeftAnti" in p or "left_anti" in p.lower()
    assert "CartesianProduct" not in p


def test_contamination_train_side_dedups_before_join(spark):
    # the semi join must consume the DISTINCT shingle set, and the test
    # split must reach it as a semi join (keys only, no row blow-up)
    p = _plan(spark, "c15_contamination_check")
    assert "LeftSemi" in p or "left_semi" in p.lower()
    assert "CartesianProduct" not in p


def test_scalar_subquery_is_decorrelated(spark):
    # the correlated scalar AVG (Q17 shape) must be rewritten into a
    # per-key aggregate joined back — a surviving per-row subquery node
    # would re-scan lineitem once per outer row.
    p = _plan(spark, "q17_small_qty_revenue")
    assert "Subquery" not in p, f"subquery survived decorrelation:\n{p[:1200]}"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the decorrelated aggregate joins on the correlation key
    assert p.count("HashAggregate") >= 2  # avg-per-part + final group-by


def test_q21_double_correlation_is_semi_plus_anti(spark):
    # Q21's EXISTS/NOT EXISTS pair must become one semi and one anti
    # join on l_orderkey — a per-row probe or cartesian would be
    # quadratic in order size at 100 TB.
    p = _plan(spark, "q21_waiting_supplier")
    assert "LeftSemi" in p, "EXISTS did not become a semi join"
    assert "LeftAnti" in p, "NOT EXISTS did not become an anti join"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q20_nested_in_rewrites_to_semi_joins(spark):
    # Three nested INs (supplier IN -> part IN -> correlated scalar)
    # must all decorrelate: semi joins + an aggregate joined back,
    # never a row-at-a-time subquery.
    p = _plan(spark, "q20_excess_inventory")
    assert p.count("LeftSemi") >= 2, "nested INs not rewritten to semi joins"
    assert "CartesianProduct" not in p


def test_q02_correlated_min_is_decorrelated(spark):
    # The correlated MIN-over-join subquery must run as one per-part
    # aggregate joined back on (partkey, cost) — no nested-loop probe.
    p = _plan(spark, "q02_min_cost_supplier")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "min(" in p, "decorrelated aggregate missing from plan"


def test_q15_max_join_back_is_broadcast(spark):
    # The scalar-max side is one row: it must come back as a broadcast
    # join against the revenue view, not a sort-merge or a window.
    p = _plan(spark, "q15_top_supplier")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p, "Q15 should not pay a window for a scalar max"


def test_b33_funnel_is_single_fact_shuffle(spark):
    # The funnel must not walk the fact three times: one per-user hash
    # agg (conditional collects + HOFs) and the final scalar reduce.
    p = _plan(spark, "b33_funnel_analysis")
    n_hash = sum(1 for l in p.splitlines()
                 if "Arguments: hashpartitioning" in l)
    assert n_hash == 1, f"funnel shuffles the fact {n_hash} times:\n{p}"


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    # At 100 TB a filtered dim often exceeds the broadcast threshold;
    # the scale-correct plan then bloom-filters the fact scan from the
    # dim's join keys (row-level runtime filtering) instead of
    # shuffling every fact row into the join.  Simulate the too-big
    # dim by disabling auto-broadcast and assert Spark injects
    # might_contain on the fact side.
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".applicationSideScanSizeThreshold", "1b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        pa = (spark.read.parquet(f"{SF_ORACLE}/part.parquet")
              .filter(F.col("p_type") == "PROMO"))
        j = (li.join(pa, li.l_partkey == pa.p_partkey)
             .groupBy("p_brand").count())
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    # One hot key (90% of rows) would pin a single reducer for hours at
    # 100 TB.  With AQE skew handling on (session default), the final
    # adaptive plan must mark the join skew-split — the engine's one
    # remedy for skewed joins.
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        # scale the skew thresholds down to test-corpus bytes and take
        # broadcast off the table so the join actually shuffles
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set("spark.sql.adaptive.skewJoin"
                       ".skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        left = (spark.range(0, 200000)
                .withColumn("k", F.when(F.col("id") % 10 < 9, F.lit(0))
                            .otherwise(F.col("id") % 1000))
                .withColumn("pad", F.concat(F.lit("x" * 32),
                                            F.col("id").cast("string"))))
        right = (spark.range(0, 1000).withColumnRenamed("id", "k")
                 .withColumn("v", F.col("k") * 2))
        df = left.join(right, "k").select("k", "v")
        df.collect()  # finalize THIS adaptive plan (count() wraps a new one)
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, f"AQE did not split the hot key:\n{p[:1200]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_b42_window_sees_preaggregated_input_only(spark):
    # grouped top-k must rank the (type,user) aggregate, not raw events:
    # exactly the pre-agg shuffle + the per-group window shuffle, and the
    # aggregate must have a map-side partial phase.
    import re
    p = _plan(spark, "b42_topk_per_group")
    assert "Window" in p
    # formatted mode prints each node twice (tree + detail); count the
    # numbered detail entries so 2 real exchanges aren't seen as 4.
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex <= 2, f"extra shuffles ({n_ex}):\n{p}"
    assert "partial_sum" in p or "partial_count" in p, "no map-side combine"


def test_b43_snapshot_diff_is_single_full_outer_join(spark):
    # CDC diff = one full-outer sort-merge join on the key; a nested-loop
    # or cartesian fallback would be O(n*m) at snapshot scale.
    p = _plan(spark, "b43_snapshot_diff")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c29_segment_count_join_is_equi(spark):
    # the segment-occurrence join must stay an equi-join on the md5 key
    # (hash-partitionable at corpus scale), never a theta join.
    p = _plan(spark, "c29_segment_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c30_decontam_test_side_is_distinct_semi_join(spark):
    # the held-out shingle set must collapse to DISTINCT keys and reach
    # the train side as a semi-join (shuffle keys, never documents).
    p = _plan(spark, "c30_decontam_removal")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    # The Spark-native scale feature behind every date-partitioned fact
    # table: a selective dimension filter must prune fact PARTITIONS at
    # runtime (DPP), not scan-then-filter.  Mirrors a 100 TB layout where
    # the fact is written partitioned by event_date.
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import _t
    ev = _t(spark, SF_ORACLE, "events").withColumn(
        "event_date", F.to_date("ts"))
    fact_dir = str(tmp_path / "events_by_date")
    dim_dir = str(tmp_path / "date_dim")
    ev.write.partitionBy("event_date").mode("overwrite").parquet(fact_dir)
    # NB: the dim-side predicate must be one Spark's isLikelySelective
    # accepts (a comparison, IN, LIKE...): a bare boolean attribute
    # filter does NOT qualify and silently disables DPP.
    (ev.select("event_date").distinct()
     .withColumn("day_tag", F.when(F.dayofmonth("event_date") <= 3,
                                   "hot").otherwise("cold"))
     .write.mode("overwrite").parquet(dim_dir))

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("day_tag") == "hot")
    q = (fact.join(F.broadcast(dim), "event_date")
         .groupBy("event_date").agg(F.count("*").alias("n")))
    jqe = q._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    p = jqe.explainString(mode)
    assert "dynamicpruning" in p.lower(), f"no DPP in plan:\n{p}"
    assert q.count() > 0


def test_b66_ohlc_is_two_phase_aggregate_no_window(spark):
    """OHLC via min_by/max_by must stay a two-phase aggregate with a
    single exchange — never the oracle's double-row_number Window
    form.  (A struct ordering key puts a struct in the agg buffer, so
    Spark picks SortAggregate over HashAggregate: still partial+final
    with map-side combine, and the sort is by GROUP KEYS within
    partitions, not a per-group data sort.)"""
    p = _plan(spark, "b66_ohlc")
    assert "Window" not in p, f"b66 regressed to a window plan:\n{p}"
    assert "partial_min_by" in p, f"b66 lost map-side combine:\n{p}"
    n_exchanges = sum(1 for l in p.splitlines()
                      if ") Exchange" in l or l.strip().startswith("Exchange"))
    assert n_exchanges <= 1, f"b66 shuffles more than once:\n{p}"


def test_b70_null_safe_join_stays_hash_partitionable(spark):
    """EqualNullSafe is an equi condition for Catalyst: the join must
    be a hash/sort-merge join on the null-safe key, never a
    nested-loop or cartesian fallback."""
    p = _plan(spark, "b70_null_safe_join")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p)


def test_c53_span_flagging_joins_are_equi(spark):
    """The dup-5-gram join-back must key on the gram (equi), and the
    final per-doc assembly must not degrade to a nested loop."""
    p = _plan(spark, "c53_dup_span_flagging")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_b68_mad_medians_broadcast_back(spark):
    """The tiny per-type median/MAD tables must broadcast back to the
    fact — a shuffled join here would shuffle the fact three times."""
    p = _plan(spark, "b68_mad_outliers")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p


def test_b71_tuple_in_compiles_to_one_semi_join(spark):
    """(a, b) IN (subquery) must become ONE left-semi join on the
    composite key with the subquery side aggregated/deduped before
    the join — not a nested-loop probe."""
    p = _plan(spark, "b71_tuple_in_semi")
    assert "LeftSemi" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_c58_global_centroid_broadcasts(spark):
    """The 64-row global vector must broadcast back to the per-source
    sums; the corpus-wide posexplode is the only wide pass."""
    p = _plan(spark, "c58_source_embedding_drift")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


# ----------------------------------------------------- round-5 gates

def test_b74_fuzzy_join_is_equi_not_cartesian(spark):
    p = _plan(spark, "b74_fuzzy_name_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the levenshtein verify must be a post-join filter on an
    # equi-join, and the distinct-name collapse must precede the join
    assert "levenshtein" in p
    assert "HashAggregate" in p


def test_b77_window_runs_on_value_histogram_not_fact(spark):
    p = _plan(spark, "b77_weighted_median")
    # the running-sum window must sit ABOVE the (flag, cents) collapse:
    # a HashAggregate appears below the Window in the plan tree
    wi = p.find("Window")
    assert wi > 0
    assert "HashAggregate" in p[wi:], \
        "window input is the raw fact — pre-collapse missing"


def test_c61_centroid_join_back_is_broadcast(spark):
    p = _plan(spark, "c61_mislabel_candidates")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_b83_bounds_join_back_is_broadcast(spark):
    p = _plan(spark, "b83_quantile_band_classify")
    assert "BroadcastHashJoin" in p


def test_c60_needle_probe_is_single_corpus_scan(spark):
    p = _plan(spark, "c60_exact_substring_decontam")
    # broadcast nested-loop on a 10-row needle table is the INTENDED
    # shape (substring containment has no equi key); the corpus side
    # must appear exactly twice (needle derivation + probe), never
    # shuffled against itself
    assert "CartesianProduct" not in p
    n_doc_scans = p.count("documents.parquet")
    assert n_doc_scans <= 3, f"corpus scanned {n_doc_scans} times"


def test_b84_motif_topk_is_take_ordered(spark):
    p = _plan(spark, "b84_event_motifs")
    assert "TakeOrderedAndProject" in p


def test_c86_jl_projection_is_exchange_free(spark):
    """The 64->8 projection must be a pure narrow map over the scan:
    sign matrices are expression literals, so any Exchange/Join in
    the plan means the implementation regressed to the exploded
    (vec x dim x out-dim) shape that shuffles 512x the corpus."""
    p = _plan(spark, "c86_jl_projection")
    assert "Exchange" not in p
    assert "Join" not in p


def test_b101_spatial_join_is_cell_equi_hash(spark):
    p = _plan(spark, "b101_spatial_radius_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_b102_kmv_merge_is_single_exchange_over_partials(spark):
    """The sketch merge exchange must sit ABOVE the mapInPandas
    partials (k-bounded rows), not carry the raw distinct stream."""
    p = _plan(spark, "b102_kmv_distinct_estimate")
    assert "MapInPandas" in p
    # exactly one exchange per sketch branch: the merge agg over
    # k-bounded partials (plus one for the exact-count audit side and
    # the final join).  A raw-distinct shuffle would add more.
    assert p.count("Exchange hashpartitioning") <= 3
    # ordering (partials below the merge exchange) is pinned by
    # tests/test_kmv.py::test_kmv_partials_are_bounded_...


def test_shuffle_hash_hint_skips_smj_sorts(spark):
    """Join-strategy steering: with broadcast off, Spark defaults to
    sort-merge (two full sorts); a SHUFFLE_HASH hint on the smaller
    side keeps the shuffle but drops both sorts — the right call when
    one side comfortably builds a hash map per partition but exceeds
    the broadcast threshold."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        smj = (li.join(o, li.l_orderkey == o.o_orderkey)
               ._jdf.queryExecution().executedPlan().toString())
        shj = (li.join(o.hint("SHUFFLE_HASH"),
                       li.l_orderkey == o.o_orderkey)
               ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in smj and "Sort " in smj
    assert "ShuffledHashJoin" in shj
    assert "Sort " not in shj


def test_b105_basket_pairs_join_is_equi_and_topk_take_ordered(spark):
    p = _plan(spark, "b105_copurchase_pairs")
    assert "CartesianProduct" not in p
    # exactly ONE nested-loop node (formatted explain prints each
    # node twice: tree + details): the broadcast of the 1-row
    # n_orders scalar; the basket self-join and both support
    # join-backs must be hash equi-joins.
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in p


def test_b104_pointer_doubling_rounds_are_equi_joins(spark):
    """Each doubling round must be a hash equi-join on the ancestor
    key — a nested-loop fallback would be O(n^2) per round and defeat
    the log-round design."""
    part = spark.read.parquet(f"{SF_ORACLE}/part.parquet")
    parents = part.selectExpr(
        "p_partkey as node",
        "if(p_partkey >= 2, p_partkey div 2, p_partkey) as parent")
    # inspect one un-checkpointed round's plan (the loop itself
    # checkpoints, hiding the join from a single explain):
    from pyspark.sql import functions as F2
    state = parents.select(
        F2.col("node"), F2.col("parent").alias("anc"),
        F2.when(F2.col("parent") == F2.col("node"), F2.lit(0))
        .otherwise(F2.lit(1)).cast("long").alias("d"))
    hop = state.select(F2.col("node").alias("anc"),
                       F2.col("anc").alias("anc2"),
                       F2.col("d").alias("d2"))
    nxt = state.join(hop, "anc")
    plan = nxt._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _plan_kids(n):
    c = n.children()
    return [c.apply(i) for i in range(c.size())]


def _scan_before_agg(n):
    """True iff the subtree reaches a raw FILE scan without passing
    through an aggregate.  A localCheckpoint reads back as
    "Scan ExistingRDD" and is exempt: the repo's checkpoint
    discipline only materializes bounded post-aggregate sketch/block
    state — enforced site-by-site by
    test_checkpoint_sites_are_audited, with the residual blind spot
    pinned by the checkpoint-laundering negative control below."""
    name = n.nodeName()
    if "Aggregate" in name:
        return False
    if (name.startswith("Scan parquet") or "FileScan" in name
            or name.startswith("BatchScan")):
        return True
    return any(_scan_before_agg(k) for k in _plan_kids(n))


def _offending_plan_nodes(df, is_offender):
    """Shared traversal for the raw-scan gates: unwrap AQE, walk the
    physical plan, and flag nodes where ``is_offender(node)`` holds
    AND some child subtree reaches a raw file scan without an
    intervening aggregate."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    bad = []

    def walk(n):
        if is_offender(n) and any(_scan_before_agg(k)
                                  for k in _plan_kids(n)):
            bad.append(n.toString()[:200])
        for k in _plan_kids(n):
            walk(k)

    walk(plan)
    return bad


def _single_partition_exchanges_over_raw_scans(df):
    """Offending SinglePartition exchanges: ones whose subtree reaches
    a file scan WITHOUT passing through an aggregate.  Collapsing a
    post-aggregate (block/bucket) table to one partition is fine — it
    is tiny by construction; collapsing a raw scan is the global-sort
    anti-pattern that falls over at 100 TB."""
    return _offending_plan_nodes(
        df, lambda n: (n.nodeName() == "Exchange"
                       and "SinglePartition"
                       in n.outputPartitioning().toString()))


def test_two_pass_prefix_ops_have_no_global_sort_over_facts(spark):
    """b107 PPS cumsum, b106 skyline, b47 equi-depth ntile: the r03
    verdict's three toy-scale global windows, now two-pass (local
    window per range block + tiny block-offset table).  Gate: no
    SinglePartition exchange may sit over a raw scan — only over the
    post-aggregate block tables."""
    for name in ("b107_pps_systematic_sample", "b106_skyline_docs",
                 "b47_equidepth_histogram", "c96_source_score_normalize",
                 "c102_exact_substring_spans", "b117_position_attribution",
                 "c94_quantile_normalization"):
        df = REGISTRY[name].fn(spark, SF_ORACLE)
        bad = _single_partition_exchanges_over_raw_scans(df)
        assert not bad, f"{name}: global collapse of a raw scan: {bad}"


def test_single_partition_gate_catches_global_window(spark):
    """Negative control: a genuinely global-ordered window over a raw
    scan must be flagged, or the gate above proves nothing."""
    from pyspark.sql import Window as W
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    badq = docs.select(
        "doc_id",
        F.sum("n_chars").over(W.orderBy("doc_id")
                              .rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"))
    assert _single_partition_exchanges_over_raw_scans(badq)


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """b111's LATERAL (ORDER BY ... LIMIT 2) subquery must decorrelate
    into a WindowGroupLimit + equi-join — a correlated-execution or
    nested-loop fallback would run the subquery per customer."""
    p = _plan(spark, "b111_lateral_topk_orders")
    assert "WindowGroupLimit" in p, f"no group-limit pushdown:\n{p[:1500]}"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c100_agreement_stage_is_equi_join(spark):
    """The pairwise method-agreement joins must stay hash equi-joins
    on (d1, d2) / (m1, m2) — never a nested-loop over pair sets."""
    p = _plan(spark, "c100_dedup_method_agreement")
    assert "CartesianProduct" not in p
    # one intentional BNLJ: the 3x3 method spine (m1 < m2 over a
    # 3-row aggregate) — anything more means a pair-set nested loop
    assert p.count("BroadcastNestedLoopJoin") <= 2


def _grouped_arrow_over_raw_scans(df):
    """Offending grouped-Arrow nodes: FlatMapGroupsInPandas (the
    applyInPandas physical node — it funnels a whole group into one
    Python task) whose subtree reaches a file scan WITHOUT passing
    through an aggregate.  Grouped Python state is only 100 TB-safe
    when its input is already sketch/block-bounded by an upstream
    aggregation; per-row MapInPandas (decode/quantize maps) is exempt
    — it streams Arrow batches and never concentrates a group."""
    return _offending_plan_nodes(
        df, lambda n: "FlatMapGroupsInPandas" in n.nodeName())


_BOUNDED_NODES = ("Aggregate", "Limit", "TakeOrdered", "Range",
                  "LocalTableScan", "Scan ExistingRDD",
                  "ReusedExchange", "Subquery")


def _structurally_bounded(n):
    """True iff every leaf of the subtree is bounded by construction:
    an aggregate, a limit/top-k, a literal/range relation, or an
    audited checkpoint read-back — i.e. NOT proportional to fact
    cardinality at 100 TB."""
    if any(b in n.nodeName() for b in _BOUNDED_NODES):
        return True
    ks = _plan_kids(n)
    return bool(ks) and all(_structurally_bounded(k) for k in ks)


# Queries whose nested-loop BUILD side is a literal-filtered slice of
# a fact scan — bounded by a SELECTIVE literal predicate rather than
# by plan structure, which this gate cannot prove.  Each entry is the
# documented IVF/ANN shape (broadcast the k query/probe/centroid
# vectors, scan the corpus once); adding a name here requires the
# same review.
_BNLJ_FILTERED_BUILD_OK = {
    "c02_cosine_topk", "c09_ivf_ann", "c18_kmeans_ivf_ann",
    "c26_pq_ann", "c26b_pq_kmeans_ann", "c48_hard_negative_mining",
    "c91_ann_recall_eval",
}


def _unbounded_nested_loop_builds(df, allow_filtered_build=False):
    """Offending nested-loop joins: a CartesianProduct with no
    broadcast side at all (NEVER waivable), or a
    BroadcastNestedLoopJoin whose EVERY broadcast side is
    structurally unbounded (no aggregate / limit / literal /
    checkpoint anywhere below the exchange).  Broadcasting an
    unbounded relation is the join anti-pattern that OOMs every
    executor at 100 TB.  ``allow_filtered_build`` waives ONLY the
    unbounded-build finding — for the reviewed ANN queries whose
    build side is a literal-filtered fact slice this structural
    check cannot prove bounded.

    Known lenience (documented, mirrors the r06 ADVICE posture on
    ExistingRDD): any Aggregate makes a subtree 'bounded', yet a
    group-by over a high-cardinality key is proportional to key
    cardinality — structural analysis cannot see group counts.  The
    per-query PLANS.md audit and SCALE.md notes carry that judgment;
    this gate pins the grosser shapes (raw scans, bare cartesians)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    bad = []

    def walk(n):
        name = n.nodeName()
        if "CartesianProduct" in name:
            bad.append("cartesian: " + n.toString()[:150])
        elif "BroadcastNestedLoopJoin" in name:
            bsides = [k for k in _plan_kids(n)
                      if "BroadcastExchange" in k.nodeName()
                      or "BroadcastQueryStage" in k.nodeName()]
            if not bsides or (not allow_filtered_build
                              and not any(_structurally_bounded(b)
                                          for b in bsides)):
                bad.append("unbounded build: " + n.toString()[:150])
        for k in _plan_kids(n):
            walk(k)

    walk(plan)
    return bad


# Group-key-cardinality review (r08, closing the documented
# Aggregate-lenience blind spot): every query whose plan sorts or
# windows a SinglePartition-collapsed relation relies on that
# relation being SMALL — but the structural gate can only see "there
# is an Aggregate below", not the group-key cardinality.  This dict
# is the per-query judgment: each entry names WHAT bounds the
# collapsed relation at 100 TB.  The registry sweep
# (tests/test_driver_queries.py) fails any query that gains this shape
# without an entry here.
_SP_ORDERING_REVIEWED = {
    "b46_period_over_period": "|periods| — calendar-bounded",
    "b47_equidepth_histogram": "block-offset table (two-pass form)",
    "c45_token_budget_apportionment": "|sources| (single digits)",
    "b55_pareto_contribution": "|groups| = dimension keys; beyond "
        "~1e8 groups switch to the b107 block-offset two-pass",
    "b72_cumulative_distinct_users": "|days| — calendar-bounded",
    "b85_chisq_independence": "contingency cells (types x bands)",
    "b87_topk_other_rollup": "k+1 rows per group after top-k fold",
    "b96_mann_whitney": "distinct-value rank histogram",
    "b97_ks_test": "distinct-value ECDF support",
    "b98_percent_of_parent": "|category hierarchy nodes|",
    "b99_survival_curve": "|duration buckets|",
    "b106_skyline_docs": "block table (two-pass form)",
    "b107_pps_systematic_sample": "block-offset table (two-pass form)",
    "c90_zipf_slope_audit": "top-R term ranks (R literal)",
    "c94_quantile_normalization": "block table (two-pass form)",
    "b131_seasonal_index": "|month x dow| cells",
    "b133_neyman_allocation": "|strata|",
    "c126_sampled_quantiles": "bottom-k deterministic sample (k rows)",
    "b148_dense_global_ids": "block-offset table (two-pass form)",
    "b149_ece_calibration_bins": "|calibration bins| (literal)",
    "c132_average_precision": "blocked-rank offset table",
    "b159_qdigest_quantiles": "q-digest partials (digest-size bound)",
    "b160_sliding_qdigest": "q-digest partials (digest-size bound)",
    "b166_compaction_bin_packing": "|files| manifest (~800k at 100TB)",
    "b168_changepoint_binary_segmentation":
        "|days| — calendar-bounded; partition by series at scale",
    "c138_greedy_max_coverage_selection":
        "TakeOrdered(1) argmax per round — k rows total",
    "b173_clustering_depth_audit":
        "|files|*2 day events pre-summed per day — manifest scale "
        "(~1.6M at 100TB); shard by year via b128's two-pass "
        "prefix sum if it outgrows one task",
    "b176_sorted_run_merge_planner":
        "|files| manifest rows under the interval-grouping sweep "
        "(b166 lenience; b128 two-pass block form beyond ~1e6 files)",
    "b177_merge_plan_execution_proof":
        "|files| manifests only: the fid->task sweep (pre-write) and "
        "the planner/depth re-audit (post-write, over the "
        "createDataFrame footer manifest) — the data-scaled pass is "
        "the broadcast-join + partitioned write, never windowed",
    "b179_dictionary_encoding_audit":
        "|distinct dictionary values| rank over a post-distinct "
        "relation — global dictionaries are column-cardinality-"
        "bounded by design (Parquet/ORC dictionary-page posture)",
    "c146_heaps_law_vocab_growth":
        "14-row literal doubling grid — cumsum/lag run over the "
        "grid-bucketed aggregates, never the corpus",
    "b182_session_threshold_audit":
        "|threshold bands| = 7 literal grid rows — the suffix cumsum "
        "runs over band counts, never the gap stream",
    "b183_conversion_hazard":
        "|lag-days| cell table — calendar-bounded; the risk-set "
        "prefix sum never touches per-user rows",
    "b184_watermark_delay_audit":
        "|batches| running-max table + 6-row literal delay grid — "
        "both windows run over post-aggregate tiny relations, never "
        "the event stream",
    "b185_column_profile":
        "1-row wide aggregate unpivoted to |columns| rows — the "
        "final sort orders 6 rows",
    "c150_dedup_threshold_curve":
        "5-row literal threshold grid — the suffix cumsum runs over "
        "band counts, never the pair table",
    "c151_context_packing_audit":
        "block-offset table (b107 two-pass form) + 3-row window "
        "grid",
    "c153_vocab_coverage_curve":
        "vocabulary-sized frequency rank (the quantity c146 audits "
        "as sublinear; b179's dictionary lenience) + 6-row k grid "
        "cumsum",
}

_SP_ORDER_CONSUMERS = ("Window", "Sort", "WindowGroupLimit")


def _sp_ordering_exchanges(df):
    """SinglePartition exchanges whose consumer (parent or
    grandparent, to see through InputAdapter/WholeStageCodegen
    wrappers) does ordering work — the shape where the collapsed
    relation is materialized AND sorted on one task, i.e. where the
    Aggregate lenience actually carries load.  Final scalar
    aggregates (partial -> final two-phase) are excluded: their
    consumer is the final Aggregate, bounded by construction."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    found = []

    def walk(n, ancestors):
        if (n.nodeName() == "Exchange"
                and "SinglePartition"
                in n.outputPartitioning().toString()
                and any(a.nodeName().startswith(_SP_ORDER_CONSUMERS)
                        for a in ancestors[-2:])):
            found.append(n.toString()[:120])
        for k in _plan_kids(n):
            walk(k, ancestors + [n])

    walk(plan, [])
    return found


def test_sp_ordering_detector_negative_control(spark):
    """A global cumsum window over a post-aggregate relation passes
    the raw-scan gate (the Aggregate lenience) but MUST be seen by
    the SP-ordering detector — otherwise the review dict above
    enforces nothing.  A final scalar aggregate must NOT be seen."""
    from pyspark.sql import Window as W
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    agg = docs.groupBy("source").count()
    windowed = agg.select(
        "source",
        F.sum("count").over(W.orderBy("source")
                            .rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"))
    assert not _single_partition_exchanges_over_raw_scans(windowed)
    assert _sp_ordering_exchanges(windowed)
    scalar = docs.agg(F.count("*").alias("n"))
    assert not _sp_ordering_exchanges(scalar)


def test_sp_ordering_review_names_are_live():
    """Every reviewed name must still exist in the registry (a rename
    would silently orphan its review)."""
    missing = set(_SP_ORDERING_REVIEWED) - set(REGISTRY)
    assert not missing, f"reviewed names not in registry: {missing}"


def raw_scan_findings(name, df) -> list[str]:
    """The headline scale properties, read off the plan: NO query may
    (a) put a SinglePartition exchange over a raw file scan (only
    post-aggregate block/bucket tables may collapse — they are tiny
    by construction), (b) run a grouped-Arrow (applyInPandas) task
    directly over a raw file scan (grouped Python state must be
    sketch-bounded by an upstream aggregation), (c) run a
    nested-loop join without a structurally bounded broadcast side
    (outside the reviewed literal-filter ANN allowlist), or (d) sort
    or window a SinglePartition-collapsed relation without a
    group-key-cardinality entry in _SP_ORDERING_REVIEWED.  The
    registry sweep (tests/test_driver_queries.py) runs it on every
    query it builds."""
    found = (_single_partition_exchanges_over_raw_scans(df)
             + _grouped_arrow_over_raw_scans(df)
             + _unbounded_nested_loop_builds(
                 df, allow_filtered_build=name in _BNLJ_FILTERED_BUILD_OK))
    if name not in _SP_ORDERING_REVIEWED:
        found += ["unreviewed SP-ordering: " + s
                  for s in _sp_ordering_exchanges(df)]
    return found


def test_nested_loop_gate_catches_raw_cross_join(spark):
    """Negative control for the nested-loop half of the registry sweep: a
    crossJoin of two raw fact scans (no bounded side anywhere) must
    be flagged, and a crossJoin against a broadcast aggregate must
    pass."""
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    badq = docs.crossJoin(F.broadcast(li.select("l_orderkey")))
    assert _unbounded_nested_loop_builds(badq)
    okq = docs.crossJoin(F.broadcast(li.agg(F.count("*").alias("n"))))
    assert not _unbounded_nested_loop_builds(okq)


def test_grouped_arrow_gate_catches_raw_scan_group_apply(spark):
    """Negative control: applyInPandas directly over a parquet scan
    (whole source groups funneled into Python with no bounding
    aggregate) must be flagged, or the grouped-Arrow half of the
    registry sweep proves nothing."""
    import pandas as pd

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["source"]].head(1)

    badq = docs.groupBy("source").applyInPandas(f, "source string")
    assert _grouped_arrow_over_raw_scans(badq)
    # ...and the same group-apply above a bounding aggregate is fine
    agg = docs.groupBy("source").count()

    def g(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["source"]].head(1)

    okq = agg.groupBy("source").applyInPandas(g, "source string")
    assert not _grouped_arrow_over_raw_scans(okq)


def test_single_partition_gate_blind_spot_is_checkpoint_laundering(
        spark):
    """DOCUMENTED BLIND SPOT (r06 ADVICE): the SinglePartition gate
    exempts every 'Scan ExistingRDD' leaf because a localCheckpoint
    erases lineage — the physical plan cannot show whether the
    checkpointed relation was a bounded post-aggregate sketch or a
    raw corpus scan.  This control pins the limitation: a checkpoint
    of a RAW scan followed by a global sort passes the plan gate
    silently.  The compensating control is source-level:
    test_checkpoint_sites_are_audited() fails the suite whenever a
    localCheckpoint call site appears outside the audited allowlist,
    so every new checkpoint is consciously reviewed for boundedness
    before it can hide anything from this gate."""
    from pyspark.sql import Window as W

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    laundered = docs.localCheckpoint()
    badq = laundered.select(
        "doc_id",
        F.sum("n_chars").over(W.orderBy("doc_id")
                              .rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"))
    # the gate does NOT catch it — that is the documented blind spot
    assert not _single_partition_exchanges_over_raw_scans(badq)


def test_checkpoint_sites_are_audited():
    """Enforce the claim the SinglePartition exemption rests on:
    every localCheckpoint() call site in non-test engine source is
    individually audited for boundedness.  AST-walks the package and
    compares (module, enclosing function) against the allowlist
    below; adding a checkpoint anywhere else fails until the new
    site is reviewed and added here with a rationale."""
    import ast
    import pathlib

    pkg = (pathlib.Path(__file__).resolve().parent.parent
           / "tp_airflow_gtfs_snowflake_spark")
    # (module, enclosing def) -> why the checkpointed relation is
    # bounded (or why checkpointing corpus-scale lineage is safe)
    audited = {
        # --- iterative lineage truncation: the checkpointed relation
        # IS corpus-scale (edges / label / word state), but none ever
        # feeds a SinglePartition exchange — the loops re-shuffle on
        # keys each round; lineage cut is the point
        # c143 (r11): shingle rows feed six consumers across both
        # key families (doc_id- and sh-keyed exchanges) — differing
        # partitionings defeat AQE reuse; corpus-scale-but-narrow,
        # never SinglePartition
        ("operators/dedup.py", "containment_pairs_prefix_filtered"),
        # c102 (r11): (doc_id, start, h) window rows feed the dup-hash
        # aggregate and the semi-join probe side — partial-agg vs raw
        # exchanges, no AQE reuse; narrow 3-int-column relation, both
        # consumers re-shuffle on h, never SinglePartition
        ("operators/dedup.py", "duplicated_spans"),
        ("operators/bpe.py", "bpe_token_frequencies"),
        ("operators/bpe.py", "encode_words"),
        ("operators/bpe.py", "learn_bpe"),
        ("operators/components.py", "connected_components"),
        ("operators/components.py", "kcore_peel"),
        ("operators/components.py", "label_propagation"),  # c137: edge
        # set + per-round labels, re-shuffled on node keys each round
        ("operators/components.py", "pagerank"),
        ("operators/components.py", "pagerank_int"),
        ("operators/hierarchy.py", "tree_depths"),
        ("operators/similarity.py", "cell_blocked_neardup"),
        # --- streaming micro-batch state: batch-sized / group-sized
        ("streaming/rt_stream.py", "process"),
        ("streaming/sketch_state.py", "merge"),
        ("operators/incremental.py", "retraction_apply_batch"),  # b161
        # --- driver queries: shared-scan reuse of bounded
        # post-aggregate block/sketch relations (each audited in the
        # round it shipped; PLANS.md carries the plan rows)
        ("plans/driver_queries_graph.py", "c93_component_density_audit"),
        ("plans/driver_queries_round10.py", "b150_simpson_reversal_audit"),
        ("plans/driver_queries_round10.py", "b153_hll_portable_sketch"),
        ("plans/driver_queries_round10.py", "b154_sliding_hll_distinct"),
        ("plans/driver_queries_round10.py", "c130_jsd_lang_divergence"),
        ("plans/driver_queries_round10.py", "c131_cluster_purity_mi"),
        ("plans/driver_queries_round11.py", "b156_mips_norm_pruned_topk"),
        ("plans/driver_queries_round11.py", "b157_skew_salt_audit"),
        ("plans/driver_queries_round11.py",
         "b158_incremental_agg_retraction"),
        ("plans/driver_queries_round11.py", "b159_qdigest_quantiles"),
        ("plans/driver_queries_round11.py", "b160_sliding_qdigest"),
        ("plans/driver_queries_round11.py", "c132_average_precision"),
        # c139: |docs| x 2 (gold, pred) label relation consumed by
        # three different-key marginal aggregates — distinct subtrees
        # AQE reuse cannot share; one lang-id pass instead of three
        ("plans/driver_queries_round14.py", "c139_cohens_kappa_langid"),
        # c138: distinct (doc, shingle) relation reused k+1 times by
        # the greedy rounds — corpus-scale like CC's edges, never
        # feeds a SinglePartition exchange (each round re-shuffles on
        # doc/shingle keys); lineage cut is the point
        ("plans/driver_queries_round14.py",
         "c138_greedy_max_coverage_selection"),
        # c128 (r11): hashed-bigram stream feeds four different-key
        # consumers (filtered b-agg, b-agg, global count, per-doc
        # score agg) — no shared exchange for AQE to reuse; narrow
        # (doc_id, source, b) relation, never SinglePartition
        # un-aggregated
        ("plans/driver_queries_round9.py", "c128_dsir_importance"),
        # c64b (r11): |sources|-row KMV sketch/estimate table feeding
        # both legs of a non-equi BNLJ self-join — stream vs broadcast
        # exchanges, no AQE reuse; trivially bounded
        ("plans/driver_queries_round5.py", "c64b_source_overlap_sketched"),
        ("plans/driver_queries_round6.py",
         "b109_exact_global_median_two_pass"),
        ("plans/driver_queries_round6.py", "b112_periodicity_detection"),
        ("plans/driver_queries_round6.py", "b113_future_activity_labels"),
        ("plans/driver_queries_round6.py", "c100_dedup_method_agreement"),
        ("plans/driver_queries_round6.py", "c103_vocab_overlap_matrix"),
        ("plans/driver_queries_round6.py", "c84_bpe_fertility_by_lang"),
        ("plans/driver_queries_round6.py", "c89_unigram_surprise"),
        ("plans/driver_queries_round6.py", "c94_quantile_normalization"),
        # c95: (doc, 13-gram-hash) explode reused by the train-distinct
        # and test-probe sides of the decontamination semi-join —
        # corpus-scale like c138's shingles, re-shuffled on the hash
        # key by both consumers, never SinglePartition (r11 job diet)
        ("plans/driver_queries_round6.py", "c95_contamination_13gram"),
        ("plans/driver_queries_round6.py", "c98_triangle_count"),
        ("plans/driver_queries_round7.py", "b123_spearman_corr"),
        ("plans/driver_queries_round7.py", "b125_cuped_adjustment"),
        ("plans/driver_queries_round7.py", "b126_mad_outliers"),
        ("plans/driver_queries_round7.py", "b128_peak_concurrency"),
        ("plans/driver_queries_round7.py", "c105_bigram_lm_score"),
        ("plans/driver_queries_round7.py", "c106_link_prediction"),
        ("plans/driver_queries_round7.py", "c108_ngram_novelty"),
        ("plans/driver_queries_round7.py", "c113_neardup_evidence"),
        ("plans/driver_queries_round7.py", "c114_dedup_mixture_shift"),
        ("plans/driver_queries_round8.py", "b141_countmin_frequency"),
        ("plans/driver_queries_round8.py", "c116_markov_stationary_int"),
        ("plans/driver_queries_round8.py", "c119_modularity_int"),
        ("plans/driver_queries_round8.py", "c123_lsh_band_sweep"),
        ("plans/driver_queries_round8.py", "c124_priority_sample"),
        # r09 additions: |files| / |snapshots| manifests built once
        # from the fact (b172/b173); c140's (doc,gram) counts are
        # corpus-scale like c138's shingles — both consumers
        # re-shuffle on doc_id, never a SinglePartition exchange
        ("plans/driver_queries_round15.py", "b172_snapshot_expiry_audit"),
        ("plans/driver_queries_round15.py", "audit"),  # b173 per-layout zm
        ("plans/driver_queries_round15.py", "c140_gopher_repetition"),
        # b175: distinct (fid, key) manifest reused by zone maps,
        # bloom bits, and truth counts — manifest-scale, never feeds
        # a SinglePartition exchange
        ("plans/driver_queries_round16.py", "b175_file_bloom_index_audit"),
        # c142: (lang, null-class, word) count cells — vocabulary-
        # scaled post-aggregate reused by four marginals; never feeds
        # a SinglePartition exchange
        ("plans/driver_queries_round17.py", "c142_label_signal_ceiling"),
        # c144: |corpus|-row (vec_id, exact_dot, approx_dot) relation
        # consumed by two TakeOrdereds — lazy-checkpointed so the
        # interpreted HOF dots evaluate once (VERDICT r10 weak fix);
        # never feeds a SinglePartition exchange
        ("plans/driver_queries_round17.py",
         "c144_sq8_quantization_audit"),
        # b186: |nations| x 64 register partials — three hierarchy
        # merges consume them; never feeds a SinglePartition exchange
        # (r11 adds the |orders|-row joined fact f: four different-key
        # consumers, one join pass)
        ("plans/driver_queries_round19.py",
         "b186_hll_hierarchy_rollup"),
        # c150: threshold-qualified similarity pairs (collision-
        # bounded by prefix filtering) — pair bands + per-doc max
        # bands both consume them
        ("plans/driver_queries_round19.py",
         "c150_dedup_threshold_curve"),
    }
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        stack: list[str] = []

        def walk(node, stack):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [node.name]
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"):
                fn = stack[-1] if stack else "<module>"
                found.add((str(path.relative_to(pkg)), fn))
            for child in ast.iter_child_nodes(node):
                walk(child, stack)

        walk(tree, stack)
    unaudited = found - audited
    stale = audited - found
    assert not unaudited, (
        f"unaudited localCheckpoint sites (review boundedness, then "
        f"add with rationale): {sorted(unaudited)}")
    assert not stale, f"allowlist entries with no call site: {sorted(stale)}"


def test_c105_vocab_joinbacks_are_broadcast_equi(spark):
    """The bigram-count and prefix-count tables are vocabulary-sized;
    both join-backs onto the per-doc bigram table must be broadcast
    equi joins — a shuffled or nested-loop plan means the vocab
    tables stopped being treated as small."""
    p = _plan(spark, "c105_bigram_lm_score")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c108_first_occurrence_joinback_is_equi(spark):
    p = _plan(spark, "c108_ngram_novelty")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c109_blocklist_gate_is_narrow_map_plus_one_agg(spark):
    """Blocklist scoring is a pure per-row map: any Join in the plan
    means the literal term sets regressed into a table; more than one
    hash exchange means the agg lost its map-side combine."""
    p = _plan(spark, "c109_blocklist_gate")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_b121_ohlc_is_single_agg_no_window(spark):
    """OHLC bars must stay ONE partially-aggregatable hash agg
    (min_by/max_by over the sequence key) — a Window or Join here is
    the classic first/last-per-group regression the flagship's span
    idiom exists to avoid."""
    p = _plan(spark, "b121_ohlc_candles")
    assert "Window" not in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_b123_spearman_rank_joinbacks_are_broadcast(spark):
    """Block-offset and rank join-backs ride broadcast; no cartesian
    anywhere.  (The no-group-sized-sort property is covered by the
    registry-wide single-partition gate: every Sort in this plan is
    inside a (grp, block) window partition.)"""
    p = _plan(spark, "b123_spearman_corr")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_b122_anotb_merges_bounded_partials(spark):
    """Like b102: the sketch exchange must move k-bounded mapInPandas
    partials, never the raw distinct stream."""
    p = _plan(spark, "b122_kmv_difference_estimate")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p


def test_b128_sweep_windows_are_block_partitioned(spark):
    """The concurrency running sum must never run a whole day in one
    window partition: the delta-table window partitions by (day, _b)
    hour blocks; only the tiny block-offset window may partition by
    day alone."""
    p = _plan(spark, "b128_peak_concurrency")
    win_lines = [l for l in p.splitlines()
                 if "windowspecdefinition" in l.lower()]
    assert win_lines, "no window found"
    # the sweep window orders by (us, delta, user_id); it must carry
    # the _b block key in its partition spec
    sweep = [l for l in win_lines if "us" in l and "delta" in l]
    assert sweep and all("_b" in l for l in sweep), sweep


def test_c115_bm25_is_broadcast_stats_plus_take_ordered(spark):
    """BM25: corpus stats (1 row) and idf (|terms| rows) must reach
    the scoring join as broadcasts, and top-k must compile to
    TakeOrderedAndProject — no global sort, no shuffled dim."""
    p = _plan(spark, "c115_bm25_retrieval")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastExchange") >= 2


def test_c118_pass_at_k_dim_join_is_broadcast(spark):
    p = _plan(spark, "c118_pass_at_k")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_b137_pair_join_runs_on_daily_aggregate(spark):
    """Theil-Sen's O(days^2) pair join must consume the per-(type,day)
    AGGREGATE, not the raw fact: exactly two event scans (one per join
    side), each reduced by a hash aggregate before the join."""
    p = _plan(spark, "b137_theil_sen_slope")
    assert p.count("events.parquet") == 2
    # both sides aggregate below the join: partial+final per side
    assert p.count("HashAggregate") >= 4


def test_c116_iteration_runs_on_transition_aggregate(spark):
    """Markov power iteration must iterate over the |states|^2 matrix
    (localCheckpointed), not rescan events per round: one scan for
    transitions, one for states."""
    p = _plan(spark, "c116_markov_stationary_int")
    assert p.count("Scan parquet") == 0  # inputs are checkpointed RDDs
    assert "Scan ExistingRDD" in p


def test_b138_l_diversity_is_single_scan(spark):
    p = _plan(spark, "b138_l_diversity")
    assert p.count("documents.parquet") == 1


def test_b144_bloom_bit_set_and_membership_broadcast(spark):
    """The <=16384-position bit set and the member-key table must
    reach the probe side as broadcasts; nothing may degenerate to a
    cartesian product."""
    p = _plan(spark, "b144_bloom_membership")
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p


def test_c126_sample_side_is_take_ordered(spark):
    """The bottom-k-by-hash sample must compile to
    TakeOrderedAndProject (per-partition top-k + merge — the
    mergeable sketch state), never a global Sort over the corpus."""
    p = _plan(spark, "c126_sampled_quantiles")
    assert "TakeOrderedAndProject" in p


def test_c127_probe_set_broadcasts(spark):
    """The bounded probe set must broadcast against the corpus; the
    deliberate crossJoin must be the broadcast nested-loop over the
    100-row probe table, never a shuffled cartesian."""
    p = _plan(spark, "c127_knn_label_consistency")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_b146_balance_is_single_user_shuffle(spark):
    """Cumsum, running min, and row_number all run off ONE per-user
    exchange (the two Window nodes — rank-based and frame-based —
    stack on the same partitioning with no exchange between them);
    the only other exchanges are the 16-bucket rollup and the final
    16-row sort."""
    import re
    p = _plan(spark, "b146_clamped_running_balance")
    assert p.count("hashpartitioning(user_id") == 1
    assert len(re.findall(r"\(\d+\) Window", p)) <= 2
    assert "SinglePartition" not in p


def test_c128_ratio_table_broadcasts_and_topk_is_take_ordered(spark):
    """The 8192-bucket ratio table must broadcast back to the gram
    stream, and the top-20 must be TakeOrderedAndProject."""
    p = _plan(spark, "c128_dsir_importance")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_b147_path_topk_is_take_ordered(spark):
    p = _plan(spark, "b147_top_session_paths")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_b148_only_full_shuffle_is_the_day_block_window(spark):
    """The global-id assignment must shuffle full rows ONCE (per-day
    block window).  The second day-keyed exchange is the per-day
    count: map-side combined, so it moves only |days x partitions|
    partial rows.  The offset cumsum runs single-partition on that
    tiny aggregate and joins back as a broadcast."""
    p = _plan(spark, "b148_dense_global_ids")
    assert p.count("hashpartitioning(day") <= 2
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_b149_bins_run_on_nchars_histogram(spark):
    """The calibration audit scans the corpus ONCE into the
    groupBy(n_chars) histogram; the midrank window and decile binning
    run on |distinct n_chars| aggregated rows (the single-partition
    exchange sits over the histogram aggregate, never the raw scan —
    the registry-wide collapse gate double-checks that)."""
    p = _plan(spark, "b149_ece_calibration_bins")
    assert p.count("documents.parquet") == 1
    assert "SortMergeJoin" not in p


def test_b150_fact_aggregates_once(spark):
    """The pooled re-aggregate must reuse the materialized |nations|
    table, not rescan the orders-customer join: zero parquet scans in
    the final plan (both branches read the checkpointed aggregate)
    and the 1-row pooled side comes back as a broadcast."""
    p = _plan(spark, "b150_simpson_reversal_audit")
    assert "parquet" not in p  # per_nation is localCheckpointed
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_b151_both_direction_windows_share_one_user_exchange(spark):
    """Nearest-within-tolerance as-of: the backward and forward
    carry-forward windows must stack on ONE hashpartitioning(user_id)
    exchange (they re-sort, never re-shuffle), and there is no join
    anywhere — the LATERAL-rescan shape the oracle uses is exactly
    what this operator avoids."""
    p = _plan(spark, "b151_asof_tolerance_nearest")
    assert p.count("hashpartitioning(user_id") == 1
    assert "Join" not in p
    assert "SinglePartition" not in p


def test_b152_island_windows_are_user_partitioned(spark):
    """Interval union: both windows (running max(end), island cumsum)
    and the island aggregate run per-user; the only global step is
    the 25-row TakeOrderedAndProject."""
    p = _plan(spark, "b152_interval_union_coverage")
    assert "TakeOrderedAndProject" in p
    assert "SinglePartition" not in p
    assert p.count("hashpartitioning(user_id") >= 1


def test_c129_blocked_pairs_join_is_equi_not_cartesian(spark):
    """Edit-distance verify must pair candidates through the 16-char
    block-key equi-join — never an all-pairs product — and the
    top-100 by (lev, ids) must be TakeOrderedAndProject."""
    p = _plan(spark, "c129_edit_distance_verify")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_c130_corpus_explodes_once(spark):
    """JSD: the token explode + groupBy(token) pivot is materialized
    once (vocab-sized localCheckpoint); totals and the 10-way pair
    explode both consume it, so the final plan has no parquet scan
    and the 1-row totals join back as a broadcast."""
    p = _plan(spark, "c130_jsd_lang_divergence")
    assert "parquet" not in p
    assert "SortMergeJoin" not in p


def test_c131_mi_runs_on_contingency_table(spark):
    """Purity/MI: one corpus shuffle into the contingency cells; the
    marginal windows, argmax and MI terms all run on the checkpointed
    ~|clusters|x|labels| aggregate (no parquet rescans)."""
    p = _plan(spark, "c131_cluster_purity_mi")
    assert "parquet" not in p
    assert "SortMergeJoin" not in p


def test_b153_hll_merge_runs_on_register_partials(spark):
    """Portable HLL: rows shuffle once into the (day, bucket) register
    partials (localCheckpointed); the merge + estimate run on <= 64
    rows and the 1-row audit sides come back as broadcasts.  The only
    parquet scan left in the final plan is the exact-count audit
    branch."""
    p = _plan(spark, "b153_hll_portable_sketch")
    assert p.count("events.parquet") == 1  # exact-count audit only
    assert "Scan ExistingRDD" in p        # checkpointed partials
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_b154_sliding_merge_runs_on_partials_not_raw_rescans(spark):
    """Sliding HLL: the trailing-window max-merge joins the broadcast
    day spine against the checkpointed |days| x 64 partials — no
    second raw scan for the sketch path (the one events scan left is
    the exact-count audit branch)."""
    p = _plan(spark, "b154_sliding_hll_distinct")
    assert p.count("events.parquet") == 1  # exact audit branch only
    assert "Scan ExistingRDD" in p         # checkpointed partials
    assert "BroadcastNestedLoopJoin" in p  # spine range-join broadcast
    assert "CartesianProduct" not in p


def test_b156_dots_compute_only_on_bound_survivors(spark):
    """Norm-pruned MIPS: the candidate set (bounds broadcast against
    the corpus, dot computed post-filter) is checkpointed because the
    top-k and the n_scanned audit both consume it — the final plan
    joins the |candidates| RDD rows with the broadcast per-query
    stats; no CartesianProduct, no merge join, no second corpus
    scan."""
    p = _plan(spark, "b156_mips_norm_pruned_topk")
    assert p.count("embeddings.parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_b157_audit_runs_on_key_histogram(spark):
    """Skew/salt audit: ONE hash agg collapses the corpus to |keys|
    rows (checkpointed — four branches consume it, so the final plan
    has NO events scan at all); the shard explode and partition-load
    models run on key rows with 1-row broadcast summary sides."""
    p = _plan(spark, "b157_skew_salt_audit")
    assert p.count("events.parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in p      # checkpointed key histogram
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_b158_delta_joins_state_without_rescanning_base(spark):
    """Incremental matview maintenance: base state and the changed-
    user winners are both checkpointed (each feeds 2+ branches), so
    the final plan re-aggregates only ExistingRDD rows — zero rescans
    of the base facts; per-user windows, equi-joins only."""
    p = _plan(spark, "b158_incremental_agg_retraction")
    assert p.count("events.parquet") == 0  # behind the checkpoints
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_c132_rank_decomposition_avoids_global_sort(spark):
    """Blocked-rank AP: ranks come from a broadcast histogram
    cumulative + an n_chars-partitioned tie window over the
    checkpointed scored docs — no single-partition window over raw
    docs (that form is left to the DuckDB oracle)."""
    p = _plan(spark, "c132_average_precision")
    assert "CartesianProduct" not in p
    assert p.count("documents.parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in p  # checkpointed scored docs
    assert "BroadcastHashJoin" in p  # histogram cums broadcast back


# ------------------------------------------------- round-13 additions

def test_b165_zorder_audit_is_manifest_scale(spark):
    """Both layout audits collapse the fact to |files| rows with ONE
    narrow grouped aggregate each; the only join is the broadcast of
    the 1-row max(partkey/suppkey) scalar (a bounded-build BNLJ), and
    no global sort or cartesian product appears — the audit must cost
    two aggregate passes, never a table rewrite."""
    import re
    p = _plan(spark, "b165_zorder_clustering_audit")
    assert "CartesianProduct" not in p
    # scalar max rides as ONE broadcast per layout branch (node ids,
    # not raw substring count — the detail section repeats each node)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 2
    assert "SortMergeJoin" not in p
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    for r in reads:  # scan reads exactly the two key columns
        assert r.split("struct<")[1].count(":") <= 2, f"unpruned: {r}"


def test_b166_compaction_window_sits_above_manifest_aggregate(spark):
    """The cumulative-size window is single-partition BY DESIGN — but
    only over the |files| manifest: a HashAggregate (the file-id
    group-by) must appear BELOW the Window in the plan, never a raw
    scan (the exact lenience the registry-wide SinglePartition gate
    grants, asserted here explicitly for the query that uses it)."""
    p = _plan(spark, "b166_compaction_bin_packing")
    import re
    w = re.search(r"\(\d+\) Window\b", p)
    assert w is not None
    assert "HashAggregate" in p[:w.start()], \
        "manifest aggregate must precede the planning window"


def test_c136_suffix_window_is_partitioned(spark):
    """The corpus-wide suffix sort must shard by first token — a
    partitionBy-less window here would be the classic global-sort
    scale killer on the exploded suffix relation."""
    p = _plan(spark, "c136_crossdoc_suffix_lcp")
    import re
    assert re.search(r"\(\d+\) Window\b", p)
    assert "SinglePartition" not in p
    # the shuffle feeding the window hashes on the first-token key
    assert "hashpartitioning" in p


def test_c137_lpa_rounds_are_visible_joins(spark):
    """Fixed-round LPA keeps every round in ONE visible lineage
    (lazy/absent mid-loop checkpoints at 4 rounds): 4 label joins, no
    cartesian, no single-partition collapse."""
    p = _plan(spark, "c137_label_propagation_communities")
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p


def test_b167_delete_audit_single_aggregate(spark):
    """One grouped aggregate from fact to manifest; no join at all."""
    p = _plan(spark, "b167_delete_vector_audit")
    for k in ("Join", "CartesianProduct", "Window"):
        assert k not in p, k
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 1
    assert reads[0].split("struct<")[1].count(":") == 3


def test_b169_partition_audit_is_aggregate_only(spark):
    """Three candidate transforms = three narrow grouped aggregates;
    no join anywhere (the dry-run must never correlate data), every
    scan pruned to the three audited columns."""
    p = _plan(spark, "b169_partition_transform_audit")
    for k in ("Join", "CartesianProduct"):
        assert k not in p, k
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 3
    for r in reads:
        assert r.split("struct<")[1].count(":") <= 3, f"unpruned: {r}"


def test_b168_changepoint_windows_sit_above_daily_aggregate(spark):
    """The prefix-sum windows are single-partition BY DESIGN but only
    over the |days| daily aggregate (reviewed in
    _SP_ORDERING_REVIEWED): a HashAggregate must appear below the
    first Window, and the raw-scan gate must see nothing."""
    import re
    p = _plan(spark, "b168_changepoint_binary_segmentation")
    w = re.search(r"\(\d+\) Window\b", p)
    assert w is not None
    assert "HashAggregate" in p[:w.start()]
    df = REGISTRY["b168_changepoint_binary_segmentation"].fn(
        spark, SF_ORACLE)
    assert not _single_partition_exchanges_over_raw_scans(df)


def test_b170_runtime_filter_stays_key_functional(spark):
    """The filter audit must shuffle distinct KEYS, never fact rows:
    the probe side pre-aggregates before any bloom math (a
    HashAggregate below the position explode), the bit set and build
    membership ride as broadcasts, and no sort-merge join or
    cartesian appears."""
    import re
    p = _plan(spark, "b170_runtime_filter_reduction_audit")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 2
    gen = re.search(r"\(\d+\) Generate\b", p)  # the position explode
    assert gen is not None
    assert "HashAggregate" in p[:gen.start()], \
        "probe must pre-aggregate to keys before exploding positions"


def test_c139_kappa_runs_on_class_marginals(spark):
    """Kappa is one doc-level pass + |classes| marginal joins: no
    cartesian, every join broadcast, scans pruned to the two label
    columns' lineage."""
    p = _plan(spark, "c139_cohens_kappa_langid")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


# ------------------------------------------------- round-15 additions

def test_b171_write_input_is_pruned_and_result_is_metadata(spark):
    """The bucketed write input must be ONE parquet scan pruned to
    the two key columns plus the 1-row scalar-max broadcast (bounded
    BNLJ); the RESULT relation is footer metadata re-parallelized —
    it must contain no parquet read and no join at all (the data
    rode the write pass, never the driver)."""
    import re

    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_round15 \
        import _zo_bucketed

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    bp = _zo_bucketed(spark, SF_ORACLE)._jdf.queryExecution() \
        .explainString(mode)
    assert "CartesianProduct" not in bp
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", bp)) == 1
    # two pruned passes: the 1-row scalar max + the data pass (the
    # b165 shape — a scalar bound always costs its own narrow pass)
    reads = [ln for ln in bp.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 2
    for r in reads:
        assert r.split("struct<")[1].count(":") == 2, f"unpruned: {r}"

    p = _plan(spark, "b171_zorder_write_layout_check")
    assert "ReadSchema" not in p, "result must be footer metadata only"
    assert "Join" not in p


def test_b172_expiry_runs_on_checkpointed_manifest(spark):
    """The |files| manifest is built once behind a lazy checkpoint:
    the result plan reads only Scan ExistingRDD leaves (no re-scan
    of orders), the snapshot ledgers join on |snapshots| rows, and
    the 1-row head relation rides as bounded BNLJ broadcasts."""
    p = _plan(spark, "b172_snapshot_expiry_audit")
    assert "CartesianProduct" not in p
    assert "ReadSchema" not in p, "fact re-scanned past the manifest cut"
    assert "Scan ExistingRDD" in p


def test_b173_sweep_windows_sit_above_manifest_aggregate(spark):
    """Both layouts' sweep windows are single-partition BY DESIGN but
    only over pre-summed day events derived from the checkpointed
    |files| zone-map manifest (reviewed in _SP_ORDERING_REVIEWED):
    the fact is never re-scanned and a day-level HashAggregate sits
    below each Window."""
    import re
    p = _plan(spark, "b173_clustering_depth_audit")
    assert "CartesianProduct" not in p
    assert "ReadSchema" not in p, "fact re-scanned past the manifest cut"
    ws = [m.start() for m in re.finditer(r"\(\d+\) Window\b", p)]
    assert len(ws) == 2
    assert "HashAggregate" in p[:ws[0]], \
        "day events must be pre-summed below the sweep window"


def test_c140_repetition_is_one_gram_shuffle_plus_topk(spark):
    """One (doc,gram) count feeds both the argmax window and the
    per-doc totals via the checkpoint cut; the window is partitioned
    by doc (never SinglePartition), Spark 4's WindowGroupLimit prunes
    before the rank sort, the doc-props join-back is broadcast equi,
    and the final top-k compiles to TakeOrderedAndProject."""
    import re
    p = _plan(spark, "c140_gopher_repetition")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "SinglePartition" not in p
    assert "TakeOrderedAndProject" in p
    assert "WindowGroupLimit" in p
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 1, "documents must be scanned once past the cut"
    assert reads[0].split("struct<")[1].count(":") == 3


# ------------------------------------------------- round-16 additions

def test_c141_costs_one_pair_join_plus_literal_table(spark):
    """Everything after the similarity histogram must run against the
    broadcast literal p-table: exactly one shingle-equi pair join
    feeds the histogram, the ptab join is broadcast, and no cartesian
    or global sort appears below the final |grid|-row ordering."""
    import re
    p = _plan(spark, "c141_lsh_param_expected_cost")
    assert "CartesianProduct" not in p
    assert re.search(r"\(\d+\) BroadcastHashJoin", p)
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    # documents feeds the shingle side(s); nothing else is scanned
    assert all("doc_id" in r for r in reads)


def test_b175_bloom_audit_is_manifest_relational(spark):
    """The bit relation and probe joins must stay relational: no
    cartesian, the probe-side relations ride as broadcasts, and the
    only window-free SP collapse is the 1-row max(partkey) scalar."""
    p = _plan(spark, "b175_file_bloom_index_audit")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    df = REGISTRY["b175_file_bloom_index_audit"].fn(spark, SF_ORACLE)
    assert not _single_partition_exchanges_over_raw_scans(df)


def test_b176_merge_planner_windows_sit_above_manifest(spark):
    """Both interval-grouping windows are single-partition BY DESIGN
    but only over the |files| manifest aggregate (reviewed in
    _SP_ORDERING_REVIEWED): a HashAggregate must appear below the
    first Window and the raw-scan gate must see nothing."""
    import re
    p = _plan(spark, "b176_sorted_run_merge_planner")
    w = re.search(r"\(\d+\) Window\b", p)
    assert w is not None
    assert "HashAggregate" in p[:w.start()]
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 1
    assert reads[0].split("struct<")[1].count(":") == 2
