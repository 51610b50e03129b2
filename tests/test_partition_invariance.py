"""Partition-count invariance: results must not depend on
spark.sql.shuffle.partitions.

The driver runs queries under ITS session config, the local gate under
ours — any result that shifts with the shuffle layout (a missing
tiebreak under LIMIT, per-partition state leaking into output, a
nondeterministic aggregate order) would pass one and fail the other.
This gate re-runs a fixed list of 52 value-oracled registry queries
with a deliberately awkward partition count (7) and value-compares
against DuckDB again.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.oracle_harness import compare, duck_connection
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_SMALL)


@pytest.fixture(scope="module")
def spark7(spark):
    """The shared session with shuffle.partitions flipped to 7 for
    this module and restored afterwards.  (A sibling newSession()
    leaked as the thread's ACTIVE session and later Spark-internal
    getActiveSession() paths hit a null-session NPE mid-suite —
    flipping the session-level conf in place tests the same
    invariance property without multi-session hazards.)"""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)


# The gated queries: one fixed list, independent of registry order.
# Each name is value-oracled.
_INVARIANCE_GATED = (
    "b184_watermark_delay_audit", "b185_column_profile",
    "b186_hll_hierarchy_rollup", "c150_dedup_threshold_curve",
    "c151_context_packing_audit", "c152_stratified_split_audit",
    "c153_vocab_coverage_curve", "b187_scd2_late_arrival_repair",
    "c154_temperature_mixture_weights",
    "b132_interval_union_utilization", "c114_dedup_mixture_shift",
    "b133_neyman_allocation", "c115_bm25_retrieval",
    "c116_markov_stationary_int", "c118_pass_at_k",
    "b137_theil_sen_slope", "b138_l_diversity", "c119_modularity_int",
    "c120_matryoshka_audit", "b139_holt_linear_forecast",
    "c121_lexical_diversity", "c122_rouge_dup_audit",
    "c123_lsh_band_sweep", "b140_streaming_dedup_restart",
    "b141_countmin_frequency", "c124_priority_sample",
    "c125_minhash_estimate_error", "b142_streaming_late_data_drop",
    "b143_streaming_stream_join", "b144_bloom_membership",
    "c126_sampled_quantiles", "b145_streaming_cdc_upsert",
    "c127_knn_label_consistency", "b146_clamped_running_balance",
    "c128_dsir_importance", "b147_top_session_paths",
    "b148_dense_global_ids", "b149_ece_calibration_bins",
    "b150_simpson_reversal_audit", "b151_asof_tolerance_nearest",
    "b152_interval_union_coverage", "c129_edit_distance_verify",
    "c130_jsd_lang_divergence", "c131_cluster_purity_mi",
    "b153_hll_portable_sketch", "b154_sliding_hll_distinct",
    "b156_mips_norm_pruned_topk", "b157_skew_salt_audit",
    "b158_incremental_agg_retraction", "c132_average_precision",
    "b159_qdigest_quantiles", "b160_sliding_qdigest",
)


@pytest.mark.parametrize("name", _INVARIANCE_GATED)
def test_new_queries_invariant_to_shuffle_partitions(spark7, duck, name):
    spec = REGISTRY[name]
    compare(spec.fn(spark7, SF_SMALL), duck.sql(spec.oracle).df(), name)
