"""Value references for rows-only registry queries.

A rows-only query has no DuckDB oracle, so the default tier checks
its values here instead (scripts/validate_registry.py ROWS_ONLY_TWINS
names each reference; tests/test_entry_contract.py pins that every
named reference runs in the default tier).  The BPE queries c82b, c83
and c84 are checked by tests/test_bpe.py.
"""

from __future__ import annotations

import zlib

import pytest

from tests.conftest import SF_ORACLE, SF_SMALL
from tests.oracle_harness import duck_connection
from tp_airflow_gtfs_snowflake_spark.functions.compression import (
    ZLIB_LEVEL, with_compression_ratio)
from tp_airflow_gtfs_snowflake_spark.plans import (
    driver_queries_round5 as r5)
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    REGISTRY, _t)


# ----------------------------------------------------- c59 compression

def test_compression_ratio_matches_python_zlib_exactly(spark):
    """Every sf0.001 doc: comp_bytes == len(zlib.compress(utf8)),
    ratio_ppm == comp*1e6 // raw (the determinism contract)."""
    docs = _t(spark, SF_SMALL, "documents")
    got = with_compression_ratio(docs).select(
        "doc_id", "text", "comp_bytes", "ratio_ppm").collect()
    assert len(got) > 0
    for r in got:
        raw = (r.text or "").encode("utf-8")
        cb = len(zlib.compress(raw, ZLIB_LEVEL))
        assert r.comp_bytes == cb
        exp = (cb * 1_000_000) // len(raw) if raw else 1_000_000
        assert r.ratio_ppm == exp


def test_compression_ratio_band_semantics(spark):
    rows = [(1, "a" * 500),                      # boilerplate: tiny ratio
            (2, "kq9x7zj2vw8m3fp1hy6tn0bd5rc4"),  # noisy: high ratio
            (3, "")]                              # empty: pinned 1e6
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.ratio_ppm
           for r in with_compression_ratio(df).collect()}
    assert out[1] < 300_000
    assert out[2] > 900_000
    assert out[3] == 1_000_000


# ---------------------------------------------- c66 quality classifier

def test_c66_classifier_separates_weak_classes(spark):
    out = {r.lang: r for r in
           r5.c66_quality_classifier(spark, SF_ORACLE).collect()}
    assert len(out) == 5
    en = out["en"].mean_quality_prob
    others = [r.mean_quality_prob for lg, r in out.items() if lg != "en"]
    assert en > max(others), "model fails to separate the weak label"
    for r in out.values():
        assert 0.0 <= r.mean_quality_prob <= 1.0
        assert 0 <= r.n_pred_quality <= r.n_docs


def test_c66_rerun_is_deterministic(spark):
    a = sorted(map(tuple, r5.c66_quality_classifier(
        spark, SF_SMALL).collect()))
    b = sorted(map(tuple, r5.c66_quality_classifier(
        spark, SF_SMALL).collect()))
    assert a == b


# -------------------------------------------------- c06f MinHash LSH

@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_SMALL)


def test_c06f_recall_contract(spark, duck):
    """c06f went rows-only after the sf0.1 sweep measured an LSH
    recall miss (255/256, J=0.980 pair) — this pins the contract that
    replaces the retired exact-set oracle: emitted pairs are a SUBSET
    of the exact Jaccard >= 0.5 set, emitted jaccard values are EXACT
    (hash-independent verify), and recall is total at the gate scale.
    A sf0.1-style miss would trip only the recall clause, never
    subset/value-exactness — those are deterministic guarantees."""
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        C06F_EXACT_PAIRS_SQL)

    got = {(r["d1"], r["d2"]): r["jaccard"] for r in
           REGISTRY["c06f_minhash_neardup_fast"].fn(spark, SF_SMALL)
           .collect()}
    exact = {(int(r.d1), int(r.d2)): float(r.jaccard) for r in
             duck.sql(C06F_EXACT_PAIRS_SQL).df().itertuples()}
    assert set(got) <= set(exact), "emitted a pair outside the exact set"
    for pair, j in got.items():
        assert abs(j - exact[pair]) < 1e-12, (pair, j, exact[pair])
    assert set(got) == set(exact), "recall < 1.0 at gate scale"
