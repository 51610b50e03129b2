"""Driver-contract invariants for __spark_entry__ (the surface the
external verifier consumes): queries() and oracle_sql() serve the
registry in registry order, and the rows-only set is pinned."""

from __future__ import annotations

import re

import __spark_entry__ as entry
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY


def test_queries_and_oracle_share_order_and_keys():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # oracle dict must iterate in the same relative order as queries
    qpos = {k: i for i, k in enumerate(q)}
    opos = [qpos[k] for k in o]
    assert opos == sorted(opos)


def test_rotation_loses_nothing():
    assert list(entry.queries()) == list(REGISTRY)


def test_rows_only_set_is_pinned():
    """Rows-only retirement policy (COVERAGE.md, VERDICT r09 task 8):
    a rows-only registration is admissible only with a named
    value-oracled twin or byte-exact pytest reference.  This pin makes
    the policy mechanical: adding a rows-only query means editing BOTH
    this set and scripts/validate_registry.py's ROWS_ONLY_TWINS — so
    the justification is restated at the moment of addition, never
    back-filled."""
    import importlib

    vr = importlib.import_module("scripts.validate_registry")
    rows_only = {n for n, s in REGISTRY.items() if not s.oracle}
    assert rows_only == {
        "b23_approx_sketches", "c06f_minhash_neardup_fast",
        "c07f_simhash_neardup_fast", "c18_kmeans_ivf_ann",
        "c32_pagerank_centrality", "c26_pq_ann", "c26b_pq_kmeans_ann",
        "b41_hll_partial_union", "b49_sliding_distinct_sketch",
        "c44_mllib_tfidf", "c59_compression_ratio",
        "c66_quality_classifier", "c82b_bpe_learn_merges",
        "c83_bpe_token_frequencies", "c84_bpe_fertility_by_lang",
    }
    # every rows-only name declares its twin; no orphan declarations
    assert set(vr.ROWS_ONLY_TWINS) == rows_only
    # twins that are registry names must exist and be value-oracled
    for twin_note in vr.ROWS_ONLY_TWINS.values():
        for tok in twin_note.replace("(", " ").replace(")", " ").split():
            if tok in REGISTRY:
                assert REGISTRY[tok].oracle, \
                    f"declared twin {tok} is itself rows-only"
    # every pytest reference (`tests/<module>.py[::<test>]`; a bare
    # module means all its tests) exists and is not marked to skip — a
    # reference that does not run checks nothing
    refs = re.findall(r"tests/(test_\w+)\.py(?:::(test_\w+))?",
                      " ".join(vr.ROWS_ONLY_TWINS.values()))
    assert refs
    for mod_name, test_name in refs:
        mod = importlib.import_module(f"tests.{mod_name}")
        names = [test_name] if test_name else \
            [n for n in vars(mod) if n.startswith("test_")]
        assert names, f"tests/{mod_name}.py has no tests"
        for name in names:
            nodeid = f"tests/{mod_name}.py::{name}"
            fn = getattr(mod, name, None)
            assert callable(fn), f"{nodeid} does not exist"
            marks = [m for obj in (mod, fn)
                     for m in _as_list(getattr(obj, "pytestmark", []))]
            assert not any(m.name in ("skip", "skipif", "xfail")
                           for m in marks), f"{nodeid} is marked {marks}"


def _as_list(marks):
    return marks if isinstance(marks, list) else [marks]

