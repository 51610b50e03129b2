"""Driver-contract invariants for __spark_entry__ (the surface the
external verifier consumes).  The driver checks only a ~50-query
prefix of queries() in dict order, so the rotation that surfaces
not-yet-verified queries first is load-bearing — pin it."""

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


def test_rotation_front_window_is_unverified():
    q = list(entry.queries())
    verified = entry._driver_verified() - set(entry._REVERIFY_CHANGED)
    oracled = {n for n, s in REGISTRY.items() if s.oracle}
    # reconstruct prio with _rotated's EXACT filter (oracled, not just
    # registered; dict dedups a name pinned in both lists)
    prio = list(dict.fromkeys(
        n for n in entry._NEW_THIS_ROUND + entry._REVERIFY_CHANGED
        if n in oracled and n not in verified))
    # this round's pins lead, in order; names with a green driver row
    # drop out of the pin automatically (stale pins burn no slots)
    assert q[:len(prio)] == prio
    rest = q[len(prio):]
    n_front = len(rest) - len(verified - set(prio))
    front, back = rest[:n_front], rest[n_front:]
    assert not (set(front) & verified), "verified name leaked into front"
    assert set(back) == verified - set(prio), \
        "rotation dropped or invented names"


def test_rotation_loses_nothing():
    assert set(entry.queries()) == set(REGISTRY)


def test_verified_names_exist_in_registry():
    """The artifact-derived verified set must reference only live
    registry names (a rename would silently re-open its old name's
    slot and orphan the artifact row)."""
    missing = entry._driver_verified() - set(REGISTRY)
    assert not missing, f"verified names not in registry: {missing}"


def test_verified_derivation_counts_match_artifacts():
    """The derivation reads every committed CORRECTNESS artifact with
    LATEST-row-wins (ADVICE r07 fixed this docstring: a later red row
    re-opens the slot).  Two independent guards replace the stale
    hardcoded count floor (which could not detect a lost artifact
    once windows start re-verifying old names):

    1. every BENCH_r*.json round must have its CORRECTNESS sibling
       (the driver writes both per round), and each artifact must
       parse as a dict of >= 40 rows — a deleted or truncated
       artifact trips loudly even though _driver_verified() itself
       degrades silently by design;
    2. the verified set must equal an independent recomputation that
       walks the artifacts in REVERSE order with first-seen-wins
       (equivalent semantics, different code path)."""
    import json
    import pathlib
    import re

    root = pathlib.Path(entry.__file__).resolve().parent
    # Only NUMERIC rounds carry the BENCH/CORRECTNESS sibling
    # invariant: the r11 driver also committed BENCH_r11_c8.json (its
    # 8-core scaling run), which is an auxiliary artifact, not a
    # round (found by this test failing after the r11 close — the one
    # red in the r12 green-up).
    def rounds(prefix):
        return {m.group(1) for p in root.glob(f"{prefix}_r*.json")
                if (m := re.fullmatch(rf"{prefix}_r(\d+)", p.stem))}
    c_rounds = rounds("CORRECTNESS")
    b_rounds = rounds("BENCH")
    assert b_rounds <= c_rounds, \
        f"CORRECTNESS artifact missing for rounds {sorted(b_rounds - c_rounds)}"
    assert len(c_rounds) >= 7  # r01-r07 are committed history

    last: dict = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json"), reverse=True):
        recs = json.loads(path.read_text())  # corrupt artifact fails HERE
        assert isinstance(recs, dict) and len(recs) >= 40, \
            f"{path.name} suspiciously small ({len(recs)} rows)"
        for name, rec in recs.items():
            if name not in last:
                last[name] = bool(
                    rec.get("hash_match")
                    or (rec.get("err") == "no_oracle"
                        and rec.get("spark_rows") is not None))
    expect = frozenset(n for n, green in last.items() if green)
    assert entry._driver_verified() == expect


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


def test_back_bucket_is_staleness_ordered():
    """Free window slots spill into `back`, so it must surface the
    STALEST driver signal first (VERDICT r08 task 4): already-verified
    names ordered by the round of their most recent driver row
    (ascending), registry order within a round."""
    q = list(entry.queries())
    verified = entry._driver_verified() - set(entry._REVERIFY_CHANGED)
    back = [n for n in q if n in verified]
    _, last_rnd = entry._latest_rows()
    rounds = [last_rnd[n] for n in back]
    assert rounds == sorted(rounds), \
        "back bucket must be oldest-latest-row first"
    # within one round, registry order is preserved (stable sort)
    reg = {n: i for i, n in enumerate(REGISTRY)}
    for r in set(rounds):
        idxs = [reg[n] for n in back if last_rnd[n] == r]
        assert idxs == sorted(idxs)
