"""Run EVERY registry query against its DuckDB oracle at a given SF
with a vanilla SparkSession (mirrors the driver's CORRECTNESS gate).

Usage:  python scripts/validate_registry.py [sf_dir] [name_prefix...]

Prints one line per query (OK / ROWS-ONLY / FAIL) and a final tally;
exit code 1 if any FAIL.  Unlike tests/test_driver_queries.py (which
runs at sf0.001 inside pytest fixtures), this uses the driver's exact
recipe: plain builder session, sf0.01 default, order-insensitive
value compare via tests.oracle_harness.compare.
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")

from pyspark.sql import SparkSession

import __spark_entry__ as entry
from tests.oracle_harness import compare, duck_connection

# Rows-only retirement policy (COVERAGE.md / VERDICT r09 task 8):
# every rows-only registration names its value-oracled twin query or
# byte-exact pytest reference here; the twin is printed next to the
# ROWS-ONLY line so a reviewer never has to hunt for the compensating
# check.  A pytest reference is a `tests/<module>.py[::<test>]` token;
# tests/test_entry_contract.py pins that each one runs in the default
# tier.  Adding a rows-only query WITHOUT an entry here fails the
# startup assert below.
ROWS_ONLY_TWINS: dict[str, str] = {
    "b23_approx_sketches": "exact twins b17/b20/b22 (value-oracled)",
    "c06f_minhash_neardup_fast":
        "twin c06 (portable-hash banding oracle) + "
        "tests/test_rows_only_references.py::test_c06f_recall_contract",
    "c07f_simhash_neardup_fast":
        "twin c07 (exact all-pairs spec) + tests/test_operators_extra.py"
        "::test_simhash_multitable_full_recall_vs_brute_force",
    "c18_kmeans_ivf_ann":
        "twin c09 (fixed-centroid IVF, value-oracled) + "
        "tests/test_operators_extra.py"
        "::test_kmeans_ivf_full_probe_equals_brute_force",
    "c32_pagerank_centrality":
        "twin c104_pagerank_int (integer-ppm, driver-green r04)",
    "c26_pq_ann": "twin c26c_pq_adc_int (int-grid PQ/ADC, value-oracled)",
    "c26b_pq_kmeans_ann": "twin c26c_pq_adc_int",
    "b41_hll_partial_union":
        "twin b153_hll_portable_sketch (portable md5-48 registers)",
    "b49_sliding_distinct_sketch": "twin b154_sliding_hll_distinct",
    "c44_mllib_tfidf": "twin c14_tfidf_top_terms (exact-integer tf-idf)",
    "c59_compression_ratio":
        "tests/test_rows_only_references.py"
        "::test_compression_ratio_matches_python_zlib_exactly "
        "(byte-exact python-zlib reference)",
    "c66_quality_classifier":
        "tests/test_rows_only_references.py"
        "::test_c66_classifier_separates_weak_classes + "
        "tests/test_rows_only_references.py"
        "::test_c66_rerun_is_deterministic",
    "c82b_bpe_learn_merges":
        "tests/test_bpe.py exact sequential Sennrich reference",
    "c83_bpe_token_frequencies": "tests/test_bpe.py (same merge loop)",
    "c84_bpe_fertility_by_lang": "tests/test_bpe.py (same merge loop)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # args starting with '-' are EXCLUDE prefixes (e.g. -c145 -c06);
    # used by the sf1 scale sweep to skip queries whose DuckDB oracle
    # is brute-force BY DESIGN (the Spark side has a banded/filtered
    # scale path, but the oracle re-derives the spec quadratically
    # and dominates wall-clock one decade up)
    prefixes = [a for a in sys.argv[2:] if not a.startswith("-")]
    excludes = [a[1:] for a in sys.argv[2:] if a.startswith("-")]
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing_twin = [k for k in qs if k not in oracles
                    and k not in ROWS_ONLY_TWINS]
    assert not missing_twin, (
        f"rows-only queries without a declared twin/reference "
        f"(COVERAGE.md retirement policy): {missing_twin}")
    if prefixes:
        qs = {k: v for k, v in qs.items()
              if any(k.startswith(p) for p in prefixes)}
    if excludes:
        skipped = [k for k in qs
                   if any(k.startswith(p) for p in excludes)]
        for k in skipped:
            print(f"{k:40s}   SKIP (excluded)", flush=True)
        qs = {k: v for k, v in qs.items() if k not in set(skipped)}
    n_ok = n_rows_only = 0
    failures: list[str] = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                compare(df, con.sql(oracles[name]).df(), name)
                n_ok += 1
                status = "OK"
            else:
                n = df.count()
                assert n >= 0
                n_rows_only += 1
                status = (f"ROWS-ONLY ({n} rows) — "
                          f"{ROWS_ONLY_TWINS[name]}")
        except Exception:
            failures.append(name)
            status = "FAIL\n" + traceback.format_exc(limit=3)
        print(f"{name:40s} {time.time() - t0:6.2f}s  {status}", flush=True)
    print(f"\n{n_ok} value-checked OK, {n_rows_only} rows-only, "
          f"{len(failures)} FAIL: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
