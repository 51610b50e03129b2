"""The registry sweep: every registry query is built once at sf0.001,
its physical plan passes the raw-scan plan gates of
tests/test_plan_quality.py, and it hash-matches its DuckDB oracle (the
local mirror of the driver's t2 correctness gate) or, rows-only, runs
to a count."""

from __future__ import annotations

import pytest

from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY
from tests.conftest import SF_SMALL
from tests.oracle_harness import compare, duck_connection
from tests.test_plan_quality import raw_scan_findings


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


# Queries whose oracle legitimately returns zero rows on this
# synthetic corpus (semantics preserved from their spec; an oracle
# pass on them is rows==0 both sides, which IS the correct answer).
_KNOWN_EMPTY_ORACLES = {
    # TPC-H Q22: no customer clears the above-average-balance +
    # seven-year-dormancy double filter on the synthetic orders
    "q22_dormant_accounts",
}


@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMALL)
    bad = raw_scan_findings(name, sdf)
    assert not bad, f"{name}: raw-scan global collapse: {bad[0][:120]}"
    if spec.oracle is None:  # rows-only: see test_rows_only_set_is_pinned
        assert sdf.count() >= 0
        return
    ddf = duck.sql(spec.oracle).df()
    # a 0-row oracle passes the value-hash check without testing
    # anything (the b36/c62/c106/c25 lesson)
    assert len(ddf) or name in _KNOWN_EMPTY_ORACLES, \
        f"{name}: vacuously-empty oracle"
    compare(sdf, ddf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_c64b_sketch_matrix_tracks_exact_c64(spark, duck):
    """The KMV-sketched source-overlap matrix must agree with the
    exact inverted-index Jaccard within sketch tolerance (k=256 ->
    ~6% std on retained-fraction estimates; the fixture Jaccards are
    2-4%, so absolute ppm slack is the meaningful bound)."""
    exact = {(r[0], r[1]): r[2] for r in duck.sql("""
        WITH t AS (SELECT source,
                          string_split_regex(trim(lower(text)), ' +')
                            AS toks
                   FROM documents),
        sh AS (SELECT DISTINCT source,
                      unnest(list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                             || toks[i+2]))) AS sh
               FROM t),
        sizes AS (SELECT source, count(*) AS n_sh FROM sh
                  GROUP BY source),
        common AS (SELECT a.source s1, b.source s2, count(*) n
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2)
        SELECT s1, s2, n * 1000000 // (x.n_sh + y.n_sh - n)
        FROM common JOIN sizes x ON x.source = s1
                    JOIN sizes y ON y.source = s2""").fetchall()}
    got = {(r["src1"], r["src2"]): r["jaccard_est_ppm"] for r in
           REGISTRY["c64b_source_overlap_sketched"]
           .fn(spark, SF_SMALL).collect()}
    assert exact and set(exact) <= set(got)
    diffs = sorted(abs(got[k] - e) for k, e in exact.items())
    assert diffs[-1] <= 30_000, f"max drift {diffs[-1]} ppm"
    assert diffs[int(len(diffs) * 0.9)] <= 15_000
