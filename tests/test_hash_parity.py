"""Three-way parity for the engine-portable 48-bit hash, the
cornerstone ~200 oracled queries build their determinism on:

    Spark  conv(substring(md5(CAST(x AS STRING)), 1, 12), 16, 10)
    DuckDB CAST('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 12) AS BIGINT)
    python int(hashlib.md5(str(x).encode()).hexdigest()[:12], 16)

All three must agree bit-for-bit on every value either engine will
ever hash: BIGINT keys (incl. negatives and the int64 extremes) and
strings (unicode, whitespace, quotes, md5-looking hex, huge).
Hypothesis drives adversarial batches; each example is ONE Spark job
over the batch, so the property run stays cheap.
"""

from __future__ import annotations

import hashlib

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.operators.kmv import (
    PORTABLE_HASH48_SQL, portable_hash48)

EDGE_STRINGS = ["", " ", "  ", "0", "-0", "1.0", "nan", "NULL", "None",
                "a" * 4096, "\t\n", "'quote'", '"dq"', "背景モデル",
                "naïve café", "0x1234", "deadbeefdead",
                "00000000000000000000", "-9223372036854775808"]
EDGE_LONGS = [0, 1, -1, 7, -7, 2**31, -2**31, 2**63 - 1, -2**63,
              999999999999999999]


def _py48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _spark_hashes(spark, values, spark_type):
    df = spark.createDataFrame([(v,) for v in values],
                               f"v {spark_type}")
    return [r.h for r in
            df.select(portable_hash48(F.col("v")).alias("h"))
            .collect()]


def _duck_hashes(values, duck_cast):
    # the oracles' template: the hashed value is ALWAYS stringified
    # first (md5 takes VARCHAR), typed keys included
    con = duckdb.connect()
    sql = "SELECT " + PORTABLE_HASH48_SQL.format(c=f"CAST(? AS {duck_cast})")
    return [con.execute(sql, [v]).fetchone()[0] for v in values]


def test_edge_strings_three_way(spark):
    vals = EDGE_STRINGS
    py = [_py48(v) for v in vals]
    assert _spark_hashes(spark, vals, "string") == py
    assert _duck_hashes(vals, "VARCHAR") == py


def test_edge_longs_three_way(spark):
    vals = EDGE_LONGS
    py = [_py48(str(v)) for v in vals]
    assert _spark_hashes(spark, vals, "long") == py
    assert _duck_hashes(vals, "BIGINT") == py


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(min_size=0, max_size=64), min_size=1,
                max_size=40, unique=True))
def test_random_strings_three_way(spark, vals):
    py = [_py48(v) for v in vals]
    assert _spark_hashes(spark, vals, "string") == py
    assert _duck_hashes(vals, "VARCHAR") == py


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                min_size=1, max_size=40, unique=True))
def test_random_longs_three_way(spark, vals):
    py = [_py48(str(v)) for v in vals]
    assert _spark_hashes(spark, vals, "long") == py
    assert _duck_hashes(vals, "BIGINT") == py


def test_hash_is_48_bit_non_negative(spark):
    hs = _spark_hashes(spark, EDGE_STRINGS, "string")
    assert all(0 <= h < 2**48 for h in hs)
