"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementations live in tp_airflow_gtfs_snowflake_spark.plans.driver_queries;
this module only adapts them to the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tp_airflow_gtfs_snowflake_spark.plans import driver_queries as _dq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (scan+join+window+agg+top-k) on sf0.001."""
    return _dq.flagship_span_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, in registry order."""
    return _dq.queries()


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every value-oracled query, in registry
    order."""
    return _dq.oracle_sql()
