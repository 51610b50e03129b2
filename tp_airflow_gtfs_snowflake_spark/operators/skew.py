"""Skew mitigation: salted distinct aggregation.

AQE's skew-join splitting (enabled in session.py) handles skewed joins
at runtime by splitting oversized shuffle blocks.  Salting is the
manual complement for the case AQE can't fix: a count-distinct whose
hot group funnels every distinct value through one reducer (b22 runs
it).  The salt only changes WHERE rows meet, never WHICH rows meet,
so the result is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(df: DataFrame, *, group_cols: list[str],
                          distinct_col: str,
                          salt_buckets: int = 8) -> DataFrame:
    """Exact COUNT(DISTINCT distinct_col) per group via two-phase
    salting: phase 1 counts distincts within (group, hash-bucket of
    the value) — buckets partition the value space, so per-bucket
    distinct counts SUM exactly; phase 2 sums the buckets per group.

    A plain countDistinct routes each hot group through one reducer
    holding the whole distinct set; here no task ever sees more than
    ~|distinct values| / salt_buckets of it.
    """
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt_buckets))
    per_bucket = (df.withColumn("_salt", salt)
                  .groupBy(*group_cols, "_salt")
                  .agg(F.countDistinct(distinct_col).alias("_d")))
    return (per_bucket.groupBy(*group_cols)
            .agg(F.sum("_d").cast("long").alias("n_distinct")))
