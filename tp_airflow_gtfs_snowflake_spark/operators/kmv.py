"""KMV (k-minimum-values) / theta sketches: mergeable distinct-count
AND set-intersection estimation.

Public algorithm: Bar-Yossef et al. "Counting distinct elements in a
data stream" (RANDOM 2002) + the theta-sketch set-algebra framing
(Dasgupta et al., "Theta sketch framework", 2016).  Complements the
existing sketch family: HLL partials (b41/b49) union cheaply but
CANNOT intersect; KMV sketches support intersection because they
retain actual hash samples below a threshold.

Sketch representation: for each group, the k smallest DISTINCT
48-bit hashes, sorted ascending.  theta = k-th smallest (or the full
hash space when the group holds < k distinct values, in which case
the sketch is exact).  "Retained" values are the hashes < theta.

- estimate(|A|)          = (k-1) * SPACE / theta_A
- estimate(|A inter B|)  = |{h in retained_A inter retained_B,
                             h < theta}| * SPACE / theta,
                           theta = min(theta_A, theta_B)

All arithmetic is integer (truncating div) and the hash is PORTABLE
(first 12 md5 hex chars parsed base-16 — the verified c81 idiom), so
a SQL oracle reproduces every estimate bit-for-bit: this sketch is
value-checkable, not merely bounded.

Scale design (100 TB):
- Partial sketches build per input partition inside one Arrow-batched
  mapInPandas pass (<= k rows emitted per group per partition) — the
  mergeable-summaries shape (Agarwal et al., PODS 2012).  The only
  exchange moves k-bounded partials, never the distinct values.
- Merging partials = array_distinct + sort + slice(k) in ONE hash
  aggregation; intersection of two sketches is array math on two
  k-arrays (a broadcastable handful of rows per group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_BITS = 48
SPACE = 1 << HASH_BITS  # exclusive upper bound of the hash space


def portable_hash48(col: Column) -> Column:
    """First 12 md5 hex chars as a 48-bit integer — engine-portable
    (Spark conv(,16,10) == DuckDB CAST('0x'||hex AS BIGINT))."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10)
            .cast("long"))


# portable_hash48 in DuckDB SQL, for oracles: format ``{c}`` with the
# SQL expression to hash.
PORTABLE_HASH48_SQL = ("CAST('0x' || substr(md5(CAST({c} AS VARCHAR)), "
                       "1, 12) AS BIGINT)")


def kmv_partials(df: DataFrame, group_col: str, hash_col: str,
                 k: int = 128) -> DataFrame:
    """Per-partition partial sketches: <= k smallest distinct hashes
    per group per partition, one (group, h) row each.

    The output group type mirrors the input (schema is derived, not
    hardcoded — a bigint group key must not hit an Arrow string
    cast).  NULL hashes are dropped INSIDE the Arrow pass: a NULL
    element contributes nothing to a distinct sketch, and as pandas
    NaN it would break sorted()'s ordering and could evict a genuine
    small hash from the k-slot window.  A JVM-side
    filter(h.isNotNull()) would be wrong here even though it reads
    cleaner: when the hash column is a computed expression Catalyst
    inlines it into the pushed-down predicate and evaluates the full
    hash (md5+conv for portable_hash48) TWICE per input row — once
    pre-shuffle in the filter, once in the projection (measured +20%
    on b102 at sf0.1; a 100 TB scan pays the hash twice).  Dropping
    NaN on the k-bounded pandas side is free.

    CONTRACT: ``hash_col`` values must fit in 53 bits.  An Arrow
    chunk containing a NULL coerces the pandas column to float64,
    which is lossless only below 2**53 — fine for the portable 48-bit
    hashes every current caller passes, silently corrupting for full
    64-bit hashes.  Guarded with a per-chunk assert on the (rare)
    float64 path so a future 64-bit caller fails loudly instead."""
    import pandas as pd

    g_type = df.schema[group_col].dataType.simpleString()

    def part(batches):
        mins: dict[object, object] = {}
        for pdf in batches:
            # dropna=False: a NULL group is a group (matches Spark /
            # SQL GROUP BY semantics, which keep the NULL bucket)
            for g, sub in pdf.groupby("g", sort=False, dropna=False):
                hv = sub["h"].dropna()
                if hv.dtype.kind == "f" and len(hv):
                    # NULL in the chunk -> float64 round-trip; exact
                    # only below 2^53 (see CONTRACT in the docstring)
                    assert float(hv.abs().max()) < 2.0 ** 53, (
                        "kmv_partials: hash values exceed 2^53 and a "
                        "NULL forced a float64 round-trip; pass a "
                        "<=53-bit hash (e.g. portable_hash48)")
                hs = set(hv.astype("int64"))
                prev = mins.get(g)
                if prev is not None:
                    hs |= prev
                mins[g] = set(sorted(hs)[:k])
        for g, hs in mins.items():
            yield pd.DataFrame({"g": [g] * len(hs),
                                "h": sorted(hs)})

    return (df.select(F.col(group_col).alias("g"),
                      F.col(hash_col).alias("h"))
            .mapInPandas(part, f"g {g_type}, h long"))


def kmin_merge_agg(hash_col: str, k: int) -> Column:
    """THE canonical k-min merge aggregation (k smallest distinct
    hashes, ascending) — shared by the batch sketch below and the
    streaming accumulator (streaming/sketch_state.py) so the merge
    idiom cannot drift between the two."""
    return F.slice(F.array_sort(F.array_distinct(
        F.collect_list(hash_col))), 1, k).alias("sketch")


def kmv_sketch(df: DataFrame, group_col: str, hash_col: str,
               k: int = 128) -> DataFrame:
    """Merged sketch per group: ``(g, sketch array<long>)`` with the
    k smallest distinct hashes, ascending."""
    partials = kmv_partials(df, group_col, hash_col, k)
    return partials.groupBy("g").agg(kmin_merge_agg("h", k))


def theta_col(sketch: Column, k: int) -> Column:
    """k-th smallest hash, or the full space for a non-full sketch
    (then the sketch is exact)."""
    return (F.when(F.size(sketch) >= k, F.element_at(sketch, k))
            .otherwise(F.lit(SPACE)))


def with_distinct_estimate(sketch_df: DataFrame, k: int,
                           sketch_col: str = "sketch",
                           out: str = "est") -> DataFrame:
    """Add the distinct-count estimate column.  TRUNCATING integer
    `div` (never double `/`: (k-1)*SPACE exceeds 2^53, so a float
    quotient would round differently than an integer oracle)."""
    return (sketch_df
            .withColumn("_th", theta_col(F.col(sketch_col), k))
            .withColumn(out, F.when(
                F.size(sketch_col) < k,
                F.size(sketch_col).cast("long"))
                .otherwise(F.expr(f"{(k - 1) * SPACE} div _th")
                           .cast("long")))
            .drop("_th"))


def with_intersect_estimate(pairs_df: DataFrame, k: int,
                            sk_a: str = "sketch_a",
                            sk_b: str = "sketch_b",
                            out: str = "est_inter") -> DataFrame:
    """Add the theta-sketch intersection estimate for rows holding two
    sketch arrays.  retained = hashes < combined theta; sketches are
    sorted distinct arrays, so array_intersect + a threshold filter is
    the entire candidate set."""
    th = F.least(theta_col(F.col(sk_a), k), theta_col(F.col(sk_b), k))
    return (pairs_df
            .withColumn("_th", th)
            .withColumn("_common", F.filter(
                F.array_intersect(F.col(sk_a), F.col(sk_b)),
                lambda h: h < F.col("_th")))
            .withColumn(out, F.expr(
                f"cast(size(_common) as bigint) * {SPACE} div _th")
                .cast("long"))
            .drop("_th", "_common"))


def with_anotb_estimate(pairs_df: DataFrame, k: int,
                        sk_a: str = "sketch_a",
                        sk_b: str = "sketch_b",
                        out: str = "est_anotb") -> DataFrame:
    """Add the theta-sketch A-not-B (set difference) estimate: count
    retained hashes of A below the combined theta that B's retained
    set does NOT hold, rescale by the sampled fraction.  Completes
    the sketch set algebra (union = merge, intersect above, minus
    here) — the Dasgupta et al. a-not-b operation."""
    th = F.least(theta_col(F.col(sk_a), k), theta_col(F.col(sk_b), k))
    return (pairs_df
            .withColumn("_th", th)
            .withColumn("_only", F.filter(
                F.array_except(F.col(sk_a), F.col(sk_b)),
                lambda h: h < F.col("_th")))
            .withColumn(out, F.expr(
                f"cast(size(_only) as bigint) * {SPACE} div _th")
                .cast("long"))
            .drop("_th", "_only"))
