"""Deduplication operators (charter C1): exact, normalized, n-gram
Jaccard, MinHash+LSH, SimHash — all native DataFrame expressions (no
Python in the hot path).

Scale design (100 TB corpus):
- exact/normalized dedup groups by a 128-bit content hash, never by
  the full text (shuffling md5 keys instead of document bodies).
- MinHash/LSH: signatures are computed per document in a single
  narrow pass (explode shingles -> xxhash64 -> groupBy doc);
  candidate generation shuffles only (band_id, band_hash, doc_id)
  tuples; exact Jaccard verification runs only on bucket-collided
  pairs.  This is the standard shingle->minhash->band->bucket-join
  pipeline; cost is O(docs x shingles) + O(candidate pairs), never
  O(docs^2).
- SimHash: 64-bit signature via bit-vote aggregation, near-dup =
  signature XOR popcount <= radius within LSH-style prefix buckets.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HashFn = Callable[[Column], Column]


def portable_hash64(c: Column) -> Column:
    """60-bit hash both Spark and DuckDB compute identically:
    first 15 hex chars of md5 parsed as an integer.

    Spark:  conv(substring(md5(x), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

    xxhash64 (the default hash below) is ~3x faster JVM-side but has no
    DuckDB equivalent; use this one when an external oracle must
    reproduce signatures bit-for-bit.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), " +")


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles of an ALREADY-TOKENIZED array column.

    Built as an elementwise zip_with over n shifted slices of the
    token array — bulk array ops, no per-index element_at.  (The
    transform(sequence)+element_at formulation measured ~5x slower in
    interpreted HOF evaluation, and >10x slower again if `toks` is an
    inline split() rather than a materialized attribute — callers
    should tokenize behind a projection first, see _shingle_rows.)

    Texts shorter than n tokens yield an empty array (slice length
    greatest(size-n+1, 0) guards the degenerate case).
    """
    if n < 2:
        return F.array_distinct(toks)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, n, m)
    for j in range(n - 2, -1, -1):
        acc = F.zip_with(F.slice(toks, j + 1, m), acc,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(acc)


def token_shingles(text: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of a text column (native)."""
    return shingles_of_tokens(_tokens(text), n)


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct CHARACTER n-gram shingles of a text column (native) —
    the CCNet/Gopher production shingle unit: robust to small token
    edits, punctuation drift and whitespace changes that word-level
    shingles amplify.  Normalization = lower, trim, collapse runs of
    spaces.  Texts shorter than n chars yield an empty array."""
    s = F.regexp_replace(F.trim(F.lower(text)), " +", " ")
    m = F.length(s) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.call_function("substring", s, i, F.lit(n)))
    return F.array_distinct(
        F.when(m >= 1, grams).otherwise(F.expr("array()")))


def _shingle_rows(df: DataFrame, id_col: str, text_col: str,
                  n: int, shingle_fn=None) -> DataFrame:
    """(doc_id, sh) exploded shingle rows, tokenizing each text exactly
    once behind a projection boundary.  `shingle_fn(text_col, n)`
    overrides the default token-n-gram unit (e.g. char_shingles)."""
    if shingle_fn is not None:
        return df.select(F.col(id_col).alias("doc_id"),
                         F.explode(shingle_fn(F.col(text_col), n))
                         .alias("sh"))
    toks = df.select(F.col(id_col).alias("doc_id"),
                     _tokens(F.col(text_col)).alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(shingles_of_tokens(F.col("toks"), n)).alias("sh"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the deterministic keeper (min id) and copy count.

    NULL-text rows are excluded: md5(NULL) is NULL and groupBy would
    collapse every failed-extraction row into one "duplicate" group,
    deleting distinct records that merely share missing text."""
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.md5(F.col(text_col)).alias("fingerprint"))
            .filter(F.col("fingerprint").isNotNull())
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies")))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return df with only the keeper row per distinct content;
    NULL-text rows pass through untouched (not duplicates of each
    other)."""
    keep = exact_duplicates(df, id_col, text_col).select(
        F.col("keep_doc_id").alias(id_col))
    return (df.filter(F.col(text_col).isNull())
            .unionByName(df.filter(F.col(text_col).isNotNull())
                         .join(keep, id_col, "left_semi")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        keep_sizes: bool = False) -> DataFrame:
    """Exact pairwise n-gram Jaccard over shingle-sharing pairs.

    Only pairs that share >= 1 shingle are materialized (inverted-index
    join), so cost is driven by shingle collision counts, not docs^2.
    Hot shingles (stopword runs) explode pair counts at scale — the
    MinHash path below is the remedy; this operator is the exact
    verifier / small-corpus tool.
    """
    # NOTE (r11, measured): no checkpoint here on purpose — the three
    # consumers of sh (both self-join legs + the size agg) shuffle the
    # IDENTICAL subtree and AQE's exchange reuse computes it once at
    # runtime; a lazy cut was timing-neutral at sf0.1 (c19/c137/c141
    # back-to-back) and would add a needless corpus-scale
    # materialization.
    sh = _shingle_rows(df, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("d1"),
                       F.col("b.doc_id").alias("d2"))
              .agg(F.count("*").alias("n_common")))
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (common.join(s1, "d1").join(s2, "d2")
            .withColumn("jaccard",
                        F.col("n_common")
                        / (F.col("n1") + F.col("n2") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "n_common", "jaccard",
                    *(["n1", "n2"] if keep_sizes else [])))


# MinHash universal-hash family: sig[i] = min over shingles of
# (a_i * h + b_i) mod P, h = base_hash(shingle) mod P.  One base hash
# per shingle (the expensive part), num_hashes cheap affine
# transforms — vs hashing num_hashes times per shingle, this is a
# num_hashes-fold cut in hash work at identical statistical quality.
# P < 2^30 keeps a_i * h < 2^60: exact in 64-bit on any engine.
MINHASH_P = 1_000_000_007


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine hash family
    (Knuth-multiplicative spread, a_i forced nonzero)."""
    return [((2654435761 * (i + 1) + 104729) % MINHASH_P or 1,
             (40503 * (i + 1) + 12345) % MINHASH_P)
            for i in range(num_hashes)]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 32, shingle_n: int = 3,
                       hash_fn: HashFn = F.xxhash64,
                       shingle_fn=None) -> DataFrame:
    """Per-doc MinHash signature (doc_id, signature array<long>).

    One narrow pass: explode shingles, one base hash per shingle, then
    num_hashes MIN aggregates in a single groupBy(doc) — whole-stage
    codegen end to end, shuffle carries only (doc_id, h).

    Default base hash is xxhash64 (JVM); pass hash_fn=portable_hash64
    when an external SQL oracle must reproduce signatures bit-for-bit.
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n, shingle_fn)
    return _signatures_of_shingle_rows(sh, num_hashes, hash_fn)


def _signatures_of_shingle_rows(sh: DataFrame, num_hashes: int,
                                hash_fn: HashFn) -> DataFrame:
    """minhash_signatures body over pre-built (doc_id, sh) rows — lets
    callers that also need the raw shingle rows (e.g. the bipartite
    verify join) share one tokenize+explode pass."""
    # pmod: xxhash64 is signed; the affine family needs h in [0, P).
    h = sh.select("doc_id",
                  F.pmod(hash_fn(F.col("sh")), F.lit(MINHASH_P)).alias("h"))
    coeffs = minhash_coefficients(num_hashes)
    mins = h.groupBy("doc_id").agg(*[
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(coeffs)])
    return mins.select(
        "doc_id",
        F.array(*[f"m{i}" for i in range(num_hashes)]).alias("signature"))


def _banded(signatures: DataFrame, bands: int,
            rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) rows: one md5 bucket per signature band."""
    return signatures.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "signature",
    ).select(
        "doc_id", "band",
        F.md5(F.concat_ws(",", F.slice(
            "signature",
            F.col("band") * rows_per_band + 1, rows_per_band))).alias("bucket"),
    )


def minhash_lsh_candidates(signatures: DataFrame, *, bands: int,
                           rows_per_band: int) -> DataFrame:
    """Band the signatures; docs sharing any band bucket are candidate
    pairs.  Shuffles only (band_id, band_hash, doc_id)."""
    # NOTE (r11, measured): no checkpoint — both self-join legs are
    # the identical subtree; AQE exchange reuse computes it once, and
    # a lazy cut REGRESSED c06f 1.74 -> 2.21 s at sf0.1 (it replaces
    # the reused in-flight shuffle with a materialize-then-reshuffle).
    # (r12) Explicit width on the self-join (VERDICT r11 task 1): the
    # banded relation is TINY in bytes (one id+band+bucket row per doc
    # per band), so AQE's bytes-based coalescing shrank this join to a
    # 2-task stage at sf1 while its OUTPUT — the bucket-quadratic
    # candidate-pair fanout plus the distinct's partial agg — is the
    # CPU-bound part (measured: the 2-task stage pinned two cores for
    # >15 min; the whole query was 1530.9 s in the r11 sweep).
    # repartition(width, band, bucket) is REPARTITION_BY_NUM (exempt
    # from coalescing), keeps both legs one REUSED exchange (identical
    # subtrees), and spreads bucket fanout across the cluster.  Width
    # follows the session, never a local constant.
    spark = signatures.sparkSession
    width = max(spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    banded = _banded(signatures, bands, rows_per_band).repartition(
        width, "band", "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str, *,
                            num_hashes: int = 32, bands: int = 8,
                            shingle_n: int = 3, threshold: float = 0.5,
                            hash_fn: HashFn = F.xxhash64,
                            shingle_fn=None) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures -> banded candidates ->
    exact Jaccard verification of candidates only."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n,
                             hash_fn, shingle_fn)
    cand = minhash_lsh_candidates(sig, bands=bands, rows_per_band=rows_per_band)
    # Verify-stage parallelism (r12, VERDICT r11 task 1): the verify
    # join's INPUT is small in bytes (pairs of ids + the shingle rows)
    # but its per-row work and OUTPUT fan out by |shingles(d1)|, so
    # AQE's bytes-based partition coalescing under-parallelizes it —
    # measured at sf1: c145's verify ran as a 2-task coalesced stage
    # for ~25 min of CPU-bound join fanout.  An explicit
    # repartition(width, d1) pins the verify join to cluster width
    # (REPARTITION_BY_NUM is exempt from AQE coalescing, and the join
    # reuses the partitioning, so the exchange count is unchanged).
    # Skew-by-d1 is structurally mild: a clique of s docs spreads its
    # ~s^2/2 pairs over s-1 distinct d1 values (max/avg per key <= 2).
    # Width follows the session (defaultParallelism = cluster cores),
    # never a local constant.
    width = max(df.sparkSession.sparkContext.defaultParallelism,
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))

    sh = _shingle_rows(df, id_col, text_col, shingle_n, shingle_fn)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # Size-compatibility prune BEFORE the gram-explode verify (r12,
    # exact — zero recall loss): shingle sets are per-doc DISTINCT, so
    # J(A,B) <= min(n1,n2)/max(n1,n2); any pair failing the ratio test
    # can never pass the final jaccard >= threshold filter.  The sizes
    # joins move from after the n_common aggregate to before the
    # fanout, so false candidates between differently-sized docs are
    # dropped while they are still two ids + two ints, not
    # |shingles(d1)| exploded rows (measured at sf1: verify fanout is
    # the dominant cost once the stage runs wide).  The 1e-9 slack
    # covers double-rounding at the exact threshold boundary.
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    cand = (cand.join(s1, "d1").join(s2, "d2")
            .filter(F.least("n1", "n2")
                    >= F.greatest("n1", "n2") * threshold - 1e-9))
    # pin the verify fanout join wide (see the banded note above: the
    # pair rows are tiny in bytes, the fanout is the work)
    cand = cand.repartition(width, "d1")
    # Count shared shingles per candidate pair.  The second join keys
    # on (d2, sh) — shingle equality must be an equi-join key, not a
    # post-join filter, or the intermediate is |sh_a| x |sh_b| rows
    # per candidate pair instead of |sh_a ∩ sh_b|.
    common = (cand.join(sh.select(F.col("doc_id").alias("d1"), "sh"), "d1")
              .join(sh.select(F.col("doc_id").alias("d2"), "sh"),
                    ["d2", "sh"])
              .groupBy("d1", "d2", "n1", "n2")
              .agg(F.count("*").alias("n_common")))
    return (common
            .withColumn("jaccard",
                        F.col("n_common")
                        / (F.col("n1") + F.col("n2") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "jaccard"))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str, *,
                       shingle_n: int = 2, n_bits: int = 64,
                       hash_fn: HashFn = F.xxhash64) -> DataFrame:
    """(doc_id, sig) SimHash signatures via explode + groupBy.

    Each shingle votes +1/-1 on each bit position according to its
    64-bit hash; the signature sets bit k when the vote sum is
    positive.  One row per (doc, shingle), one hash per shingle, then
    n_bits SUM columns in a single hash aggregate — all whole-stage
    codegen (a per-row higher-order-function fold over the shingle
    array evaluates interpreted lambdas and is ~100x slower on a real
    corpus).  Docs with zero shingles (< shingle_n tokens) produce no
    row.
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    h = sh.select("doc_id", hash_fn(F.col("sh")).alias("h"))
    votes = h.groupBy("doc_id").agg(*[
        F.sum(F.shiftright("h", k).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"v{k}") for k in range(n_bits)])
    sig = None
    for k in range(n_bits):
        bit = F.when(F.col(f"v{k}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), k)) \
            .otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select("doc_id", sig.alias("sig"))


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str, *,
                            radius: int = 3, n_tables: int | None = None,
                            shingle_n: int = 2,
                            hash_fn: HashFn = F.xxhash64) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= radius — FULL
    recall, still bucketed.

    Candidate generation splits the 64-bit signature into `n_tables`
    disjoint bit blocks (default radius+1).  By pigeonhole, any pair
    within Hamming distance `radius` differs in at most `radius`
    blocks, so it agrees EXACTLY on at least one block — the union of
    the per-block equi-joins has 100% recall at the radius (the
    multi-table scheme of Manku et al., WWW'07, built here as one
    explode + one self-equi-join on (table, block) instead of
    n_tables separate joins).  A single prefix table (the previous
    form) misses pairs whose differing bits fall inside the prefix.

    Scale: signatures are 16 bytes/doc; the explode is x n_tables on
    that narrow frame, the join is hash-partitioned on (table, block),
    and only colliding candidates reach the popcount verify.  No
    all-pairs product anywhere.
    """
    if n_tables is None:
        n_tables = radius + 1
    if not 1 <= n_tables <= 64:
        raise ValueError(f"n_tables must be in [1, 64], got {n_tables}")
    sig = simhash_signatures(df, id_col, text_col, shingle_n=shingle_n,
                             hash_fn=hash_fn)
    # block i covers `sizes[i]` bits starting at bit `offs[i]` (LSB=0);
    # sizes differ by at most 1 so no block is trivially hot.
    sizes = [64 // n_tables + (1 if i < 64 % n_tables else 0)
             for i in range(n_tables)]
    offs = [sum(sizes[:i]) for i in range(n_tables)]
    def _blk(i: int) -> Column:
        shifted = F.shiftrightunsigned("sig", offs[i])
        if sizes[i] >= 64:  # single table: the block IS the signature
            return shifted  # (lit(2^64-1) would overflow long)
        return shifted.bitwiseAND(F.lit((1 << sizes[i]) - 1).cast("long"))

    blocks = F.array(*[
        F.struct(F.lit(i).alias("tbl"), _blk(i).alias("blk"))
        for i in range(n_tables)])
    # NOTE (r11, measured): no checkpoint — both self-join legs
    # shuffle the identical (tbl, blk)-keyed subtree and AQE's
    # exchange reuse computes it once at runtime (same finding as
    # the minhash bucket join: a lazy cut there regressed c06f
    # 1.74 -> 2.21 s by replacing the reused in-flight shuffle with
    # a materialize-then-reshuffle).
    ex = (sig.select("doc_id", "sig", F.explode(blocks).alias("b"))
          .select("doc_id", "sig", "b.tbl", "b.blk"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                    & (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2"),
                     F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                     .alias("hamming")))
    # a pair can collide in several tables -> dedupe after the verify
    return pairs.filter(F.col("hamming") <= radius).distinct()


def prefix_filtered_jaccard_pairs(df: DataFrame, id_col: str,
                                  text_col: str, n: int = 3,
                                  threshold: float = 0.5,
                                  keep_sizes: bool = False) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (All-Pairs/PPJoin,
    Bayardo et al. WWW'07; Xiao et al. WWW'08 — public papers): order
    every doc's shingle set by ascending global frequency and index
    only the first |x| - ceil(t*|x|) + 1 shingles.  Two sets with
    J >= t MUST share a prefix shingle (pigeonhole on the overlap
    bound |x ∩ y| >= t*|x|), so joining prefixes is complete — but the
    candidate join touches the RAREST shingles only, cutting the
    quadratic hot-shingle blowup that makes the naive inverted-index
    join (ngram_jaccard_pairs) explode at corpus scale.

    Same output contract as ngram_jaccard_pairs; exact, no recall
    loss.  Cost: +1 aggregate (global shingle frequencies) and +1
    window (per-doc frequency ranks) to shrink the join that
    dominates at 100 TB.

    `sh` is deliberately NOT checkpointed (unlike its containment
    sibling below): an r11 interleaved A/B of the same lazy cut
    measured +14% on c150 and 0% on c35 at sf0.1 — here the hot
    consumers (freq, ranked's probe, sa/sb) sit under exchanges AQE
    already shares or prunes, so the extra materialization pass buys
    nothing.  Negative result pinned so the job-diet sweep doesn't
    re-try it.
    """
    from pyspark.sql.window import Window
    sh = _shingle_rows(df, id_col, text_col, n)
    freq = sh.groupBy("sh").agg(F.count("*").alias("gf"))
    ranked = (sh.join(freq, "sh")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("gf", "sh")))
              .withColumn("n_sh", F.count("*").over(
                  Window.partitionBy("doc_id"))))
    # epsilon before ceil: binary float products round UP at exact
    # boundaries (100 * 0.29 = 29.000000000000004 -> ceil 30), which
    # would shorten the prefix below the safe length and silently
    # lose threshold-exact pairs.
    prefix = ranked.filter(
        F.col("rnk") <= F.col("n_sh")
        - F.ceil(F.col("n_sh") * threshold - 1e-9)
        + 1).select("doc_id", "sh")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())
    # exact verify on candidates only (the c08 verify shape): both
    # joins are equi-joins — (d1), then (d2, shingle) — so the shared
    # shingle count never degenerates into a filtered cross product.
    sa = sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sb = sh.select(F.col("doc_id").alias("d2b"), F.col("sh").alias("sh2"))
    common = (cand.join(sa, "d1")
              .join(sb, (F.col("d2") == F.col("d2b"))
                    & (F.col("sh1") == F.col("sh2")))
              .groupBy("d1", "d2").agg(F.count("*").alias("n_common")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (common.join(s1, "d1").join(s2, "d2")
            .withColumn("jaccard",
                        F.col("n_common")
                        / (F.col("n1") + F.col("n2") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "n_common", "jaccard",
                    *(["n1", "n2"] if keep_sizes else [])))


def containment_pairs_prefix_filtered(df: DataFrame, id_col: str,
                                      text_col: str, n: int = 3,
                                      tau_ppm: int = 800_000
                                      ) -> DataFrame:
    """Exact CONTAINMENT pairs (C = |A∩B|/min(|A|,|B|) >= tau) via
    asymmetric prefix filtering — the containment analogue of
    prefix_filtered_jaccard_pairs (All-Pairs/PPJoin family, Bayardo
    et al. WWW'07; public papers).

    Containment's overlap bound depends only on the SMALLER set: a
    qualifying pair shares >= ceil(tau * min(|A|,|B|)) shingles, so
    by pigeonhole the smaller doc's prefix (its |S| - ceil(tau*|S|)
    + 1 globally-rarest shingles) must collide with the larger doc's
    FULL set.  The larger side cannot be prefix-shortened (its
    required overlap is relative to the other side's size), so the
    candidate join is prefix(min side) x full(index) with a
    size-orientation predicate — still complete, still exact, and
    the hot-shingle quadratic term vanishes because hot shingles
    rank LAST inside every doc and never enter a prefix (measured
    sf1, 50k docs, fixed ~30-word vocabulary: the symmetric
    inverted-index join materializes ~1.2e9 colliding pairs; the
    prefix candidate join cuts this by the prefix's global-frequency
    skew before any pair is scored).

    Output contract: (d1, d2, n_common, n1, n2) with d1 < d2 by doc
    id and n1/n2 the respective distinct-shingle sizes — the
    keep_sizes=True shape of ngram_jaccard_pairs, UNFILTERED by
    Jaccard (callers apply containment/Jaccard thresholds).  Only
    pairs with containment >= tau_ppm survive (exact integer ppm).
    """
    from pyspark.sql.window import Window
    # sh feeds six consumers across BOTH key families (doc_id-keyed:
    # sizes/full/sa; sh-keyed: freq/prefix-join/sb) — the differing
    # partitionings defeat AQE exchange reuse, so the tokenize+shingle
    # explode would replay per family.  Lazy cut (r11 job diet);
    # corpus-scale-but-narrow like c138's shingles, every consumer
    # re-shuffles on doc/sh keys, never SinglePartition.
    sh = _shingle_rows(df, id_col, text_col, n).localCheckpoint(
        eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    freq = sh.groupBy("sh").agg(F.count("*").alias("gf"))
    # prefix length in exact integer ppm: |S| - ceil(tau*|S|) + 1
    ranked = (sh.join(freq, "sh").join(sizes, "doc_id")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("gf", "sh"))))
    prefix = (ranked.filter(
        F.col("rnk") <= F.col("n_sh")
        - F.expr(f"({tau_ppm}L * n_sh + 999999) div 1000000") + 1)
        .select("doc_id", "sh", "n_sh"))
    full = (sh.join(sizes, "doc_id")
            .select("doc_id", "sh", "n_sh"))
    a, b = prefix.alias("a"), full.alias("b")
    # orientation: a is the min side ((n_sh, doc_id) lexicographic so
    # equal-size pairs are covered exactly once)
    cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & ((F.col("a.n_sh") < F.col("b.n_sh"))
                      | ((F.col("a.n_sh") == F.col("b.n_sh"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))))
            .select(F.col("a.doc_id").alias("da"),
                    F.col("b.doc_id").alias("db"))
            .distinct())
    # exact verify on candidates only — both joins equi (doc, then
    # (doc, shingle)), the c08 verify shape
    sa = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh1"))
    sb = sh.select(F.col("doc_id").alias("dbb"), F.col("sh").alias("sh2"))
    common = (cand.join(sa, "da")
              .join(sb, (F.col("db") == F.col("dbb"))
                    & (F.col("sh1") == F.col("sh2")))
              .groupBy("da", "db").agg(F.count("*").alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("da"),
                      F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("db"),
                      F.col("n_sh").alias("nb"))
    return (common.join(za, "da").join(zb, "db")
            .filter(F.expr(
                f"n_common * 1000000 div least(na, nb) >= {tau_ppm}"))
            .select(F.least("da", "db").alias("d1"),
                    F.greatest("da", "db").alias("d2"),
                    "n_common",
                    F.when(F.col("da") < F.col("db"), F.col("na"))
                    .otherwise(F.col("nb")).alias("n1"),
                    F.when(F.col("da") < F.col("db"), F.col("nb"))
                    .otherwise(F.col("na")).alias("n2")))


def minhash_bipartite_pairs(df_a: DataFrame, df_b: DataFrame,
                            id_col: str, text_col: str, *,
                            num_hashes: int = 16, bands: int = 4,
                            shingle_n: int = 3, threshold: float = 0.5,
                            hash_fn: HashFn = F.xxhash64) -> DataFrame:
    """Cross-corpus (bipartite) MinHash-LSH: near-dup pairs BETWEEN two
    corpora — the scale path for decontamination, where corpus A is
    100 TB of train text and corpus B the held-out/eval set.  Banding
    each side separately and equi-joining on (band, bucket) means
    intra-corpus collisions never materialize (a self-join + parity
    filter would generate then discard them), and the join shuffles
    only (band, 128-bit bucket, id) tuples from each side.

    Returns (id_a, id_b, jaccard) for candidate pairs whose EXACT
    n-gram Jaccard (verified on candidates only) meets the threshold.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # NOTE (r11, measured): the per-side shingle rows are deliberately
    # NOT checkpointed even though signatures and the verify join both
    # re-derive them — an interleaved A/B of the shared-pass cut
    # measured +9% on c41 at sf0.1 (2.83 -> 3.09 s min-of-3).
    # Materializing the string-heavy (doc_id, sh) rows costs more
    # than re-running the tokenize+explode; cuts only pay when the
    # replayed compute is heavy per row (c102's md5 windows) or the
    # consumer count is high (c143's six).  Negative result pinned.
    ba = _banded(minhash_signatures(df_a, id_col, text_col, num_hashes,
                                    shingle_n, hash_fn), bands, rows)
    bb = _banded(minhash_signatures(df_b, id_col, text_col, num_hashes,
                                    shingle_n, hash_fn), bands, rows)
    cand = (ba.alias("a").join(bb.alias("b"), ["band", "bucket"])
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())
    sh_a = _shingle_rows(df_a, id_col, text_col, shingle_n) \
        .select(F.col("doc_id").alias("id_a"), "sh")
    sh_b = _shingle_rows(df_b, id_col, text_col, shingle_n) \
        .select(F.col("doc_id").alias("id_b"), "sh")
    common = (cand.join(sh_a, "id_a").join(sh_b, ["id_b", "sh"])
              .groupBy("id_a", "id_b").agg(F.count("*").alias("n_common")))
    na = sh_a.groupBy("id_a").agg(F.count("*").alias("n1"))
    nb = sh_b.groupBy("id_b").agg(F.count("*").alias("n2"))
    return (common.join(na, "id_a").join(nb, "id_b")
            .withColumn("jaccard",
                        F.col("n_common")
                        / (F.col("n1") + F.col("n2") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------
# Windowed (lookback) dedup.
# ---------------------------------------------------------------------

def dedup_with_lookback(df: DataFrame, *, key_col: str = "key",
                        day_col: str = "day",
                        lookback_days: int) -> DataFrame:
    """Sliding-window dedup over the WHOLE input: a row is kept iff
    the same key did not occur within the previous ``lookback_days``
    (gap to the previous occurrence strictly greater than the
    window).  The re-admission rule a perpetual first-wins dedup
    (exact_dedup) lacks: content may legitimately reappear after the
    window (refreshed crawls, re-sent telemetry).

    One per-key window (lag): occurrence spacing alone decides.  c88
    runs it."""
    from pyspark.sql import Window as W
    w = W.partitionBy(key_col).orderBy(day_col)
    return (df.withColumn("_prev", F.lag(day_col).over(w))
            .filter(F.col("_prev").isNull()
                    | (F.col(day_col) - F.col("_prev") > lookback_days))
            .drop("_prev"))


def duplicated_spans(df: DataFrame, id_col: str, text_col: str, *,
                     window_tokens: int = 20) -> DataFrame:
    """ExactSubstr duplicated spans (Lee et al. ACL'22, relational
    form): every ``window_tokens``-token window occurring more than
    once in the corpus marks a duplicated region; overlapping hits
    merge into maximal per-doc spans (gaps-and-islands with a running
    max).  Output: (doc_id, n_tokens, n_spans, dup_tokens, dup_ppm),
    one row per doc that has at least one duplicated span.

    Windows are portable-md5-48 hashed before the frequency aggregate
    (8-byte shuffle keys; at 100 TB swap the md5-of-concat for the
    functions/text.py rolling hash to avoid materializing window
    text); the island windows partition by doc — no global sort.
    """
    from pyspark.sql import Window as W
    from tp_airflow_gtfs_snowflake_spark.operators import kmv as _kmv
    L = window_tokens
    t = df.select(F.col(id_col).alias("doc_id"),
                  _tokens(F.col(text_col)).alias("tk"))
    t = t.withColumn("n_tokens", F.size("tk"))
    w = (t.filter(F.col("n_tokens") >= L)
         .select("doc_id",
                 F.posexplode(F.expr(
                     f"transform(sequence(1, size(tk) - {L - 1}), "
                     f"i -> array_join(slice(tk, i, {L}), ' '))"))
                 .alias("p0", "win"))
         .select("doc_id", F.expr("p0 + 1").alias("start"),
                 _kmv.portable_hash48(F.col("win")).alias("h")))
    # w feeds the dup-hash aggregate AND the left-semi probe side;
    # the aggregate's exchange carries partial-agg rows, the probe's
    # carries raw (doc_id, start, h) — different subtrees, so AQE
    # reuse cannot share them and the L-token window explode + hash
    # replayed twice.  Lazy cut -> one pass (r11 job diet);
    # corpus-scale-but-narrow (3 int columns), both consumers
    # re-shuffle on h, never SinglePartition.
    w = w.localCheckpoint(eager=False)
    dup = (w.groupBy("h")
           .agg(F.count("*").alias("c"))
           .filter(F.col("c") > 1)
           .select("h"))
    hits = (w.join(dup, "h", "left_semi")
            .select("doc_id", "start",
                    (F.col("start") + L - 1).alias("fin")))
    wd = W.partitionBy("doc_id").orderBy("start")
    marked = hits.withColumn(
        "new_island",
        F.when(F.col("start") > F.coalesce(
            F.max("fin").over(wd.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(-1)), 1).otherwise(0))
    islands = marked.withColumn(
        "isl", F.sum("new_island").over(
            wd.rowsBetween(W.unboundedPreceding, 0)))
    spans = (islands.groupBy("doc_id", "isl")
             .agg(F.min("start").alias("s"), F.max("fin").alias("f")))
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count("*").alias("n_spans"),
                    F.sum(F.col("f") - F.col("s") + 1)
                    .alias("dup_tokens")))
    return (per_doc.join(t.select("doc_id", "n_tokens"), "doc_id")
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_spans").cast("long").alias("n_spans"),
                    F.col("dup_tokens").cast("long").alias("dup_tokens"),
                    F.expr("dup_tokens * 1000000 div n_tokens")
                    .cast("long").alias("dup_ppm")))
