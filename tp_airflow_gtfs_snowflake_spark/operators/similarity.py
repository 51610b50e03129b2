"""Similarity search over embedding columns (charter C2): brute-force
cosine top-k as the correctness baseline, IVF cell assignment as the
scale path, and cell-blocked near-duplicate pairing.

Scale design (100 TB of vectors):
- the query vector / centroid set is always broadcast — scoring is a
  narrow per-row map, no shuffle;
- brute-force top-k ends in TakeOrderedAndProject (per-partition heap
  + driver merge), never a global sort;
- IVF: vectors are assigned once to their nearest centroid (narrow
  map with the centroid set in the task closure) and only the probed
  cells are scanned at query time — cells shard across executors, and
  the near-dup cross product stays per-cell-local (O(sum cell^2), not
  O(n^2));
- pairwise and query scoring is `functions.vectors` (JVM higher-order
  expressions, doubles); the k-way argmins of IVF assignment and PQ
  encoding are one numpy implementation each over Arrow batches
  (mapInPandas), the shape Catalyst's interpreted folds handle worst;
- similarities are rounded to 6dp BEFORE any argmax/threshold so
  float ulp noise cannot flip assignments between runs or engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine


def brute_force_topk(vectors: DataFrame, query: DataFrame, *,
                     vec_col: str = "embedding", k: int = 20,
                     payload: list[str] | None = None) -> DataFrame:
    """Exact cosine top-k of `vectors` against a 1-row `query` frame
    (column `qemb`).  Baseline and recall oracle for the IVF path."""
    payload = payload if payload is not None else [
        c for c in vectors.columns if c != vec_col]
    return (vectors.crossJoin(F.broadcast(query))
            .select(*payload,
                    F.round(cosine(F.col(vec_col), F.col("qemb")), 6)
                    .alias("cos_sim"))
            # zero-norm vectors (padding/missing embeddings) have no
            # defined direction: cosine() yields NULL for them (see
            # functions/vectors.py) — drop them from the candidate
            # ranking explicitly.
            .filter(F.col("cos_sim").isNotNull())
            .orderBy(F.desc("cos_sim"), *payload[:1])
            .limit(k))


def kmeans_centroids(emb: DataFrame, *, vec_col: str = "embedding",
                     k: int = 8, seed: int = 42,
                     max_iter: int = 5) -> list[tuple[int, list[float]]]:
    """Train k-means (pyspark.ml, fixed seed) on the embedding column
    and return [(cent_id, center)] — the trained alternative to the
    first-n stand-in centroids.  Centers are tiny (k x dim floats), so
    they ride to ivf_assign/ivf_topk as driver-side literals exactly
    like the stand-ins."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [(i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())]


def ivf_assign(emb: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", n_cents: int = 8,
               centroids: list[tuple[int, list[float]]] | None = None
               ) -> DataFrame:
    """Assign every vector to its nearest centroid: input columns +
    `cent_id`.  Centroids are the first n_cents vectors by id (cheap
    stand-in) unless an explicit [(cent_id, center)] list — e.g. from
    kmeans_centroids — is passed.  Ties break to the lowest cent_id.

    Centroid assignment is a pure per-row function, so the <=n_cents
    centroids are collected once (tiny: a pushed-down `id < n` scan)
    and ride in the task closure (k*dim doubles — a few KB); the
    argmax is a narrow map — ZERO exchanges, regardless of |emb|.  A
    crossJoin(broadcast(cents)) + row_number-per-vec_id form would
    explode every row x n_cents and shuffle the blow-up just to keep
    rank 1; at 100 TB of vectors that shuffle IS the job.  Pinned by
    tests/test_plan_quality.py::test_ivf_assign_has_no_exchange.

    numpy over Arrow batches (mapInPandas): per batch, one (batch, k)
    cosine matmul + argmax.  The same argmax as a Column fold over
    centroid literals never enters codegen and is catastrophically
    slow in Catalyst's interpreted higher-order-function eval (~1
    ms/row for 8x64).  Similarities are rounded to 6dp before the
    argmax, and centroids are sorted by cent_id so np.argmax's
    first-hit tie-break == lowest cent_id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        centroids = [(int(r["cent_id"]), list(r["cemb"])) for r in
                     emb.filter(F.col(id_col) < n_cents)
                     .select(F.col(id_col).cast("long").alias("cent_id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("cemb"))
                     .collect()]
    cent_rows = sorted(centroids, key=lambda c: c[0])
    cent_ids = np.array([int(cid) for cid, _ in cent_rows], dtype=np.int64)
    C = np.array([list(vec) for _, vec in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))                      # (k,)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(
                    cent_id=pd.Series([], dtype="int64"))
                continue
            v = np.array([np.asarray(x, dtype=np.float64)
                          for x in pdf[vec_col]])             # (n, dim)
            vnorm = np.sqrt((v * v).sum(axis=1))              # (n,)
            sims = np.round(v @ C.T / (vnorm[:, None] * cnorm[None, :]), 6)
            yield pdf.assign(cent_id=cent_ids[sims.argmax(axis=1)])

    schema = T.StructType(emb.schema.fields
                          + [T.StructField("cent_id", T.LongType())])
    return emb.mapInPandas(assign, schema)


def ivf_topk(emb: DataFrame, query: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", n_cents: int = 8,
             n_probe: int = 2, k: int = 20,
             payload: list[str] | None = None,
             centroids: list[tuple[int, list[float]]] | None = None
             ) -> DataFrame:
    """Approximate top-k: score only vectors whose cell is among the
    n_probe cells nearest the query.  Stand-in (first-n) or trained
    (kmeans_centroids) centroid sets both work."""
    if centroids is None:
        # collect the stand-ins ONCE here (a pushed-down id<n scan) and
        # hand the literal list to ivf_assign, instead of letting both
        # this probe and the assignment scan the corpus for them.
        centroids = [(int(r["cent_id"]), list(r["cemb"])) for r in
                     emb.filter(F.col(id_col) < n_cents)
                     .select(F.col(id_col).cast("long").alias("cent_id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("cemb"))
                     .collect()]
    cents = emb.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cent_id long, cemb array<double>")
    probe = (cents.crossJoin(F.broadcast(query))
             .withColumn("sim", F.round(cosine(F.col("cemb"),
                                               F.col("qemb")), 6))
             .orderBy(F.desc("sim"), "cent_id")
             .limit(n_probe).select("cent_id"))
    asg = ivf_assign(emb, id_col=id_col, vec_col=vec_col, n_cents=n_cents,
                     centroids=centroids)
    candidates = asg.join(F.broadcast(probe), "cent_id")
    return brute_force_topk(candidates.drop("cent_id"), query,
                            vec_col=vec_col, k=k, payload=payload)


def pq_codebooks(emb: DataFrame, *, id_col: str = "vec_id",
                 vec_col: str = "embedding", m: int = 4,
                 k: int = 16) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: the vector space is split into
    `m` contiguous subspaces and each gets `k` codewords.  Stand-in
    codewords are the sub-chunks of the first k vectors by id (the
    same cheap deterministic choice as ivf_assign's stand-in
    centroids); swap in per-subspace k-means for trained quality —
    the encode/score plumbing is identical.

    Codebooks are tiny (m*k*(dim/m) doubles) and ride to executors as
    literals, exactly like IVF centroids."""
    rows = (emb.filter(F.col(id_col) < k)
            .select(F.col(id_col).cast("long").alias("i"),
                    F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    rows = sorted(rows, key=lambda r: r["i"])
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [[(int(r["i"]), list(r["v"][j * d:(j + 1) * d])) for r in rows]
            for j in range(m)]


def pq_codebooks_kmeans(emb: DataFrame, *, vec_col: str = "embedding",
                        m: int = 4, k: int = 16, seed: int = 42,
                        max_iter: int = 5
                        ) -> list[list[tuple[int, list[float]]]]:
    """Trained PQ codebooks: one pyspark.ml k-means per subspace over
    the sliced subvectors (the construction from Jegou et al.).  m
    small fits over projections of the corpus; centers come back as
    driver-side literals exactly like the stand-ins, so encode/score
    plumbing is shared."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(emb.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    v = F.col(vec_col).cast("array<double>")
    books = []
    for j in range(m):
        feats = emb.select(array_to_vector(
            F.slice(v, j * d + 1, d)).alias("features"))
        model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
        books.append([(i, [float(x) for x in c])
                      for i, c in enumerate(model.clusterCenters())])
    return books


def pq_encode(emb: DataFrame,
              codebooks: list[list[tuple[int, list[float]]]], *,
              vec_col: str = "embedding") -> DataFrame:
    """Add `codes` (array<long>, one code per subspace): each subvector
    is replaced by the POSITION of its nearest codeword in the
    id-sorted codebook (equal to the codeword id for the dense
    0..k-1 books every producer here emits) — 8x-32x compression of
    the corpus for ANN scans.  Positional codes keep the encode and
    the ADC lookup table in exact agreement for ANY codebook id
    scheme.  A narrow per-row map: ZERO exchanges at any corpus size
    (the point of PQ — the compressed codes fit in memory where raw
    vectors do not).  Squared-L2 is rounded to 6dp before the argmin
    so assignments are reproducible; ties break to the lowest code
    id.

    numpy over Arrow batches (mapInPandas): per batch and subspace,
    one broadcasted (batch, k, d) subtract + argmin.  The m*k distance
    argmin is exactly the shape Catalyst handles worst — a 64-way
    literal fold blows past the codegen method limit and drops to
    interpreted eval (measured ~50x slower).  The codebook rides in
    the task closure (m*k*d doubles — a few KB); O(batch) memory,
    payload columns pass through."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    m = len(codebooks)
    d = len(codebooks[0][0][1])
    # [m][k][d]; codewords sorted by code id so np.argmin's first-hit
    # tie-break == lowest code id
    cw = np.array([[list(w) for _, w in sorted(book)]
                   for book in codebooks], dtype=np.float64)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(codes=pd.Series([], dtype=object))
                continue
            v = np.array([np.asarray(x, dtype=np.float64)
                          for x in pdf[vec_col]])
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                sub = v[:, j * d:(j + 1) * d]                # (n, d)
                diff = sub[:, None, :] - cw[j][None, :, :]    # (n, k, d)
                dist = np.round((diff * diff).sum(axis=2), 6)
                codes[:, j] = dist.argmin(axis=1)
            yield pdf.assign(codes=list(codes))

    schema = T.StructType(emb.schema.fields
                          + [T.StructField("codes",
                                           T.ArrayType(T.LongType()))])
    return emb.mapInPandas(encode, schema)


def pq_topk(emb: DataFrame, query: DataFrame, *, id_col: str = "vec_id",
            vec_col: str = "embedding", m: int = 4, n_words: int = 16,
            k: int = 20, refine: int = 100,
            payload: list[str] | None = None,
            codebooks: list[list[tuple[int, list[float]]]] | None = None
            ) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: the query's distance to
    every codeword is a tiny m x n_words lookup table computed once on
    the driver and shipped as a literal; each row's approximate
    distance is m table lookups over its `codes` — no vector math per
    row at scan time.  The approx top-`refine` candidates are then
    re-ranked by exact cosine and the exact top-k returned.

    refine >= |corpus| degenerates to exact brute force (the recall
    invariant tests pin this); at 100 TB the scan touches only the
    m-byte codes column — the raw embedding column is read for the
    `refine` survivors alone (parquet column pruning does the rest)."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, id_col=id_col, vec_col=vec_col,
                                 m=m, k=n_words)
    payload = payload if payload is not None else [
        c for c in emb.columns if c != vec_col]
    q = query.select(F.col("qemb").cast("array<double>")).first()[0]
    d = len(codebooks[0][0][1])
    # driver-side LUT: lut[j][code] = ||q_sub_j - codeword||^2, 6dp
    # positional rows over the id-SORTED book — the same order
    # pq_encode emits its codes in
    lut = [[round(sum((float(q[j * d + i]) - cw[i]) ** 2
                      for i in range(d)), 6)
            for _, cw in sorted(book)] for j, book in enumerate(codebooks)]
    lut_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in row]).cast("array<double>")
        for row in lut])
    coded = pq_encode(emb, codebooks, vec_col=vec_col)
    approx = F.aggregate(
        F.zip_with(lut_lit, F.col("codes"),
                   lambda row, c: F.element_at(row, c.cast("int") + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (coded.withColumn("approx_dist", F.round(approx, 6))
            .orderBy("approx_dist", id_col).limit(refine))
    return brute_force_topk(cand.drop("codes", "approx_dist"), query,
                            vec_col=vec_col, k=k, payload=payload)


def cell_blocked_neardup(emb: DataFrame, *, id_col: str = "vec_id",
                         vec_col: str = "embedding", n_cents: int = 8,
                         threshold: float = 0.35,
                         sub_blocks: int | None = None,
                         hot_cell_cap: int = 4096) -> DataFrame:
    """(d1, d2, cos_sim) pairs with cosine >= threshold, compared only
    within each vector's assigned IVF cell.

    sub_blocks > 1 splits each cell into hash blocks and joins the
    (b1 <= b2) block-pair grid instead of the whole cell with itself:
    a hot cell of H rows becomes sub_blocks*(sub_blocks+1)/2 tasks of
    ~(H/sub_blocks)^2 comparisons instead of ONE task doing H^2 — the
    skew remedy for the 'hot cell is a hot partition' limit (salting
    applied to a self-join).  Results are
    identical for any sub_blocks (every pair meets in exactly one
    block pair: (block(d1), block(d2)) ordered).

    sub_blocks=None (default) AUTO-SIZES from the cell-size histogram
    (r03 verdict item 8 — the remedy existed but defaulted off): one
    bounded n_cents-row aggregate finds the hottest cell, and
    ceil(max_cell / hot_cell_cap) blocks cap every task near
    hot_cell_cap^2 comparisons; balanced data resolves to 1 (the
    plain per-cell join, no extra plan nodes)."""
    asg = ivf_assign(emb, id_col=id_col, vec_col=vec_col, n_cents=n_cents)
    if sub_blocks is None:
        # the histogram .first() is an eager action: persist the
        # assignment so the join below reuses it instead of running
        # the whole Arrow encode a second time
        asg = asg.localCheckpoint(eager=True)
        mx = (asg.groupBy("cent_id").agg(F.count("*").alias("n"))
              .agg(F.max("n").alias("m")).first()["m"]) or 0
        sub_blocks = max(1, -(-int(mx) // hot_cell_cap))
    if sub_blocks <= 1:
        a = asg.select("cent_id", F.col(id_col).alias("d1"),
                       F.col(vec_col).alias("e1"))
        b = asg.select("cent_id", F.col(id_col).alias("d2"),
                       F.col(vec_col).alias("e2"))
        pairs = a.join(b, "cent_id").filter(F.col("d1") < F.col("d2"))
    else:
        blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(sub_blocks))
        withb = asg.withColumn("blk", blk)
        # each row joins the block-pair rows (lo, hi) it belongs to:
        # as the LOW side in (blk, blk..sub_blocks-1), as the HIGH side
        # in (0..blk, blk); emitting both memberships per row keeps the
        # join a pure equi-join on (cent_id, lo, hi).
        lo_side = withb.select(
            "cent_id", F.col(id_col).alias("d1"),
            F.col(vec_col).alias("e1"), F.col("blk").alias("lo"),
            F.explode(F.sequence(F.col("blk"),
                                 F.lit(sub_blocks - 1))).alias("hi"))
        hi_side = withb.select(
            "cent_id", F.col(id_col).alias("d2"),
            F.col(vec_col).alias("e2"), F.col("blk").alias("hi"),
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("lo"))
        # a cross-block pair meets exactly once (its low-block row on
        # the lo side) — keep it whatever the id order, then
        # canonicalize; a same-block pair meets twice (both orders on
        # the lo==hi diagonal) — the id filter halves exactly.
        pairs = (lo_side.join(hi_side, ["cent_id", "lo", "hi"])
                 .filter((F.col("lo") < F.col("hi"))
                         | (F.col("d1") < F.col("d2")))
                 .filter(F.col("d1") != F.col("d2"))
                 .select("cent_id",
                         F.least("d1", "d2").alias("dl"),
                         F.greatest("d1", "d2").alias("dg"),
                         F.when(F.col("d1") < F.col("d2"), F.col("e1"))
                         .otherwise(F.col("e2")).alias("el"),
                         F.when(F.col("d1") < F.col("d2"), F.col("e2"))
                         .otherwise(F.col("e1")).alias("eg"))
                 .withColumnsRenamed({"dl": "d1", "dg": "d2",
                                      "el": "e1", "eg": "e2"}))
    return (pairs
            .withColumn("cos_sim",
                        F.round(cosine(F.col("e1"), F.col("e2")), 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("d1", "d2", "cos_sim"))
