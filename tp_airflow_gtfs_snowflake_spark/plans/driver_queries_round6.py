"""Round-6 additions: distributed BPE tokenizer training.

The missing tier of the LLM training-data pipeline: rounds 1-5 built
dedup / decontamination / quality / packing; this round adds learning
the tokenizer itself from the curated corpus (Sennrich et al., ACL
2016 — public algorithm; see operators/bpe.py for the 100 TB shape:
one corpus-scale word-count shuffle, then vocabulary-sized merge
iterations).

- c82: the oracled slice — initial symbol-pair counts over the
  word-frequency table (exactly iteration 0 of the trainer's loop,
  SQL-expressible so DuckDB value-checks the distributed pair-count
  aggregation bit-for-bit).
- c82b: the full merge loop (rows-only: iterative argmax+fold is not
  SQL; tests/test_bpe.py pins the merge SEQUENCE exactly against a
  sequential pure-Python reference implementation).
- c83: end-to-end learned-vocabulary token frequencies (rows-only;
  encode applies merges to the DISTINCT word table, never the raw
  corpus).

Also in this round:
- b101: grid-blocked spatial radius join (operators/spatial.py) —
  the blocked-join family's spatial member, oracled against the
  naive O(n^2) theta join on portably-derived integer coordinates.
- b102/b103: KMV/theta sketches (operators/kmv.py) — mergeable
  distinct AND set-intersection estimation with a PORTABLE md5-48bit
  hash and integer-exact estimators, so both queries are value-hash
  oracled (a sketch whose every estimate the oracle reproduces
  bit-for-bit); intersection is the operation HLL cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_airflow_gtfs_snowflake_spark.operators import bpe as _bpe
from tp_airflow_gtfs_snowflake_spark.operators import kmv as _kmv
from tp_airflow_gtfs_snowflake_spark.operators import spatial as _spatial
from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import (
    REGISTRY, _register, _t)


@_register(
    "c82_bpe_pair_counts",
    """
    WITH w AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      FROM documents
    ), wf AS (
      SELECT word || chr(183) AS w, count(*) AS freq
      FROM w WHERE word <> '' GROUP BY word
    ), pr AS (
      SELECT substr(w, CAST(i AS INT), 1) AS left_sym,
             substr(w, CAST(i AS INT) + 1, 1) AS right_sym,
             freq
      FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM wf)
    )
    SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS cnt
    FROM pr GROUP BY left_sym, right_sym
    ORDER BY cnt DESC, left_sym, right_sym
    LIMIT 30
    """,
    "BPE trainer iteration 0: frequency-weighted adjacent character "
    "pair counts over the distinct-word table (end-of-word marker "
    "included), top 30.  This is the exact aggregation the merge "
    "loop argmaxes each round — oracled here so the distributed "
    "pair counting (explode of shifted-slice zip_with, map-side "
    "combined) is value-checked; the iterative loop itself is c82b. "
    "The word-count shuffle is the ONLY corpus-scale stage of BPE "
    "training; pairs aggregate over the vocabulary-sized table",
)
def c82_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sym = _bpe.init_symbols(_bpe.word_frequencies(docs))
    return (_bpe.pair_counts(sym)
            .orderBy(F.desc("cnt"), "left_sym", "right_sym")
            .limit(30)
            .select("left_sym", "right_sym",
                    F.col("cnt").cast("long").alias("cnt")))


@_register(
    "c82b_bpe_learn_merges",
    None,  # iterative argmax + fold; merge sequence pinned by pytest
    "full BPE merge-loop training (30 merges over documents): each "
    "iteration is one map-side-combined pair-count agg + a 1-row "
    "TakeOrdered argmax + a zero-exchange fold applying the merge to "
    "the cached word table, localCheckpoint every 8 rounds "
    "(components.py lineage pattern).  Deterministic tie-break "
    "(count desc, then lexicographic) makes the sequence engine- "
    "and partitioning-independent; tests/test_bpe.py proves exact "
    "equality with a sequential Sennrich-style reference",
)
def c82b_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # ~6k distinct words at sf0.01 -> the loop is task-launch bound;
    # pack into 4 partitions (at corpus scale leave loop_partitions
    # unset -- see learn_bpe docstring).
    return _bpe.learn_bpe(spark, docs, num_merges=30, loop_partitions=4)


@_register(
    "c83_bpe_token_frequencies",
    None,  # depends on the learned merge list -> not SQL-expressible
    "end-to-end learned-vocabulary token histogram: learn 30 merges, "
    "tokenize, count corpus-wide token frequencies, top 30.  The "
    "encode step applies merges to the DISTINCT word table only "
    "(vocabulary-sized work) and the corpus re-weights by word "
    "frequency — raw text is never re-scanned per merge.  At 100 TB "
    "a token stream would broadcast-join this word->tokens map",
)
def c83_bpe_token_frequencies(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = _bpe.bpe_token_frequencies(spark, docs, num_merges=30,
                                    loop_partitions=4)
    return (tf.orderBy(F.desc("total"), "token").limit(30)
            .select("token", F.col("total").cast("long").alias("total")))


@_register(
    "b101_spatial_radius_join",
    """
    WITH p AS (
      SELECT c_custkey AS id,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                      1, 8) AS BIGINT)
                  % 1000000 AS BIGINT) AS x,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                      9, 8) AS BIGINT)
                  % 1000000 AS BIGINT) AS y
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM p a JOIN p b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x)
          + (a.y - b.y) * (a.y - b.y) < 5000 * 5000
    """,
    "grid-blocked spatial radius self-join (operators/spatial.py): "
    "integer point coordinates derived portably from md5(custkey) "
    "in a 1e6-square, all pairs closer than r=5000.  Spark blocks "
    "by r-sized grid cells (3x3 neighbor replication on ONE side, "
    "cell equi-join, exact integer dist_sq verify -- provably "
    "lossless, O(co-bucketed pairs)); the oracle is the naive "
    "O(n^2) theta join.  The GTFS stops-within-radius query in "
    "scaled-meter projection; hot cells are plain join skew (AQE "
    "skew split applies)",
)
def b101_spatial_radius_join(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    coord = lambda lo: (F.conv(F.substring(  # noqa: E731
        F.md5(F.col("c_custkey").cast("string")), lo, 8), 16, 10)
        .cast("long") % 1000000)
    pts = cust.select(F.col("c_custkey").alias("id"),
                      coord(1).alias("x"), coord(9).alias("y"))
    return (_spatial.radius_pairs(pts, radius=5000)
            .select("id_a", "id_b",
                    F.col("dist_sq").cast("long").alias("dist_sq")))


_KMV_VALS_SQL = """
    vals AS (
      SELECT DISTINCT event_type AS g,
             user_id * 100000 + date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE)) AS v
      FROM events
    ), h AS (
      SELECT DISTINCT g,
             CAST(CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 12)
                  AS BIGINT) AS BIGINT) AS h
      FROM vals
    ), r AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM h
    )"""

_KMV_SPACE = 1 << 48


def _kmv_user_day_hashes(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events")
    # DISTINCT here mirrors the oracle's vals CTE: the sketch dedupes
    # anyway, but the exact-count sides join on this relation and
    # would inflate multiplicities without it.
    vals = ev.select(
        F.col("event_type").alias("g"),
        (F.col("user_id") * 100000
         + F.datediff(F.col("ts").cast("date"),
                      F.lit("2024-01-01").cast("date"))).alias("v")
    ).distinct()
    hashed = vals.select("g", _kmv.portable_hash48(F.col("v")).alias("h"))
    return vals, hashed


@_register(
    "b102_kmv_distinct_estimate",
    f"""
    WITH {_KMV_VALS_SQL}, agg AS (
      SELECT g, count(*) AS nh,
             max(CASE WHEN rn = 128 THEN h END) AS kth
      FROM r WHERE rn <= 128 GROUP BY g
    ), ex AS (SELECT g, count(*) AS n_exact FROM vals GROUP BY g)
    SELECT g, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(CASE WHEN nh < 128 THEN nh
                     ELSE 127 * {_KMV_SPACE} // kth END AS BIGINT) AS est,
           CAST(abs(CASE WHEN nh < 128 THEN nh
                         ELSE 127 * {_KMV_SPACE} // kth END - n_exact)
                * 1000000 // n_exact AS BIGINT) AS err_ppm
    FROM ex JOIN agg USING (g) ORDER BY g
    """,
    "KMV/theta distinct sketch (operators/kmv.py), self-auditing: "
    "per event type, the exact distinct user-day count next to the "
    "k=128 KMV estimate and its error in ppm.  The sketch hash is "
    "PORTABLE (md5 48-bit prefix), the estimator is truncating "
    "integer div, so the oracle reproduces every estimate "
    "bit-for-bit — a value-checked sketch, unlike engine-native "
    "approx_count_distinct (b23) which is only bounds-checkable.  "
    "Spark builds <= k-row partial sketches per partition in one "
    "Arrow pass and merges them in one hash agg (mergeable-"
    "summaries shape, like heavy_hitters); the exchange moves "
    "k-bounded partials, never the distinct values",
)
def b102_kmv_distinct_estimate(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    vals, hashed = _kmv_user_day_hashes(spark, sf_dir)
    sk = _kmv.kmv_sketch(hashed, "g", "h", k=128)
    est = _kmv.with_distinct_estimate(sk, 128).select("g", "est")
    exact = vals.groupBy("g").agg(
        F.count("*").cast("long").alias("n_exact"))
    return (exact.join(est, "g")
            .withColumn("err_ppm",
                        F.expr("abs(est - n_exact) * 1000000 "
                               "div n_exact").cast("long"))
            .select("g", "n_exact", F.col("est").cast("long").alias("est"),
                    "err_ppm"))


@_register(
    "b103_kmv_intersection_estimate",
    f"""
    WITH {_KMV_VALS_SQL}, th AS (
      SELECT g, CASE WHEN count(*) >= 128
                     THEN max(CASE WHEN rn = 128 THEN h END)
                     ELSE {_KMV_SPACE} END AS theta
      FROM r WHERE rn <= 128 GROUP BY g
    ), ret AS (
      SELECT r.g, r.h FROM r JOIN th USING (g) WHERE r.h < th.theta
    ), spine AS (
      SELECT t1.g AS g1, t2.g AS g2,
             least(t1.theta, t2.theta) AS cth
      FROM th t1 JOIN th t2 ON t1.g < t2.g
    ), common AS (
      SELECT s.g1, s.g2, count(*) AS c
      FROM spine s
      JOIN ret ra ON ra.g = s.g1
      JOIN ret rb ON rb.g = s.g2 AND rb.h = ra.h
      WHERE ra.h < s.cth
      GROUP BY s.g1, s.g2
    ), exi AS (
      SELECT a.g AS g1, b.g AS g2, count(*) AS n_exact
      FROM vals a JOIN vals b ON a.v = b.v AND a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT s.g1 AS g1, s.g2 AS g2,
           CAST(coalesce(x.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(coalesce(c.c, 0) * {_KMV_SPACE} // s.cth AS BIGINT)
             AS est_inter
    FROM spine s
    LEFT JOIN common c ON c.g1 = s.g1 AND c.g2 = s.g2
    LEFT JOIN exi x ON x.g1 = s.g1 AND x.g2 = s.g2
    ORDER BY g1, g2
    """,
    "theta-sketch SET INTERSECTION estimate for every event-type "
    "pair vs the exact intersection — the operation HLL sketches "
    "(b41/b49) fundamentally cannot do, and the reason KMV retains "
    "hash samples: combined theta = min(theta_a, theta_b), count "
    "retained hashes present in BOTH sketches below it, rescale by "
    "the sampled fraction.  Sketch pairs are k-length arrays, so "
    "the pairwise stage is array math over |groups|^2 tiny rows; "
    "integer-exact arithmetic keeps the oracle bit-for-bit",
)
def b103_kmv_intersection_estimate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    vals, hashed = _kmv_user_day_hashes(spark, sf_dir)
    sk = _kmv.kmv_sketch(hashed, "g", "h", k=128)
    a = sk.select(F.col("g").alias("g1"), F.col("sketch").alias("sketch_a"))
    b = sk.select(F.col("g").alias("g2"), F.col("sketch").alias("sketch_b"))
    spine = a.join(b, F.col("g1") < F.col("g2"))
    est = (_kmv.with_intersect_estimate(spine, 128)
           .select("g1", "g2", F.col("est_inter").cast("long")
                   .alias("est_inter")))
    va = vals.select(F.col("g").alias("g1"), "v")
    vb = vals.select(F.col("g").alias("g2"), "v")
    exact = (va.join(vb, ["v"]).filter(F.col("g1") < F.col("g2"))
             .groupBy("g1", "g2")
             .agg(F.count("*").cast("long").alias("n_exact")))
    return (est.join(exact, ["g1", "g2"], "left")
            .select("g1", "g2",
                    F.coalesce(F.col("n_exact"), F.lit(0)).cast("long")
                    .alias("n_exact"),
                    "est_inter"))


@_register(
    "c84_bpe_fertility_by_lang",
    None,  # depends on the learned merge list -> not SQL-expressible
    "tokenizer-equity audit: tokens-per-word (fertility, ppm) per "
    "language under a BPE vocabulary learned on the WHOLE corpus — "
    "the standard check that a shared vocab does not over-fragment "
    "minority languages (high fertility = more tokens per word = "
    "worse compression for that language).  Word freqs are counted "
    "once per (lang, word); the global merge loop and the encode "
    "both run on the distinct-word table; per-language totals are "
    "freq-weighted sums over the encoded vocab.  Rows-only (the "
    "merge list is iterative); pytest pins the BPE loop itself",
)
def c84_bpe_fertility_by_lang(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word"))
    wf_lang = (w.filter(F.col("word") != "")
               .groupBy("lang", "word").agg(F.count("*").alias("freq")))
    wf_lang = wf_lang.localCheckpoint(eager=True)
    wf = (wf_lang.groupBy("word").agg(F.sum("freq").alias("freq"))
          .coalesce(4))
    learned = _bpe.learn_bpe(spark, docs, num_merges=30, word_freqs=wf)
    pairs = [(r["left_sym"], r["right_sym"]) for r in learned.collect()]
    enc = _bpe.encode_words(wf, pairs).select(
        "word", F.size("syms").alias("n_tok"))
    return (wf_lang.join(enc, "word")
            .groupBy("lang")
            .agg(F.sum("freq").cast("long").alias("n_words"),
                 F.sum(F.col("freq") * F.col("n_tok")).cast("long")
                 .alias("n_tokens"))
            .withColumn("fertility_ppm",
                        F.expr("n_tokens * 1000000 div n_words")
                        .cast("long"))
            .orderBy("lang"))


@_register(
    "c85_feature_hash_bow",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(word), 1, 12) AS BIGINT) % 16
                AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS cnt
    FROM w WHERE word <> ''
    GROUP BY doc_id, dim
    """,
    "feature hashing / hashing trick (Weinberger et al., ICML 2009): "
    "16-dim hashed bag-of-words per document with a PORTABLE md5 "
    "dimension hash — the value-checked sibling of c44's MLlib "
    "HashingTF pipeline (engine-native murmur hash, rows-only "
    "forever).  One explode + one (doc, dim) hash agg, map-side "
    "combinable; no vocabulary table, no OOV handling — the point "
    "of the trick at corpus scale",
)
def c85_feature_hash_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word"))
    return (w.filter(F.col("word") != "")
            .select("doc_id",
                    (_kmv.portable_hash48(F.col("word")) % 16)
                    .alias("dim"))
            .groupBy("doc_id", "dim")
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("dim").cast("long").alias("dim"), "cnt"))


@_register(
    "b104_tree_depth_histogram",
    """
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS node, p_partkey AS anc, 0 AS d FROM part
      UNION ALL
      SELECT w.node, w.anc // 2, w.d + 1 FROM walk w WHERE w.anc >= 2
    ), depths AS (
      SELECT node, max(d) AS depth FROM walk GROUP BY node
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM depths GROUP BY depth ORDER BY depth
    """,
    "recursive-CTE replacement: per-node root+depth over the "
    "parent-pointer forest parent(n) = n div 2 (roots 0 and 1), "
    "aggregated to a depth histogram.  Spark has no WITH RECURSIVE; "
    "operators/hierarchy.py pointer-doubles instead (anc <- anc.anc, "
    "d <- d + d.anc): ceil(log2 D)+1 self-equi-joins for depth D "
    "versus D level-at-a-time shuffles — 11 levels here converge in "
    "5 rounds, a million levels would take 21.  The DuckDB oracle IS "
    "the recursive CTE, walking every node to its root",
)
def b104_tree_depth_histogram(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.hierarchy import (
        tree_depths)
    part = _t(spark, sf_dir, "part")
    parents = part.select(
        F.col("p_partkey").alias("node"),
        F.expr("if(p_partkey >= 2, p_partkey div 2, p_partkey)")
        .alias("parent"))
    return (tree_depths(parents)
            .groupBy(F.col("depth").cast("long").alias("depth"))
            .agg(F.count("*").cast("long").alias("n_nodes"),
                 F.min("node").cast("long").alias("min_node"),
                 F.max("node").cast("long").alias("max_node"))
            .orderBy("depth"))


@_register(
    "c86_jl_projection",
    """
    WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM (SELECT vec_id, embedding,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
    )
    SELECT vec_id, CAST(j.j AS BIGINT) AS j,
           CAST(sum(q * (1 - 2 * (CAST('0x' ||
                  substr(md5((i - 1) || '-' || j.j), 1, 2)
                  AS BIGINT) % 2))) AS BIGINT) AS val
    FROM ex, (SELECT unnest(range(0, 8)) AS j) j
    GROUP BY vec_id, j.j
    """,
    "Johnson-Lindenstrauss random projection 64 -> 8 dims with a "
    "PORTABLE sign matrix (sign_ij from md5('i-j') parity -- the "
    "Achlioptas 2003 database-friendly +-1 projection) over "
    "1e6-quantized components, so every projected value is integer-"
    "exact and oracle-checkable.  The Spark plan is 8 zip_with folds "
    "against sign-array LITERALS exploded to long format: zero "
    "joins, zero extra shuffle, one narrow pass over the corpus -- "
    "the shape a 100 TB embedding-reduction pass needs (the oracle "
    "explodes 64x8 rows per vector instead; both sum the same "
    "integers).  Downstream: cheaper ANN/clustering on 8 dims",
)
def c86_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    emb = _t(spark, sf_dir, "embeddings")
    d_in, d_out = 64, 8
    # same sign formula the oracle computes in SQL: md5("i-j") first
    # byte parity -> +-1 (hashlib.md5 == SQL md5, both RFC 1321)
    signs = [[1 - 2 * (int(hashlib.md5(f"{i}-{j}".encode())
                           .hexdigest()[:2], 16) % 2)
              for i in range(d_in)] for j in range(d_out)]
    proj = [F.aggregate(
        F.zip_with("embedding",
                   F.array(*[F.lit(s) for s in signs[j]]),
                   lambda v, s: F.floor(v.cast("double") * 1000000)
                   .cast("long") * s),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
        for j in range(d_out)]
    arr = F.array(*[F.struct(F.lit(j).cast("long").alias("j"),
                             proj[j].alias("val"))
                    for j in range(d_out)])
    return (emb.select("vec_id", F.explode(arr).alias("p"))
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("p.j").alias("j"),
                    F.col("p.val").cast("long").alias("val")))


@_register(
    "b105_copurchase_pairs",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), supp AS (
      SELECT p, count(*) AS c FROM b GROUP BY p
    ), n AS (SELECT count(DISTINCT o) AS n_orders FROM b),
    pairs AS (
      SELECT a.p AS p1, bb.p AS p2, count(*) AS cnt
      FROM b a JOIN b bb ON a.o = bb.o AND a.p < bb.p
      GROUP BY a.p, bb.p
    )
    SELECT p1, p2, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * n_orders * 1000000 // (s1.c * s2.c) AS BIGINT)
             AS lift_ppm
    FROM pairs
    JOIN supp s1 ON s1.p = pairs.p1
    JOIN supp s2 ON s2.p = pairs.p2
    CROSS JOIN n
    WHERE cnt >= 2
    ORDER BY cnt DESC, p1, p2 LIMIT 20
    """,
    "frequent-itemset mining, level 2 (market basket / A-priori): "
    "part pairs co-occurring in an order, support >= 2, with LIFT in "
    "ppm (pair support x n_orders over the product of item "
    "supports, integer-exact).  The pair join is an EQUI self-join "
    "on the basket key — pairs are generated co-partitioned, and "
    "per-basket fan-out is bounded by basket size squared (TPC-H "
    "<= 7 lines/order; a retail feed would cap items per basket "
    "first, the classic SON/A-priori preconditioning).  Item "
    "supports join back; top-k is TakeOrdered",
)
def b105_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct()
    supp = b.groupBy("p").agg(F.count("*").alias("c"))
    n = b.agg(F.countDistinct("o").alias("n_orders"))
    a1 = b.select("o", F.col("p").alias("p1"))
    a2 = b.select("o", F.col("p").alias("p2"))
    pairs = (a1.join(a2, "o").filter(F.col("p1") < F.col("p2"))
             .groupBy("p1", "p2").agg(F.count("*").alias("cnt"))
             .filter(F.col("cnt") >= 2))
    return (pairs
            .join(supp.select(F.col("p").alias("p1"),
                              F.col("c").alias("c1")), "p1")
            .join(supp.select(F.col("p").alias("p2"),
                              F.col("c").alias("c2")), "p2")
            .crossJoin(F.broadcast(n))
            .withColumn("lift_ppm",
                        F.expr("cnt * n_orders * 1000000 div (c1 * c2)")
                        .cast("long"))
            .orderBy(F.desc("cnt"), "p1", "p2").limit(20)
            .select("p1", "p2", F.col("cnt").cast("long").alias("cnt"),
                    "lift_ppm"))


@_register(
    "c04c_variant_extract",
    """
    SELECT event_type,
           CAST(count(json_valid(props)) AS BIGINT) AS n_parsed,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    "Spark 4 VARIANT path for semi-structured events: try_parse_json "
    "-> VariantType -> variant_get('$.k') typed extraction, the "
    "binary-encoded substitute for c04's per-row get_json_object "
    "string re-parse.  At scale variant decode is a one-time cost at ingest "
    "(store the variant column) instead of a JSON parse per query; "
    "try_parse_json degrades malformed rows to NULL instead of "
    "failing the job",
)
def c04c_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (ev.select("event_type", v.alias("v"), k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("v").cast("long").alias("n_parsed"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.max("k").cast("long").alias("max_k")))


@_register(
    "c87_semantic_dedup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
               FROM embeddings),
    c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 8),
    asg AS (SELECT vec_id, emb, cent_id FROM (
              SELECT e.vec_id, e.emb, c.cent_id,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.emb,
                                                             c.cemb), 6)
                                DESC, c.cent_id) AS rn
              FROM e CROSS JOIN c) WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (e.vec_id NOT IN
                 (SELECT vec_id FROM dropped)) AS BIGINT) AS n_kept
    FROM e GROUP BY label ORDER BY label
    """,
    "SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning "
    "inside embedding-cluster cells — drop any vector that has a "
    "LOWER-ID neighbor above cosine 0.35 in its cell, keep the "
    "rest; per-label kept/total accounting.  Deterministic min-id "
    "dominator rule (a spec'd, order-free variant of the paper's "
    "greedy scan; conservative on chains A~B~C).  Reuses c10's "
    "cell-blocked pair derivation: O(sum cell^2) comparisons, the "
    "drop set is a semi-join, never a global sort.  The final "
    "curation step after lexical dedup (c01/c06): catches "
    "paraphrases lexical hashes cannot",
)
def c87_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM
    emb = _t(spark, sf_dir, "embeddings")
    pairs = SIM.cell_blocked_neardup(emb, n_cents=8, threshold=0.35)
    dropped = pairs.select(F.col("d2").alias("vec_id")).distinct()
    kept = (emb.join(dropped, "vec_id", "left_anti")
            .groupBy("label").agg(F.count("*").alias("n_kept")))
    total = emb.groupBy("label").agg(F.count("*").alias("n_total"))
    return (total.join(kept, "label", "left")
            .select(F.col("label"),
                    F.col("n_total").cast("long").alias("n_total"),
                    F.coalesce(F.col("n_kept"), F.lit(0)).cast("long")
                    .alias("n_kept"))
            .orderBy("label"))


@_register(
    "b106_skyline_docs",
    """
    WITH s AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(list_filter(
                    string_split_regex(lower(text), '[^a-z]+'),
                    w -> w <> ''))) AS BIGINT) AS y
      FROM documents
    )
    SELECT a.doc_id, a.x, a.y FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.x >= a.x AND b.y >= a.y
        AND (b.x > a.x OR b.y > a.y)
    )
    """,
    "skyline / Pareto-dominance query: documents not dominated in "
    "(length, distinct-vocabulary) — no other doc is >= in both and "
    "> in one.  The oracle is the O(n^2) NOT EXISTS dominance spec; "
    "Spark computes it in ONE sorted window pass: descending-x "
    "range frame ending at -1 gives max(y) over STRICTLY longer "
    "docs (range, not rows, so x-ties stay out of their own "
    "frame), plus a per-x partition max for same-length dominance. "
    "O(n log n) vs O(n^2).  Two-pass distributed form (r03 verdict "
    "item, implemented): x-range blocks -> per-block max(y) on the "
    "tiny block table, suffix-max over strictly-higher blocks "
    "broadcast back as each block's carry-in; within a block the "
    "strictly-longer window runs partitioned by block.  No task "
    "holds a global sort",
)
def b106_skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z]+"),
                    lambda w: w != F.lit(""))
    s = docs.select(
        "doc_id", F.col("n_chars").cast("long").alias("x"),
        F.size(F.array_distinct(toks)).cast("long").alias("y"))
    # x-range blocks (monotone in x): rows with strictly greater x
    # are exactly (a) rows in higher blocks -> suffix max over the
    # tiny per-block-max table, broadcast back, plus (b) same-block
    # rows with greater x -> window PARTITIONED by block.
    blk = s.withColumn("_b", F.expr("x div 256"))
    bmax = blk.groupBy("_b").agg(F.max("y").alias("_bm"))
    bhi = bmax.select(
        "_b",
        F.max("_bm").over(W.orderBy(F.col("_b").desc())
                          .rowsBetween(W.unboundedPreceding, -1))
        .alias("_hi"))
    w_gt = (W.partitionBy("_b").orderBy(F.col("x").desc())
            .rangeBetween(W.unboundedPreceding, -1))
    w_eq = W.partitionBy("x")
    flagged = (blk.join(F.broadcast(bhi), "_b")
               .select("doc_id", "x", "y",
                       F.greatest(F.max("y").over(w_gt),
                                  F.col("_hi")).alias("my_gt"),
                       F.max("y").over(w_eq).alias("my_eq")))
    return (flagged
            .filter((F.col("my_gt").isNull()
                     | (F.col("my_gt") < F.col("y")))
                    & (F.col("my_eq") <= F.col("y")))
            .select("doc_id", "x", "y"))


@_register(
    "b107_pps_systematic_sample",
    """
    WITH s AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w
      FROM documents
    ), c AS (
      SELECT doc_id, w,
             sum(w) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(w) OVER () AS total
      FROM s
    )
    SELECT doc_id, w,
           CAST(cum * 50 // total AS BIGINT) AS bucket
    FROM c
    WHERE cum * 50 // total > (cum - w) * 50 // total
    """,
    "systematic PPS (probability-proportional-to-size) sampling: "
    "pick ~50 docs with inclusion probability proportional to "
    "length by marking rows whose cumulative-weight interval "
    "crosses a multiple of total/50 — the classic survey-sampling "
    "design, DETERMINISTIC (integer cumsum boundary test, no RNG) "
    "and exactly reproducible by the oracle.  The corpus-"
    "subsampling primitive when you want long docs favored without "
    "a weighted lottery; heavy docs spanning multiple boundaries "
    "enter once per crossing bucket (bucket id returned).  The "
    "global cumsum is a TWO-PASS distributed prefix sum: local "
    "cumsums within doc_id range blocks (parallel window per "
    "block), block totals cumsum'd on the tiny block table and "
    "broadcast back as offsets — no task ever holds a global sort "
    "(the r03 verdict's one named toy-scale impl, now retired)",
)
def b107_pps_systematic_sample(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.col("n_chars").cast("long").alias("w"))
    # block id monotone in doc_id -> per-block cumsum + block offset
    # == global cumsum ordered by doc_id.  1024 docs/block keeps the
    # block table ~N/1024 rows (tiny even at 10^11 docs the offsets
    # table is ~10^8 rows — itself blockable recursively; one level
    # suffices here and the window over it is CHEAP: one long each).
    blk = s.withColumn("_b", F.expr("doc_id div 1024"))
    local = blk.withColumn(
        "_lc", F.sum("w").over(W.partitionBy("_b").orderBy("doc_id")
                               .rowsBetween(W.unboundedPreceding, 0)))
    btot = blk.groupBy("_b").agg(F.sum("w").alias("_bt"))
    boff = btot.select(
        "_b",
        F.coalesce(F.sum("_bt").over(W.orderBy("_b")
                                     .rowsBetween(W.unboundedPreceding,
                                                  -1)),
                   F.lit(0)).alias("_off"))
    total = btot.agg(F.sum("_bt").alias("total"))
    c = (local.join(F.broadcast(boff), "_b")
         .crossJoin(F.broadcast(total))
         .withColumn("cum", F.col("_lc") + F.col("_off")))
    return (c.filter(F.expr("cum * 50 div total")
                     > F.expr("(cum - w) * 50 div total"))
            .select("doc_id", "w",
                    F.expr("cum * 50 div total").cast("long")
                    .alias("bucket")))


@_register(
    "b108_excess_wait_time",
    """
    WITH a AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events
    ), h AS (
      SELECT event_type,
             lead(t) OVER (PARTITION BY event_type ORDER BY t)
               - t AS hh
      FROM a
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_headways,
           CAST(sum(hh) // count(*) AS BIGINT) AS mean_headway_s,
           CAST(sum(hh * hh) // (2 * sum(hh)) AS BIGINT) AS ewt_s,
           CAST((sum(hh * hh) // (2 * sum(hh))) * 2000000
                // (sum(hh) // count(*)) AS BIGINT)
             AS bunching_ratio_ppm
    FROM h WHERE hh IS NOT NULL AND hh > 0
    GROUP BY event_type ORDER BY event_type
    """,
    "excess wait time / headway regularity (kpis.headway_regularity "
    "twin on the events stream): EWT = E[h^2]/(2 E[h]) over the "
    "positive inter-arrival gaps per type — the transit-industry "
    "bunching KPI (ratio 1.0 = perfectly even service; >1 = "
    "bunched).  The positive-gap MULTISET is invariant to tie "
    "ordering, so the window needs no tiebreaker to stay "
    "deterministic; integer-seconds arithmetic end to end.  One "
    "per-type window + one agg",
)
def b108_excess_wait_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.plans.kpis import (
        headway_regularity)
    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_type",
                  F.unix_timestamp("ts").alias("arrival_s"))
    out = headway_regularity(a, group_cols=("event_type",))
    return (out.select(
        "event_type",
        F.col("n_headways").cast("long").alias("n_headways"),
        F.col("mean_headway_s").cast("long").alias("mean_headway_s"),
        F.col("ewt_s").cast("long").alias("ewt_s"),
        F.col("bunching_ratio_ppm").cast("long")
        .alias("bunching_ratio_ppm"))
        .orderBy("event_type"))


@_register(
    "c88_lookback_dedup",
    """
    WITH ud AS (
      SELECT DISTINCT user_id AS k,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ), g AS (
      SELECT k, d, lag(d) OVER (PARTITION BY k ORDER BY d) AS pd
      FROM ud
    )
    SELECT CAST(d AS BIGINT) AS day_num,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM g WHERE pd IS NULL OR d - pd > 7
    GROUP BY d ORDER BY d
    """,
    "sliding-lookback dedup (operators/dedup.dedup_with_lookback): "
    "a (user, day) observation is kept iff the user was NOT seen in "
    "the previous 7 days — first-wins dedup WITH re-admission after "
    "the window, the rule refreshed crawls and re-sent telemetry "
    "need (c01's exact dedup suppresses forever).  Spacing of "
    "occurrences alone decides, so ONE per-key lag window is the "
    "whole spec.  Output: kept observations per day",
)
def c88_lookback_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        dedup_with_lookback)
    ev = _t(spark, sf_dir, "events")
    ud = (ev.select(
        F.col("user_id").alias("k"),
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("d"))
        .distinct())
    kept = dedup_with_lookback(ud, key_col="k", day_col="d",
                               lookback_days=7)
    return (kept.groupBy(F.col("d").cast("long").alias("day_num"))
            .agg(F.count("*").cast("long").alias("n_kept"))
            .orderBy("day_num"))


@_register(
    "b109_exact_global_median_two_pass",
    """
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(cents, 0.5) AS BIGINT) AS median_cents
    FROM v
    """,
    "EXACT global median without a global sort: pass 1 aggregates "
    "value counts into $1000 buckets and walks the (tiny) cumulative "
    "bucket table to locate the bucket holding rank ceil(n/2); pass "
    "2 scans ONLY that bucket and picks the in-bucket rank element.  "
    "Two fact scans + one driver-side scalar — versus sorting 100 TB "
    "to read one row.  Bucket width bounds pass-2 memory; b47's "
    "equi-depth histogram is the general-sort sibling, b75 the "
    "grouped small-cardinality case.  Oracle: quantile_disc "
    "(= ceil(p*n) sorted element, the b75-verified equivalence)",
)
def b109_exact_global_median_two_pass(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(F.floor(F.col("l_extendedprice") * 100)
                  .cast("long").alias("cents"))
    v = v.localCheckpoint(eager=True)  # both passes read this
    buckets = (v.groupBy(F.expr("cents div 100000").alias("b"))
               .agg(F.count("*").alias("c")))
    from pyspark.sql import Window as W
    cum = buckets.withColumn(
        "cum", F.sum("c").over(W.orderBy("b")
                               .rowsBetween(W.unboundedPreceding, 0)))
    n = v.count()
    k = (n + 1) // 2  # ceil(n/2): the quantile_disc(0.5) rank
    hit = (cum.filter(F.col("cum") >= k).orderBy("b").limit(1)
           .collect()[0])
    offset = k - (int(hit["cum"]) - int(hit["c"]))
    med = (v.filter(F.expr(f"cents div 100000 = {int(hit['b'])}"))
           .agg(F.element_at(F.array_sort(F.collect_list("cents")),
                             offset).alias("m")).collect()[0]["m"])
    return spark.createDataFrame([(n, med)],
                                 "n long, median_cents long")


@_register(
    "c89_unigram_surprise",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      FROM documents
    ), t AS (SELECT doc_id, word FROM w WHERE word <> ''),
    vocab AS (SELECT word, count(*) AS freq FROM t GROUP BY word),
    tot AS (SELECT count(*) AS n FROM t),
    s AS (
      SELECT t.doc_id,
             (length(printf('%b', tot.n))
              - length(printf('%b', vocab.freq))) AS surprise
      FROM t JOIN vocab USING (word) CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(surprise) AS BIGINT) AS sum_surprise,
           CAST(sum(surprise) * 1000000 // count(*) AS BIGINT)
             AS avg_surprise_ppm
    FROM s GROUP BY doc_id
    ORDER BY avg_surprise_ppm DESC, doc_id LIMIT 20
    """,
    "unigram surprise / rare-token density scoring WITHOUT libm: "
    "floor(log2 x) computed portably as length-of-binary-string - 1 "
    "(Spark bin() == DuckDB printf('%b'), both exact integers), so "
    "per-token surprise ~ log2(N) - log2(freq) — the information-"
    "content quality signal (docs dense in rare tokens = jargon / "
    "noise / OOD) that usually forces a float log into the oracle "
    "and breaks bit-parity.  One token explode, one vocab agg, one "
    "join-back (broadcast when the vocab fits), one per-doc agg; "
    "top-20 most surprising docs",
)
def c89_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = (docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.col("word") != ""))
    t = t.localCheckpoint(eager=True)  # vocab + join-back reuse
    vocab = t.groupBy("word").agg(F.count("*").alias("freq"))
    tot = t.agg(F.count("*").alias("n"))
    s = (t.join(vocab, "word").crossJoin(F.broadcast(tot))
         .select("doc_id",
                 (F.length(F.bin("n")) - F.length(F.bin("freq")))
                 .alias("surprise")))
    return (s.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("surprise").cast("long").alias("sum_surprise"))
            .withColumn("avg_surprise_ppm",
                        F.expr("sum_surprise * 1000000 div n_tokens")
                        .cast("long"))
            .orderBy(F.desc("avg_surprise_ppm"), "doc_id").limit(20))


@_register(
    "c90_zipf_slope_audit",
    """
    WITH w AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      FROM documents
    ), vocab AS (
      SELECT word, count(*) AS freq FROM w WHERE word <> ''
      GROUP BY word
    ), ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rnk
      FROM vocab
    ), b AS (
      SELECT (length(printf('%b', rnk)) - 1) AS rank_log2,
             (length(printf('%b', freq)) - 1) AS freq_log2
      FROM ranked
    ), agg AS (
      SELECT rank_log2, count(*) AS n_words,
             sum(freq_log2) AS sfl
      FROM b GROUP BY rank_log2
    )
    SELECT CAST(rank_log2 AS BIGINT) AS rank_log2,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(sfl * 1000000 // n_words AS BIGINT)
             AS mean_freq_log2_ppm,
           CAST(lag(sfl * 1000000 // n_words)
                  OVER (ORDER BY rank_log2)
                - (sfl * 1000000 // n_words) AS BIGINT)
             AS slope_ppm
    FROM agg ORDER BY rank_log2
    """,
    "Zipf power-law audit: mean floor(log2 freq) per log2-rank "
    "octave of the frequency-ranked vocabulary, with the octave-to-"
    "octave drop (healthy natural-language corpora fall ~1 log2-"
    "freq per log2-rank, i.e. slope_ppm ~ 1e6; a flat head means "
    "boilerplate domination, a cliff means template spam).  All "
    "integer via the c89 binary-length log2 — a distribution-shape "
    "audit that is still value-hash oracled.  Vocabulary-sized "
    "global sort (rank window), corpus touched once for counts",
)
def c90_zipf_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    vocab = (docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("freq")))
    ranked = vocab.select(
        "freq", F.row_number().over(
            W.orderBy(F.desc("freq"), "word")).alias("rnk"))
    b = ranked.select(
        (F.length(F.bin("rnk")) - 1).alias("rank_log2"),
        (F.length(F.bin("freq")) - 1).alias("freq_log2"))
    agg = (b.groupBy("rank_log2")
           .agg(F.count("*").alias("n_words"),
                F.sum("freq_log2").alias("sfl"))
           .withColumn("mean_freq_log2_ppm",
                       F.expr("sfl * 1000000 div n_words")))
    return (agg.select(
        F.col("rank_log2").cast("long").alias("rank_log2"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("mean_freq_log2_ppm").cast("long")
        .alias("mean_freq_log2_ppm"),
        (F.lag("mean_freq_log2_ppm").over(W.orderBy("rank_log2"))
         - F.col("mean_freq_log2_ppm")).cast("long").alias("slope_ppm"))
        .orderBy("rank_log2"))


@_register(
    "b110_interval_union",
    """
    WITH iv AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events
    ), pts AS (
      SELECT u, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT u, e AS t, -1 AS d FROM iv
    ), sweep AS (
      SELECT u, t,
             sum(d) OVER (PARTITION BY u ORDER BY t, d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS depth,
             lead(t) OVER (PARTITION BY u ORDER BY t, d DESC)
               AS nxt
      FROM pts
    )
    SELECT CAST(u AS BIGINT) AS user_id,
           CAST(sum(CASE WHEN depth > 0 THEN nxt - t ELSE 0 END)
                AS BIGINT) AS covered_s,
           CAST(sum(CASE WHEN depth = 0 AND nxt IS NOT NULL
                         THEN 1 ELSE 0 END) + 1 AS BIGINT)
             AS n_islands
    FROM sweep GROUP BY u ORDER BY u
    """,
    "interval UNION / coalesce per user: each event claims "
    "[ts, ts+300s); output the total covered seconds and the number "
    "of disjoint merged islands.  The two engines solve it with "
    "DIFFERENT algorithms on purpose: Spark sorts intervals and "
    "flags islands where start exceeds the running max end (one "
    "window pass, gaps-and-islands generalized to intervals); the "
    "oracle runs a +1/-1 boundary SWEEP (depth prefix-sum, covered "
    "length = segments with depth > 0, islands = returns-to-zero) — "
    "agreement is a genuine cross-check, not the same expression "
    "evaluated twice.  Touching endpoints merge in both (+1 sorts "
    "before -1 at the same t)",
)
def b110_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(F.col("user_id").alias("u"),
                   F.unix_timestamp("ts").alias("s")) \
           .withColumn("e", F.col("s") + 300)
    w = W.partitionBy("u").orderBy("s", "e")
    run = iv.withColumn(
        "prev_max_e",
        F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1)))
    isl = run.withColumn(
        "new_island",
        F.when(F.col("prev_max_e").isNull()
               | (F.col("s") > F.col("prev_max_e")), 1).otherwise(0))
    isl = isl.withColumn(
        "island", F.sum("new_island").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
    merged = (isl.groupBy("u", "island")
              .agg(F.min("s").alias("ms"), F.max("e").alias("me")))
    return (merged.groupBy(F.col("u").cast("long").alias("user_id"))
            .agg(F.sum(F.col("me") - F.col("ms")).cast("long")
                 .alias("covered_s"),
                 F.count("*").cast("long").alias("n_islands"))
            .orderBy("user_id"))


@_register(
    "c91_ann_recall_eval",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
               FROM embeddings),
    c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 8),
    q AS (SELECT vec_id AS qid, emb AS qemb FROM e
          WHERE vec_id BETWEEN 100 AND 119),
    truth AS (
      SELECT qid, vec_id, rn FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.emb, q.qemb),
                                6) DESC, e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.qid) WHERE rn <= 10),
    asg AS (SELECT vec_id, emb, cent_id FROM (
        SELECT e.vec_id, e.emb, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.emb, c.cemb),
                                6) DESC, c.cent_id) AS rn
        FROM e CROSS JOIN c) WHERE rn = 1),
    probe AS (SELECT qid, cent_id FROM (
        SELECT q.qid, c.cent_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(c.cemb, q.qemb),
                                6) DESC, c.cent_id) AS rn
        FROM q CROSS JOIN c) WHERE rn <= 2),
    ivf AS (SELECT qid, vec_id, rn FROM (
        SELECT q.qid, a.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(a.emb, q.qemb),
                                6) DESC, a.vec_id) AS rn
        FROM q JOIN probe p ON p.qid = q.qid
               JOIN asg a ON a.cent_id = p.cent_id
                          AND a.vec_id <> q.qid) WHERE rn <= 10),
    hit AS (SELECT t.qid, count(*) AS h
            FROM truth t JOIN ivf i
              ON i.qid = t.qid AND i.vec_id = t.vec_id
            GROUP BY t.qid),
    rr AS (SELECT t.qid, coalesce(max(1000000 // i.rn), 0) AS rrp
           FROM truth t LEFT JOIN ivf i
             ON i.qid = t.qid AND i.vec_id = t.vec_id
           WHERE t.rn = 1 GROUP BY t.qid)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(coalesce(h, 0)) * 1000000
                // (10 * count(*)) AS BIGINT) AS recall10_ppm,
           CAST(sum(coalesce(rrp, 0)) // count(*) AS BIGINT) AS mrr_ppm
    FROM q LEFT JOIN hit USING (qid) LEFT JOIN rr USING (qid)
    """,
    "ANN EVALUATION harness: recall@10 and MRR of the IVF index "
    "(stand-in centroids, n_probe=2) against exact brute-force "
    "truth over a 20-query batch — the tuning table every "
    "production ANN deployment keeps (c09 is one query; this "
    "aggregates quality).  Set-based, no per-query loop: queries "
    "broadcast against the corpus for truth, against cells for "
    "probes; ranks by per-qid windows; MRR's reciprocal rank in "
    "integer ppm so the whole scorecard stays value-hash oracled.  "
    "At 100 TB the truth pass is the expensive audit you run on a "
    "sampled query set exactly like this",
)
def c91_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from tp_airflow_gtfs_snowflake_spark.functions.vectors import cosine
    from tp_airflow_gtfs_snowflake_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").alias("emb"))
    q = (e.filter(F.col("vec_id").between(100, 119))
         .select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")))

    def topk_per_query(cand, k):
        rn = F.row_number().over(
            W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id"))
        return (cand.withColumn("rn", rn).filter(F.col("rn") <= k)
                .select("qid", "vec_id", "rn"))

    scored_all = (e.crossJoin(F.broadcast(q))
                  .filter(F.col("vec_id") != F.col("qid"))
                  .withColumn("sim", F.round(cosine(F.col("emb"), F.col("qemb")), 6)))
    truth = topk_per_query(scored_all, 10)

    asg = SIM.ivf_assign(e, vec_col="emb", n_cents=8)
    cents = (e.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("emb").alias("cemb")))
    probe = (cents.crossJoin(F.broadcast(q))
             .withColumn("sim", F.round(cosine(F.col("cemb"), F.col("qemb")), 6))
             .withColumn("rn", F.row_number().over(
                 W.partitionBy("qid").orderBy(F.desc("sim"), "cent_id")))
             .filter(F.col("rn") <= 2).select("qid", "cent_id"))
    ivf_scored = (asg.join(probe.join(q, "qid"), "cent_id")
                  .filter(F.col("vec_id") != F.col("qid"))
                  .withColumn("sim", F.round(cosine(F.col("emb"), F.col("qemb")), 6)))
    ivf = topk_per_query(ivf_scored, 10)

    hit = (truth.join(ivf.select("qid", "vec_id"), ["qid", "vec_id"])
           .groupBy("qid").agg(F.count("*").alias("h")))
    rr = (truth.filter(F.col("rn") == 1)
          .join(ivf.select("qid", "vec_id",
                           F.col("rn").alias("irn")),
                ["qid", "vec_id"], "left")
          .groupBy("qid")
          .agg(F.coalesce(F.max(F.expr("1000000 div irn")), F.lit(0))
               .alias("rrp")))
    return (q.select("qid")
            .join(hit, "qid", "left").join(rr, "qid", "left")
            .agg(F.count("*").cast("long").alias("n_queries"),
                 F.expr("sum(coalesce(h, 0)) * 1000000 "
                        "div (10 * count(*))").cast("long")
                 .alias("recall10_ppm"),
                 F.expr("sum(coalesce(rrp, 0)) div count(*)")
                 .cast("long").alias("mrr_ppm")))


@_register(
    "c92_dedup_threshold_sweep",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
                                                    ' +'), t -> t <> '')
               AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
               || ' ' || ts[CAST(i AS INT) + 2] AS sh
      FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
            FROM toks)
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                      count(*) AS n_common
               FROM sh a JOIN sh b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
    j AS (SELECT n_common * 1000000
                 // (x.n_sh + y.n_sh - n_common) AS j_ppm
          FROM common JOIN sizes x ON x.doc_id = d1
                      JOIN sizes y ON y.doc_id = d2),
    t AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
            AS thr)
    SELECT CAST(thr AS BIGINT) AS threshold_ppm,
           CAST(count(j_ppm) FILTER (j_ppm >= thr) AS BIGINT)
             AS n_pairs
    FROM t LEFT JOIN j ON true
    GROUP BY thr ORDER BY thr
    """,
    "dedup THRESHOLD SWEEP: near-duplicate pair counts at jaccard "
    "cutoffs 0.5-0.9 from ONE inverted-index pair derivation (c08's "
    "exact 3-gram Jaccard, integer ppm) — the tuning table that "
    "decides a production threshold: pairs-versus-cutoff is the "
    "dedup ROI curve, and computing all 5 cutoffs costs one extra "
    "tiny aggregation, not 5 pair scans.  Companions: c80 audits "
    "LSH against this exact truth; c91 is the ANN counterpart",
)
def c92_dedup_threshold_sweep(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as D
    docs = _t(spark, sf_dir, "documents")
    # keep_sizes exposes the integer counts: ppm comes from exact
    # integer division, never the float jaccard column
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                  threshold=0.0, keep_sizes=True)
    j = pairs.select(
        F.expr("n_common * 1000000 div (n1 + n2 - n_common)")
        .alias("j_ppm"))
    # one conditional aggregate over the pair set (no thresholds x
    # pairs blowup), then stack the 5 counters into rows
    cuts = (500000, 600000, 700000, 800000, 900000)
    agg = j.agg(*[
        F.count(F.when(F.col("j_ppm") >= t, 1)).cast("long")
        .alias(f"n{t}") for t in cuts])
    stack = ", ".join(f"CAST({t} AS BIGINT), n{t}" for t in cuts)
    return (agg.select(F.expr(
        f"stack({len(cuts)}, {stack}) AS (threshold_ppm, n_pairs)"))
        .orderBy("threshold_ppm"))


@_register(
    "b111_sequence_pattern_match",
    """
    WITH s AS (
      SELECT user_id, string_agg(substr(event_type, 1, 1), ''
               ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT)
             AS n_matches,
           CAST(count(*) AS BIGINT) AS n_users
    FROM s GROUP BY 1 ORDER BY 1
    """,
    "MATCH_RECOGNIZE emulation (Spark has no row-pattern clause): "
    "each user's event history collapses to an ordered single-char "
    "code string (deterministic ordered aggregation, the b73 "
    "collect->sort->join idiom with a (ts, event_id) total order), "
    "then the row pattern is literally a REGEX — here adjacent "
    "view->click->purchase, counted non-overlapping per user and "
    "histogrammed.  ONE per-user shuffle; the sequence string is "
    "session-history sized, so at 100 TB this runs on sessionized "
    "slices (b29) rather than lifetime histories.  Arbitrary "
    "quantified patterns (v+c?p) come free from the regex engine, "
    "which is the point of the encoding",
)
def b111_sequence_pattern_match(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = (ev.select(
        "user_id",
        F.struct(F.col("ts"), F.col("event_id"),
                 F.substring("event_type", 1, 1).alias("c")).alias("s"))
        .groupBy("user_id")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list("s")),
                        lambda x: x["c"]), "").alias("seq")))
    return (seq.select(F.regexp_count("seq", F.lit("vcp"))
                       .cast("long").alias("n_matches"))
            .groupBy("n_matches")
            .agg(F.count("*").cast("long").alias("n_users"))
            .orderBy("n_matches"))


@_register(
    "b112_periodicity_detection",
    """
    WITH d AS (
      SELECT event_type AS t,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), lags AS (SELECT unnest(range(1, 11)) AS lag),
    p AS (
      SELECT a.t, l.lag, a.n AS x, b.n AS y
      FROM d a JOIN lags l ON true
      JOIN d b ON b.t = a.t AND b.day = a.day + l.lag
    ), m AS (
      SELECT t, lag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM p GROUP BY t, lag
    ), c AS (
      SELECT t, lag, n,
             round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy)), 6) AS corr
      FROM m
    )
    SELECT t AS event_type, CAST(lag AS BIGINT) AS best_lag,
           corr AS best_corr, CAST(n AS BIGINT) AS n_pairs
    FROM (SELECT *, row_number() OVER (PARTITION BY t
                      ORDER BY corr DESC, lag) AS rn FROM c)
    WHERE rn = 1 ORDER BY event_type
    """,
    "periodicity detection: per event type, the lag in 1..10 days "
    "whose CALENDAR-aligned autocorrelation of daily counts is "
    "highest (b94's lesson: join on day+L, never lag(L)-over-rows "
    "which misaligns on gap days).  Correlations use b81's exact-"
    "BIGINT-moment form (order-proof partials, one double formula "
    "per (type, lag) at the end) over a |types| x 10-lag explode of "
    "the TINY daily pre-aggregate — the fact is touched once.  The "
    "weekly-seasonality detector behind capacity planning",
)
def b112_periodicity_detection(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy(
        F.col("event_type").alias("t"),
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("day"))
        .agg(F.count("*").alias("n")))
    d = d.localCheckpoint(eager=True)  # tiny; reused by both sides
    lags = F.explode(F.sequence(F.lit(1), F.lit(10))).alias("lag")
    a = d.select("t", "day", F.col("n").alias("x")).select("*", lags)
    b = d.select(F.col("t").alias("t2"), F.col("day").alias("day2"),
                 F.col("n").alias("y"))
    p = a.join(b, (F.col("t2") == F.col("t"))
               & (F.col("day2") == F.col("day") + F.col("lag")))
    m = (p.groupBy("t", "lag")
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy")))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = F.round((nd * F.col("sxy") - sx * F.col("sy"))
                   / F.sqrt((nd * F.col("sxx") - sx * F.col("sx"))
                            * (nd * F.col("syy") - sy * F.col("sy"))),
                   6)
    c = m.withColumn("corr", corr)
    rn = F.row_number().over(
        W.partitionBy("t").orderBy(F.desc("corr"), "lag"))
    return (c.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select(F.col("t").alias("event_type"),
                    F.col("lag").cast("long").alias("best_lag"),
                    F.col("corr").alias("best_corr"),
                    F.col("n").cast("long").alias("n_pairs"))
            .orderBy("event_type"))


@_register(
    "b113_future_activity_labels",
    """
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS d
      FROM events
    )
    SELECT CAST(d AS BIGINT) AS day_num,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(*) FILTER (EXISTS (
                  SELECT 1 FROM ud f
                  WHERE f.u = ud.u AND f.d > ud.d
                    AND f.d <= ud.d + 7)) AS BIGINT) AS n_retained
    FROM ud GROUP BY d ORDER BY d
    """,
    "supervised-label construction: for every (user, active-day) "
    "observation, the binary label 'active again within the next 7 "
    "days' — the churn/retention target a training pipeline joins "
    "features onto.  The oracle is the correlated-EXISTS spec; "
    "Spark builds it WITHOUT a range join: each active day SCATTERS "
    "into the 7 earlier days it would label (explode(sequence), the "
    "b100 trick in reverse), then one distinct semi-join marks the "
    "labeled observations.  Shuffle is 7x the distinct user-day "
    "relation, label leakage is structurally impossible (only "
    "strictly-future days contribute)",
)
def b113_future_activity_labels(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = (ev.select(
        F.col("user_id").alias("u"),
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("d"))
        .distinct())
    ud = ud.localCheckpoint(eager=True)  # scatter + spine reuse
    contrib = (ud.select(
        "u", F.explode(F.sequence(F.col("d") - 7, F.col("d") - 1))
        .alias("qd")).distinct())
    labeled = ud.join(
        contrib.select("u", F.col("qd").alias("d")), ["u", "d"],
        "left_semi")
    pos = labeled.groupBy("d").agg(F.count("*").alias("n_retained"))
    return (ud.groupBy("d").agg(F.count("*").alias("n_active"))
            .join(pos, "d", "left")
            .select(F.col("d").cast("long").alias("day_num"),
                    F.col("n_active").cast("long").alias("n_active"),
                    F.coalesce(F.col("n_retained"), F.lit(0))
                    .cast("long").alias("n_retained"))
            .orderBy("day_num"))


@_register(
    "c94_quantile_normalization",
    """
    WITH v AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x
      FROM documents
    ), s AS (
      SELECT source, doc_id, x,
             row_number() OVER (PARTITION BY source
                                ORDER BY x, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns
      FROM v
    ), g AS (
      SELECT x AS gx,
             row_number() OVER (ORDER BY x, doc_id) AS gr
      FROM v
    ), n AS (SELECT count(*) AS ng FROM v),
    mapped AS (
      SELECT s.source,
             g.gx AS mx
      FROM s CROSS JOIN n
      JOIN g ON g.gr = (s.r * n.ng + s.ns - 1) // s.ns
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mx) AS BIGINT) AS sum_mapped,
           CAST(min(mx) AS BIGINT) AS min_mapped,
           CAST(max(mx) AS BIGINT) AS max_mapped
    FROM mapped GROUP BY source ORDER BY source
    """,
    "quantile normalization across sources (the batch-effect "
    "remover of bioinformatics, applied to corpus stats): each "
    "source's length distribution is replaced by the GLOBAL "
    "reference distribution at the same quantile position — rank "
    "within source r/ns maps to global rank ceil(r*ng/ns), a pure "
    "integer join key, so the normalized values are exact and "
    "oracle-checkable.  Both ranks (per-source and global) are "
    "TWO-PASS blocked (r04, the b47 pattern): parallel per-block "
    "row_numbers + tiny broadcast block offsets — no task ever "
    "sorts a source or the corpus.  One equi-join on the computed "
    "rank.  Downstream filters then use ONE threshold across "
    "sources whose raw scales disagree",
)
def c94_quantile_normalization(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    v = docs.select("source", "doc_id",
                    F.col("n_chars").cast("long").alias("x"))
    v = v.localCheckpoint(eager=True)  # three derivations below

    # blocked exact ranks (the b47 two-pass pattern): local
    # row_numbers per x-range block in parallel, block counts
    # cumsum'd on the tiny block table and broadcast back — applied
    # BOTH per source and globally, so no window ever holds a
    # corpus- or source-sized sort in one task.
    blk = v.withColumn("_b", F.expr("x div 256"))

    def _ranked(df, part_cols):
        local = df.withColumn(
            "_lr", F.row_number().over(
                W.partitionBy(*(part_cols + ["_b"]))
                .orderBy("x", "doc_id")))
        bcnt = df.groupBy(*(part_cols + ["_b"])).agg(
            F.count("*").alias("_c"))
        woff = (W.partitionBy(*part_cols) if part_cols
                else W.partitionBy()).orderBy("_b")             .rowsBetween(W.unboundedPreceding, -1)
        boff = bcnt.select(
            *(part_cols + ["_b"]),
            F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off"))
        return local.join(F.broadcast(boff), part_cols + ["_b"])             .withColumn("_r", F.col("_off") + F.col("_lr"))

    ns = v.groupBy("source").agg(F.count("*").alias("ns"))
    s = (_ranked(blk, ["source"])
         .join(F.broadcast(ns), "source")
         .select("source", "x", F.col("_r").alias("r"), "ns"))
    g = _ranked(blk, []).select(F.col("x").alias("gx"),
                                F.col("_r").alias("gr"))
    n = v.agg(F.count("*").alias("ng"))
    mapped = (s.crossJoin(F.broadcast(n))
              .withColumn("k", F.expr("(r * ng + ns - 1) div ns"))
              .join(g, F.col("k") == F.col("gr")))
    return (mapped.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("gx").cast("long").alias("sum_mapped"),
                 F.min("gx").cast("long").alias("min_mapped"),
                 F.max("gx").cast("long").alias("max_mapped"))
            .orderBy("source"))


# Poisson(1) CDF thresholds scaled to 2^48, precomputed as INTEGER
# LITERALS (the b86 Benford rule: constants go in the query text on
# both sides; libm exp() never runs inside either engine).
_POIS_T = [103548857136060, 207097714272121, 258872142840152,
           276130285696162, 280444821410164, 281307728552965,
           281451546410098, 281472091818260]

_POIS_CASE_SQL = ("CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    + " ELSE 8 END")


@_register(
    "c95_poisson_bootstrap",
    f"""
    WITH reps AS (SELECT unnest(range(0, 16)) AS r),
    u AS (
      SELECT r.r AS r, CAST(n_chars AS BIGINT) AS x,
             CAST(CAST('0x' || substr(md5(doc_id || '-' || r.r),
                                      1, 12) AS BIGINT)
                  AS BIGINT) AS u
      FROM documents CROSS JOIN reps r
    ), w AS (
      SELECT r, x, {_POIS_CASE_SQL} AS w FROM u
    ), m AS (
      SELECT r, sum(w * x) // nullif(sum(w), 0) AS mean_r
      FROM w GROUP BY r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           CAST(min(mean_r) AS BIGINT) AS min_mean,
           CAST(max(mean_r) AS BIGINT) AS max_mean,
           CAST((count(*) * sum(mean_r * mean_r)
                 - sum(mean_r) * sum(mean_r))
                // (count(*) * (count(*) - 1)) AS BIGINT) AS var_est
    FROM m
    """,
    "Poisson bootstrap (Chamandy et al., 'Estimating uncertainty "
    "for massive data streams'): 16 bootstrap replicates of the "
    "mean document length, each reweighting every doc by a "
    "Poisson(1) draw — the resampling scheme that works in ONE "
    "pass over distributed data because it never needs to know n "
    "up front.  Draws are DETERMINISTIC: md5(doc, replicate) "
    "uniform inverted through the Poisson CDF as integer-literal "
    "thresholds, so both engines produce identical replicates and "
    "the variance estimate is value-hash checkable.  Uncertainty "
    "quantification for every other aggregate in this registry "
    "follows the same 16x-explode shape",
)
def c95_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    reps = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r")
    u_expr = _kmv.portable_hash48(
        F.concat_ws("-", F.col("doc_id"), F.col("r")))
    w_expr = F.lit(8)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w_expr = F.when(F.col("u") < _POIS_T[k], k).otherwise(w_expr)
    w = (docs.select(F.col("doc_id"),
                     F.col("n_chars").cast("long").alias("x"), reps)
         .withColumn("u", u_expr)
         .withColumn("w", w_expr))
    m = (w.groupBy("r")
         .agg(F.expr("sum(w * x) div nullif(sum(w), 0)")
              .alias("mean_r")))
    return m.agg(
        F.count("*").cast("long").alias("n_reps"),
        F.min("mean_r").cast("long").alias("min_mean"),
        F.max("mean_r").cast("long").alias("max_mean"),
        F.expr("(count(*) * sum(mean_r * mean_r) "
               "- sum(mean_r) * sum(mean_r)) "
               "div (count(*) * (count(*) - 1))").cast("long")
        .alias("var_est"))


@_register(
    "b114_lead_time_matrix",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (dd < 30) AS BIGINT) AS d_lt30,
           CAST(count(*) FILTER (dd >= 30 AND dd < 60) AS BIGINT)
             AS d_30_60,
           CAST(count(*) FILTER (dd >= 60 AND dd < 90) AS BIGINT)
             AS d_60_90,
           CAST(count(*) FILTER (dd >= 90) AS BIGINT) AS d_ge90,
           CAST(sum(dd) // count(*) AS BIGINT) AS mean_days
    FROM (
      SELECT o_orderpriority,
             date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) AS dd
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ) GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "order-to-ship lead-time matrix: per priority class, line counts "
    "in 30-day service bands plus the integer mean — the fulfilment "
    "SLA dashboard tile (the delay-KPI shape of the reference's "
    "transit dashboard applied to the supply chain).  One fact-fact "
    "equi-join, conditional counts in a single map-side-combinable "
    "agg (never one pass per band)",
)
def b114_lead_time_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    dd = F.datediff(F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"))
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .select("o_orderpriority", dd.alias("dd")))
    band = lambda c: F.count(F.when(c, 1)).cast("long")  # noqa: E731
    return (j.groupBy("o_orderpriority")
            .agg(band(F.col("dd") < 30).alias("d_lt30"),
                 band((F.col("dd") >= 30) & (F.col("dd") < 60))
                 .alias("d_30_60"),
                 band((F.col("dd") >= 60) & (F.col("dd") < 90))
                 .alias("d_60_90"),
                 band(F.col("dd") >= 90).alias("d_ge90"),
                 F.expr("sum(dd) div count(*)").cast("long")
                 .alias("mean_days"))
            .orderBy("o_orderpriority"))


@_register(
    "c96_gini_concentration",
    """
    WITH v AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS i
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
                // (count(*) * sum(x)) AS BIGINT) AS gini_ppm
    FROM v GROUP BY source ORDER BY source
    """,
    "Gini concentration of document length per source — the "
    "inequality audit behind token-budget planning (gini ~0: every "
    "doc contributes evenly; high gini: a few giant docs dominate "
    "the source's token mass and one bad doc skews training).  The "
    "sorted-rank identity G = (2*sum(i*x_i) - (n+1)*sum(x)) / "
    "(n*sum(x)) makes it ONE rank window + one agg in exact integer "
    "arithmetic (ppm).  Distribution-shape sibling of c90's Zipf "
    "slope (vocabulary axis) on the document axis",
)
def c96_gini_concentration(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    v = docs.select(
        "source", F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(W.partitionBy("source")
                            .orderBy("n_chars", "doc_id")).alias("i"))
    return (v.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.expr("(2 * sum(i * x) - (count(*) + 1) * sum(x)) "
                        "* 1000000 div (count(*) * sum(x))")
                 .cast("long").alias("gini_ppm"))
            .orderBy("source"))


@_register(
    "c97_decontam_needle_sweep",
    """
    WITH lens AS (SELECT unnest([6, 8, 12, 16, 24]) AS nl),
    needles AS (
      SELECT l.nl, substr(t.text, 1, CAST(l.nl AS INT)) AS needle,
             t.doc_id AS src_id
      FROM (SELECT doc_id, text FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT 10) t
      CROSS JOIN lens l
    )
    SELECT CAST(n.nl AS BIGINT) AS needle_len,
           CAST(count(d.doc_id) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs_hit
    FROM needles n LEFT JOIN documents d
      ON d.doc_id <> n.src_id AND instr(d.text, n.needle) > 0
    GROUP BY n.nl ORDER BY n.nl
    """,
    "decontamination SENSITIVITY sweep: exact-substring hits at "
    "needle lengths 6-24 from one corpus scan (c60's method "
    "parameter-swept) — short needles over-match (false "
    "contamination, training data thrown away), long needles "
    "under-match (leaks survive); this table is how the length "
    "threshold gets chosen, mirroring c92's jaccard sweep and "
    "c91's ANN recall table.  All 50 (needle, length) probes "
    "broadcast against ONE pass over the corpus; at 100 TB the "
    "multi-needle probe becomes one Aho-Corasick automaton per "
    "task, still one scan",
)
def c97_decontam_needle_sweep(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    top = (docs.orderBy(F.desc("n_chars"), "doc_id").limit(10)
           .select(F.col("doc_id").alias("src_id"), "text"))
    lens = spark.createDataFrame([(n,) for n in (6, 8, 12, 16, 24)],
                                 "nl int")
    needles = (top.crossJoin(lens)
               .select("src_id", "nl",
                       F.expr("substring(text, 1, nl)").alias("needle")))
    hits = (docs.crossJoin(F.broadcast(needles))
            .filter((F.col("doc_id") != F.col("src_id"))
                    & (F.instr("text", F.col("needle")) > 0))
            .groupBy("nl")
            .agg(F.count("*").alias("n_hits"),
                 F.countDistinct("doc_id").alias("n_docs_hit")))
    spine = lens.select(F.col("nl"))
    return (spine.join(hits, "nl", "left")
            .select(F.col("nl").cast("long").alias("needle_len"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.coalesce("n_docs_hit", F.lit(0)).cast("long")
                    .alias("n_docs_hit"))
            .orderBy("needle_len"))


@_register(
    "b115_bounce_rate",
    """
    WITH e AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events
    ), g AS (
      SELECT u, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY u ORDER BY t)
                       > 1800 OR lag(t) OVER (PARTITION BY u
                                              ORDER BY t) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ), s AS (
      SELECT u, t,
             sum(brk) OVER (PARTITION BY u ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
      FROM g
    ), sess AS (
      SELECT u, sid, min(t) AS start_t, count(*) AS n
      FROM s GROUP BY u, sid
    )
    SELECT CAST(start_t // 86400 AS BIGINT) AS day_num,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_bounces,
           CAST(count(*) FILTER (n = 1) * 1000000 // count(*)
                AS BIGINT) AS bounce_ppm
    FROM sess GROUP BY 1 ORDER BY 1
    """,
    "bounce rate: share of 30-minute-gap sessions containing exactly "
    "one event, per session-start day — the classic engagement KPI, "
    "built on the same gaps-and-islands core as b29/operators/"
    "sessions.py (one per-user window + cumsum, one session agg, "
    "one day agg).  Sessions attribute to their START day, so a "
    "midnight-spanning session counts once",
)
def b115_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import sessions
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("user"),
        F.unix_timestamp("ts").alias("ts"))
    sess = sessions.sessionize(ev, gap_seconds=1800)
    return (sess.groupBy(F.expr("start_epoch div 86400")
                         .cast("long").alias("day_num"))
            .agg(F.count("*").cast("long").alias("n_sessions"),
                 F.count(F.when(F.col("n") == 1, 1)).cast("long")
                 .alias("n_bounces"))
            .withColumn("bounce_ppm",
                        F.expr("n_bounces * 1000000 div n_sessions")
                        .cast("long"))
            .orderBy("day_num"))


@_register(
    "b116_weekend_lift",
    """
    SELECT event_type,
           CAST(count(*) FILTER (dayofweek(ts) IN (0, 6)) AS BIGINT)
             AS n_weekend,
           CAST(count(*) FILTER (dayofweek(ts) NOT IN (0, 6))
                AS BIGINT) AS n_weekday,
           CAST(count(*) FILTER (dayofweek(ts) IN (0, 6)) * 5
                * 1000000
                // nullif(count(*) FILTER (dayofweek(ts)
                                           NOT IN (0, 6)) * 2, 0)
                AS BIGINT) AS weekend_lift_ppm
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "weekend-vs-weekday rate lift per event type: weekend volume "
    "per weekend day over weekday volume per weekday day (the 5:2 "
    "day-count normalization folded into one integer expression), "
    "lift > 1e6 = weekend-skewed behavior.  The seasonality scalar "
    "behind b08's full heatmap; single conditional aggregate, no "
    "second pass.  DuckDB dayofweek: 0=Sunday, 6=Saturday — Spark "
    "has no dayofweek() int twin with that convention, so the "
    "Spark side derives it from date_format 'E'",
)
def b116_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    is_we = F.date_format("ts", "E").isin("Sat", "Sun")
    return (ev.groupBy("event_type")
            .agg(F.count(F.when(is_we, 1)).cast("long")
                 .alias("n_weekend"),
                 F.count(F.when(~is_we, 1)).cast("long")
                 .alias("n_weekday"))
            .withColumn("weekend_lift_ppm",
                        F.expr("n_weekend * 5 * 1000000 "
                               "div nullif(n_weekday * 2, 0)")
                        .cast("long"))
            .orderBy("event_type"))


@_register(
    "b111_lateral_topk_orders",
    """
    SELECT c.c_custkey, t.o_orderkey,
           CAST(floor(t.o_totalprice * 100) AS BIGINT) AS price_cents
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
    "LATERAL correlated subquery with per-row ORDER BY + LIMIT — the "
    "SQL-standard form of grouped top-k (each customer's 2 priciest "
    "orders), exercised through spark.sql to prove the decorrelation "
    "path: Catalyst rewrites the per-customer subquery into a "
    "WindowGroupLimit (rank <= 2 maintained DURING the sort, "
    "map-side, before any shuffle) + one equi-join — never an "
    "O(customers) loop of subquery executions.  The same result as "
    "b42's explicit window form, arrived at from the declarative "
    "side; plan-gated in tests/test_plan_quality.py.  DuckDB "
    "executes the identical SQL natively",
)
def b111_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey,
               CAST(floor(t.o_totalprice * 100) AS BIGINT) AS price_cents
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """)


@_register(
    "c95_contamination_13gram",
    """
    WITH toks AS (
      SELECT doc_id, doc_id % 19 = 0 AS is_test,
             string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, is_test,
             unnest(list_distinct(list_transform(
               list_transform(range(1, len(t) - 11),
                 i -> list_aggregate(t[i:i+12], 'string_agg', ' ')),
               s -> CAST('0x' || substr(md5(s), 1, 12) AS BIGINT))))
               AS h
      FROM toks WHERE len(t) >= 13
    ), train AS (
      SELECT DISTINCT h FROM g WHERE NOT is_test
    ), hit AS (
      SELECT DISTINCT g.doc_id FROM g JOIN train USING (h)
      WHERE g.is_test
    ), test_docs AS (
      SELECT count(*) AS n_test FROM toks
      WHERE is_test AND len(t) >= 13
    )
    SELECT CAST(n_test AS BIGINT) AS n_test,
           CAST((SELECT count(*) FROM hit) AS BIGINT)
             AS n_contaminated,
           CAST((SELECT count(*) FROM hit) * 1000000 // n_test
                AS BIGINT) AS contaminated_ppm
    FROM test_docs
    """,
    "GPT-3-style 13-gram decontamination audit (Brown et al. 2020 "
    "appendix C; the industry-standard n for test-set overlap): "
    "fraction of held-out docs (doc_id % 19) sharing ANY 13-gram "
    "with the training split.  Train side collapses to DISTINCT "
    "13-grams before the semi-join (c30's discipline) and the test "
    "side explodes only held-out docs — shuffle keys are shingle "
    "hashes, never documents or strings; the c15/c30/c41 family's "
    "missing standard-n variant.  Shingles are portable-md5-48 "
    "HASHED before the shuffle (8-byte keys vs ~90-char strings — "
    "on local[32] the md5 CPU roughly cancels the narrower "
    "exchange, ~4 s at sf0.1 either way, but over a real network "
    "the 10x key-width reduction is what matters) — the oracle "
    "hashes identically, so the 2^-48 collision slack is "
    "mirrored, not hidden",
)
def c95_contamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import kmv as _kmv
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        token_shingles)
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", (F.col("doc_id") % 19 == 0).alias("is_test"),
        token_shingles(F.col("text"), 13).alias("shs"),
        F.size(F.split(F.trim(F.lower("text")), " +")).alias("n_t"))
    toks = toks.filter(F.col("n_t") >= 13)
    # g is consumed by BOTH the train-distinct side and the test probe
    # side of the semi-join; uncut, the tokenize+13-gram+md5 explode
    # over the corpus runs twice.  Lazy cut: the n_hit count is the
    # first action and materializes one explode (measured 7.5 s ->
    # 4.4 s at sf0.1, r11).  Corpus-scale like c138's shingles; both
    # consumers re-shuffle on the hash key, never SinglePartition.
    g = toks.select(
        "doc_id", "is_test",
        F.explode(F.array_distinct(F.transform(
            F.col("shs"), lambda sh: _kmv.portable_hash48(sh))))
        .alias("h")).localCheckpoint(eager=False)
    train = g.filter(~F.col("is_test")).select("h").distinct()
    # n_test from g, not from a fresh toks pass: a test doc survives
    # the n_t >= 13 filter iff it contributes >= 1 hash row to g
    # (size(shs) = n_t - 12 >= 1, array_distinct keeps >= 1).
    # ONE job for BOTH scalars (r11 job diet, second pass): the
    # left-semi probe becomes a left join against the distinct train
    # hashes (at most one match per row, so no fanout) carrying a hit
    # flag; one groupBy(doc_id) then yields n_test = count(*) and
    # n_hit = sum(max(flag)) together — replacing two actions (a
    # countDistinct pass over g and a semi-join + distinct + count)
    # with one (jobs 11 -> 8; interleaved A/B min 3.44 -> 3.31 s on a
    # drifted host, results identical).
    t = g.filter(F.col("is_test"))
    marked = t.join(train.withColumn("m", F.lit(1)), "h", "left")
    perdoc = marked.groupBy("doc_id").agg(F.max("m").alias("hit"))
    _r = perdoc.agg(F.count("*").alias("nt"),
                    F.sum("hit").alias("nh")).first()
    n_test, n_hit = _r["nt"], int(_r["nh"] or 0)
    return spark.createDataFrame(
        [(n_test, n_hit, n_hit * 1_000_000 // max(n_test, 1))],
        "n_test long, n_contaminated long, contaminated_ppm long")


@_register(
    "c96_source_score_normalize",
    """
    WITH s AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(lower(text)), ' +'))
               AS score
      FROM documents
    ), r AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source, CAST(score AS BIGINT) AS score,
           CAST(CASE WHEN n > 1
                     THEN (rn - 1) * 1000000 // (n - 1)
                     ELSE 0 END AS BIGINT) AS rank_ppm
    FROM r
    """,
    "per-source score calibration: within-source rank normalization "
    "of a quality score to [0, 1e6] ppm — the curation step that "
    "makes thresholds comparable ACROSS sources whose raw score "
    "distributions differ (a fixed global cutoff over-prunes "
    "whichever source scores low; mixing weights like c34's assume "
    "calibrated quality).  Score here is token count; ANY per-doc "
    "score column plugs in.  Two-pass blocked ranks (b47's "
    "treatment applied WITHIN each source — a bare per-source "
    "window is one task per source, hot when a corpus has few huge "
    "sources), integer rank arithmetic with a deterministic "
    "(score, doc_id) tiebreak so both engines agree exactly — the "
    "within-group twin of b47's global equi-depth buckets",
)
def c96_source_score_normalize(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.lower("text")), " +")).alias("score"))
    # a bare per-source window is ONE task per source — hot when the
    # corpus has few, huge sources.  Same two-pass treatment as b47:
    # (source, score-range block) local row_numbers in parallel,
    # block counts cumsum'd per source on the tiny block table and
    # broadcast back as rank offsets.
    blk = s.withColumn("_b", F.expr("score div 64"))
    local = blk.withColumn(
        "_lr", F.row_number().over(
            W.partitionBy("source", "_b").orderBy("score", "doc_id")))
    bcnt = blk.groupBy("source", "_b").agg(F.count("*").alias("_c"))
    boff = bcnt.select(
        "source", "_b",
        F.coalesce(
            F.sum("_c").over(W.partitionBy("source").orderBy("_b")
                             .rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)).alias("_off"))
    n_src = bcnt.groupBy("source").agg(F.sum("_c").alias("n"))
    r = (local.join(F.broadcast(boff), ["source", "_b"])
         .join(F.broadcast(n_src), "source")
         .withColumn("rn", F.col("_off") + F.col("_lr")))
    return r.select(
        "doc_id", "source", F.col("score").cast("long").alias("score"),
        F.when(F.col("n") > 1,
               F.expr("(rn - 1) * 1000000 div (n - 1)"))
        .otherwise(F.lit(0)).cast("long").alias("rank_ppm"))


@_register(
    "c98_triangle_count",
    """
    WITH pl AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem
    ), e AS (
      SELECT DISTINCT a.p AS p1, b.p AS p2
      FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
    ), nodes AS (
      SELECT count(DISTINCT p) AS n_nodes FROM pl
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*)
                 FROM e a JOIN e b ON b.p1 = a.p2
                          JOIN e c ON c.p1 = a.p1 AND c.p2 = b.p2)
                AS BIGINT) AS n_triangles
    FROM nodes
    """,
    "distributed triangle counting over the part co-purchase graph "
    "(parts sharing an order), the missing classic in the graph "
    "family (c19 components, c32 PageRank, b104 pointer doubling): "
    "Spark runs the DEGREE-ORIENTED algorithm (Suri & Vassilvitskii "
    "WWW'11 / Cohen '09) — orient each edge from the lower (degree, "
    "id) endpoint to the higher, then close each arrow (u, v) by "
    "intersecting the two sorted out-adjacency arrays "
    "— O(m^1.5) adjacency-intersection work instead of sum(deg^2), "
    "survives power-law degree skew at 100 TB (a hub's wedges "
    "explode quadratically in the naive join).  Orientation "
    "preserves the count exactly: every triangle has a unique "
    "lowest-(degree, id) apex.  The oracle counts the same "
    "canonical p1<p2<p3 closures directly",
)
def c98_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pl = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p"))
    # pair generation WITHOUT a self-join: one groupBy(order) into a
    # sorted parts array, pairs via an explode of the slice HOF (the
    # per-order basket is small, so the array stays tiny).  collect_set
    # dedupes (o, p) within the basket, so no pre-distinct shuffle.
    arr = pl.groupBy("o").agg(F.sort_array(F.collect_set("p"))
                              .alias("ps"))
    pairs = arr.select(F.explode(F.expr(
        "flatten(transform(ps, (x, i) -> transform("
        "slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"
    )).alias("e")).select("e.p1", "e.p2")
    # lazy: the fused scalar job below is the first action and
    # materializes the cut as a side effect (reused 3x afterwards)
    e = pairs.distinct().localCheckpoint(eager=False)
    # ONE job for both scalar counts (r11 job diet): crossJoin of two
    # 1-row aggs lets the e-materialization and the node-count scan
    # schedule concurrently instead of as two serial actions
    # (interleaved A/B x2 sessions: min 5.72->4.50 s, 6.89->5.26 s).
    _c = (e.agg(F.count("*").alias("ne"))
          .crossJoin(pl.agg(F.countDistinct("p").alias("nn")))
          .first())
    n_edges, n_nodes = _c["ne"], _c["nn"]
    # degree-oriented arrows: from the (deg, id)-smaller endpoint
    deg = (e.select(F.col("p1").alias("p"))
           .unionAll(e.select(F.col("p2").alias("p")))
           .groupBy("p").agg(F.count("*").alias("d")))
    d1 = deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))
    ed = e.join(d1, "p1").join(d2, "p2")
    arrows = ed.select(
        F.when((F.col("d1") < F.col("d2"))
               | ((F.col("d1") == F.col("d2"))
                  & (F.col("p1") < F.col("p2"))),
               F.struct(F.col("p1").alias("u"), F.col("p2").alias("v")))
        .otherwise(F.struct(F.col("p2").alias("u"),
                            F.col("p1").alias("v"))).alias("s")
    ).select("s.u", "s.v").localCheckpoint(eager=False)
    # ^ arrows is consumed three times below (probe side + twice via
    # adj); uncut, the e+deg orientation joins replay 3x — the lazy
    # cut folds materialization into the close job (measured: close
    # phase 4.6 s -> 2.5 s at sf0.1, r11 job diet)
    # edge-iterator close: each arrow (u, v) contributes
    # |N+(u) n N+(v)| — the wedge set is never materialized (the
    # naive wedge join at sf0.1 builds ~8x more rows than edges);
    # out-adjacency arrays are sqrt(2m)-bounded by the orientation.
    # NEGATIVE (r11, measured): regenerating the probe side by
    # exploding adj (cutting the arrows-by-u shuffle + first join)
    # was slower-or-mixed across two interleaved sessions (min 8.08
    # vs 6.89 s; heavy-tailed) — the exploded rows carry the nbrs
    # array through the by-v exchange before the join can prune it,
    # while the two-join shape ships narrow arrows and lets AQE
    # broadcast the adj side.  Keep the two-join close.
    # Skew proof (r12, VERDICT r11 task 6 — measured, no salting
    # needed): degree histogram at sf0.1 AND sf1 shows max/med degree
    # 222/119; arrows-by-u max 97 (the sqrt(2m) orientation bound at
    # work — sqrt(2m) ~ 1546/4890), arrows-by-v max/med 222/51; the
    # simulated by-v hash-partition loads are max/med 1.09 (32 parts,
    # sf0.1) and 1.03 (32 parts, sf1) — no hot-key concentration.
    # Structural guarantee for power-law inputs at 100 TB: per-v work
    # is <= deg(v) x sqrt(2m) rows (orientation caps every adjacency
    # array), per-u is <= sqrt(2m)^2, and both close-phase exchanges
    # stay ENSURE_REQUIREMENTS so AQE skew-split remains armed for
    # any partition past its 256 MB threshold.  Salting rejected:
    # it would break the adj-side broadcast AQE picks at small scale
    # and buys nothing the orientation hasn't already bounded.
    adj = arrows.groupBy("u").agg(F.sort_array(F.collect_list("v"))
                                  .alias("nbrs"))
    j = (arrows
         .join(adj.select(F.col("u"), F.col("nbrs").alias("nu")), "u")
         .join(adj.select(F.col("u").alias("v"),
                          F.col("nbrs").alias("nv")), "v"))
    n_tri = j.agg(F.sum(F.size(F.array_intersect("nu", "nv")))
                  .alias("t")).first()["t"] or 0
    return spark.createDataFrame(
        [(n_nodes, n_edges, int(n_tri))],
        "n_nodes long, n_edges long, n_triangles long")


@_register(
    "b117_position_attribution",
    """
    WITH conv AS (
      SELECT user_id, max(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), j AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn,
             count(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN conv c
        ON c.user_id = e.user_id AND e.ts <= c.conv_ts
    ), w AS (
      SELECT user_id, event_type,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN rn = 1 OR rn = n THEN 400000
                  ELSE 200000 // (n - 2) END AS w_ppm
      FROM j
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(w_ppm) AS BIGINT) AS credit_ppm
    FROM w GROUP BY event_type ORDER BY event_type
    """,
    "position-based (U-shaped) multi-touch attribution: each "
    "converting user's journey up to their last purchase credits "
    "40% to the first touch, 40% to the last, and splits 20% across "
    "the middles — the standard marketing-analytics model next to "
    "b51's first-touch.  Weights are integer ppm with truncating "
    "middle shares (the sub-ppm remainder is dropped, documented — "
    "float shares would never cross-engine hash); journeys order by "
    "the deterministic (ts, event_id) tiebreak.  Two windows per "
    "user partition + one agg; the conversion spine joins on "
    "user_id (hash-sharded, no global state)",
)
def b117_position_attribution(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    ev = _t(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id").agg(F.max("ts").alias("conv_ts")))
    j = (ev.join(conv, "user_id")
         .filter(F.col("ts") <= F.col("conv_ts")))
    wu = W.partitionBy("user_id")
    j = j.select(
        "user_id", "event_type",
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.count("*").over(wu).alias("n"))
    w_ppm = (F.when(F.col("n") == 1, F.lit(1_000_000))
             .when(F.col("n") == 2, F.lit(500_000))
             .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")),
                   F.lit(400_000))
             .otherwise(F.expr("200000 div (n - 2)")))
    return (j.withColumn("w_ppm", w_ppm)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_touches"),
                 F.sum("w_ppm").cast("long").alias("credit_ppm"))
            .orderBy("event_type"))


def _c100_oracle() -> str:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _duck_hash64, _duck_minhash_band_case, _duck_minhash_mins,
        _duck_shingles, _duck_toks)
    return f"""
    WITH t AS (SELECT doc_id, {_duck_toks()} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_duck_shingles(3)}) AS sh FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    exact_pairs AS (
      SELECT s1.doc_id AS d1, s2.doc_id AS d2
      FROM sh s1 JOIN sh s2 ON s2.sh = s1.sh AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
      HAVING count(*) * 1.0
             / (max((SELECT n_sh FROM sizes WHERE doc_id = s1.doc_id))
                + max((SELECT n_sh FROM sizes WHERE doc_id = s2.doc_id))
                - count(*)) >= 0.5
    ),
    hx AS (SELECT doc_id, {_duck_hash64('sh')} % {_D.MINHASH_P} AS h
           FROM sh),
    m AS (SELECT doc_id, {_duck_minhash_mins(16)} FROM hx GROUP BY doc_id),
    banded AS (SELECT doc_id, b.band AS band,
                      md5({_duck_minhash_band_case(16, 4)}) AS bucket
               FROM m, range(0, 4) b(band)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
    minhash_pairs AS (
      SELECT c.d1, c.d2 FROM cand c
      JOIN exact_pairs e ON e.d1 = c.d1 AND e.d2 = c.d2
    ),
    h2 AS (SELECT doc_id,
                  list_transform({_duck_shingles(2)},
                                 x -> {_duck_hash64('x')}) AS hs
           FROM t),
    g AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 64), k ->
                   CASE WHEN list_sum(list_transform(hs,
                          h -> ((h >> k) & 1) * 2 - 1)) > 0
                        THEN (1::BIGINT << k) ELSE 0::BIGINT END))
                   AS BIGINT) AS sig
          FROM h2),
    simhash_pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 6
    ),
    tagged AS (
      SELECT 'exact' AS m, d1, d2 FROM exact_pairs
      UNION ALL SELECT 'minhash', d1, d2 FROM minhash_pairs
      UNION ALL SELECT 'simhash', d1, d2 FROM simhash_pairs
    ),
    ms AS (SELECT m, count(*) AS n FROM tagged GROUP BY m),
    common AS (
      SELECT a.m AS m1, b.m AS m2, count(*) AS c
      FROM tagged a JOIN tagged b
        ON a.d1 = b.d1 AND a.d2 = b.d2 AND a.m < b.m
      GROUP BY 1, 2
    )
    SELECT x.m AS m1, y.m AS m2,
           CAST(x.n AS BIGINT) AS n_m1, CAST(y.n AS BIGINT) AS n_m2,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
           CAST(coalesce(c.c, 0) * 1000000
                // (x.n + y.n - coalesce(c.c, 0)) AS BIGINT)
             AS agree_ppm
    FROM ms x JOIN ms y ON x.m < y.m
    LEFT JOIN common c ON c.m1 = x.m AND c.m2 = y.m
    ORDER BY m1, m2
    """


@_register(
    "c100_dedup_method_agreement", _c100_oracle(),
    "dedup-method agreement audit: the pair sets of exact 3-gram "
    "Jaccard (c08), MinHash-LSH-verified (c06) and SimHash radius-6 "
    "(c07) compared pairwise — |A|, |B|, overlap and agreement ppm "
    "per method pair.  The meta-analysis run BEFORE committing a "
    "corpus to one dedup method: where simhash and exact Jaccard "
    "disagree is exactly the paraphrase/near-boundary band, and "
    "minhash-vs-exact measures the banding recall loss directly.  "
    "All three pair derivations reuse the value-oracled c06/c07/c08 "
    "constructions (portable hashes), so the whole matrix is "
    "hash-checked; the agreement stage is tiny (pair-set-sized) "
    "joins",
)
def c100_dedup_method_agreement(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators import dedup as _D
    from tp_airflow_gtfs_snowflake_spark.plans.driver_queries_ext import (
        _spread)
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    exact = _D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                   threshold=0.5).select("d1", "d2")
    mh = _D.minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3,
        threshold=0.5, hash_fn=_D.portable_hash64).select("d1", "d2")
    sh = _D.simhash_near_duplicates(
        docs, "doc_id", "text", radius=6, shingle_n=2,
        hash_fn=_D.portable_hash64).select("d1", "d2")
    tagged = (exact.withColumn("m", F.lit("exact"))
              .unionByName(mh.withColumn("m", F.lit("minhash")))
              .unionByName(sh.withColumn("m", F.lit("simhash"))))
    tagged = tagged.localCheckpoint(eager=True)  # reused 3x, tiny
    ms = tagged.groupBy("m").agg(F.count("*").alias("n"))
    a = tagged.select("d1", "d2", F.col("m").alias("m1"))
    b = tagged.select("d1", "d2", F.col("m").alias("m2"))
    common = (a.join(b, ["d1", "d2"])
              .filter(F.col("m1") < F.col("m2"))
              .groupBy("m1", "m2").agg(F.count("*").alias("c")))
    x = ms.select(F.col("m").alias("m1"), F.col("n").alias("n_m1"))
    y = ms.select(F.col("m").alias("m2"), F.col("n").alias("n_m2"))
    # 3x3 method spine: theta join of two 3-row aggregates — broadcast
    # so it plans as a BNLJ over tiny frames, never a cartesian
    spine = x.join(F.broadcast(y), F.col("m1") < F.col("m2"))
    return (spine.join(common, ["m1", "m2"], "left")
            .select("m1", "m2",
                    F.col("n_m1").cast("long").alias("n_m1"),
                    F.col("n_m2").cast("long").alias("n_m2"),
                    F.coalesce("c", F.lit(0)).cast("long")
                    .alias("n_common"))
            .withColumn("agree_ppm",
                        F.expr("n_common * 1000000 "
                               "div (n_m1 + n_m2 - n_common)")
                        .cast("long"))
            .orderBy("m1", "m2"))


@_register(
    "c101_embedding_drift_audit",
    """
    WITH e AS (
      SELECT vec_id, label, vec_id % 2 AS half,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), idx AS (
      SELECT label, half,
             unnest(list_transform(q, (v, i) -> {'pos': i, 'v': v}))
               AS t
      FROM e
    ), u AS (
      SELECT label, half, t.pos AS pos, t.v AS v FROM idx
    ), c AS (
      SELECT label, half, pos,
             sum(v) // count(*) AS cen
      FROM u GROUP BY label, half, pos
    ), p AS (
      SELECT a.label, a.pos, a.cen AS ca, b.cen AS cb
      FROM c a JOIN c b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1
    ), n AS (
      SELECT label,
             count(*) FILTER (half = 0) AS n_a,
             count(*) FILTER (half = 1) AS n_b
      FROM e GROUP BY label
    )
    SELECT n.label,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST((SELECT sum(abs(ca - cb)) FROM p
                 WHERE p.label = n.label) AS BIGINT) AS l1_shift
    FROM n ORDER BY label
    """,
    "embedding-distribution drift audit: per label, the L1 distance "
    "between the centroids of two corpus halves (vec_id parity "
    "standing in for consecutive ingestion snapshots) on the "
    "integer grid — the monitoring gate a continuously-refreshed "
    "training corpus runs before each mixture re-weight (a drifted "
    "label means its older curation thresholds no longer hold).  "
    "Centroids are truncating integer means per dimension, so both "
    "engines agree exactly.  One posexplode + one (label, half, "
    "pos) agg — dims are a constant factor, the shuffle carries "
    "label-cardinality x dims rows",
)
def c101_embedding_drift_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", (F.col("vec_id") % 2).alias("half"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 1000).cast("long")).alias("q"))
    u = e.select("label", "half",
                 F.posexplode("q").alias("pos0", "v"))
    c = (u.groupBy("label", "half", F.expr("pos0 + 1").alias("pos"))
         .agg(F.expr("sum(v) div count(*)").alias("cen")))
    a = c.filter(F.col("half") == 0).select(
        "label", "pos", F.col("cen").alias("ca"))
    b = c.filter(F.col("half") == 1).select(
        "label", "pos", F.col("cen").alias("cb"))
    shift = (a.join(b, ["label", "pos"])
             .groupBy("label")
             .agg(F.sum(F.abs(F.col("ca") - F.col("cb")))
                  .alias("l1_shift")))
    n = (e.groupBy("label")
         .agg(F.count(F.when(F.col("half") == 0, 1)).alias("n_a"),
              F.count(F.when(F.col("half") == 1, 1)).alias("n_b")))
    return (n.join(shift, "label", "left")
            .select("label",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("l1_shift").cast("long").alias("l1_shift"))
            .orderBy("label"))


@_register(
    "c102_exact_substring_spans",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS tk
      FROM documents
    ), w AS (
      SELECT doc_id, s.i AS start,
             CAST('0x' || substr(md5(
               list_aggregate(tk[s.i:s.i+19], 'string_agg', ' ')),
               1, 12) AS BIGINT) AS h
      FROM t, lateral (SELECT unnest(range(1, len(tk) - 18)) AS i) s
      WHERE len(tk) >= 20
    ), dup AS (
      SELECT h FROM w GROUP BY h
      HAVING count(*) > 1 OR count(DISTINCT doc_id) > 1
    ), hits AS (
      SELECT w.doc_id, w.start, w.start + 19 AS fin
      FROM w JOIN dup USING (h)
    ), marked AS (
      SELECT doc_id, start, fin,
             CASE WHEN start > coalesce(max(fin) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ), islands AS (
      SELECT doc_id, start, fin,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isl
      FROM marked
    ), spans AS (
      SELECT doc_id, min(start) AS s, max(fin) AS f
      FROM islands GROUP BY doc_id, isl
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(f - s + 1) AS dup_tokens
      FROM spans GROUP BY doc_id
    ), sizes AS (
      SELECT doc_id, len(tk) AS n_tokens FROM t
    )
    SELECT s.doc_id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(dup_tokens AS BIGINT) AS dup_tokens,
           CAST(dup_tokens * 1000000 // n_tokens AS BIGINT) AS dup_ppm
    FROM per_doc p JOIN sizes s ON s.doc_id = p.doc_id
    ORDER BY s.doc_id
    """,
    "ExactSubstr deduplication spans (Lee et al., 'Deduplicating "
    "Training Data Makes Language Models Better', ACL'22 — the "
    "suffix-array method's output, re-expressed relationally): every "
    "20-token window that occurs more than once in the corpus marks "
    "a duplicated span; overlapping hits merge into maximal spans "
    "per doc (gaps-and-islands with a running max), yielding the "
    "span count, duplicated-token total and duplicated fraction the "
    "span-REMOVAL step consumes.  Windows are md5-48 hashed before "
    "the frequency agg (the c95 discipline; at 100 TB swap the "
    "md5-of-concat for c03f's rolling hash to avoid materializing "
    "window text) and the per-doc island windows are doc-partitioned "
    "— no global sort.  The relational form finds spans >= L like "
    "the suffix array does, at window granularity",
)
def c102_exact_substring_spans(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from tp_airflow_gtfs_snowflake_spark.operators.dedup import (
        duplicated_spans)
    docs = _t(spark, sf_dir, "documents")
    return (duplicated_spans(docs, "doc_id", "text", window_tokens=20)
            .orderBy("doc_id"))


@_register(
    "b118_nearest_within_radius",
    """
    WITH p AS (
      SELECT CAST(s_suppkey AS BIGINT) AS id,
             CAST(floor(s_acctbal * 10) AS BIGINT) % 4000 AS x,
             CAST(s_suppkey * 37 AS BIGINT) % 4000 AS y
      FROM supplier
    ), pairs AS (
      SELECT a.id AS pid, b.id AS nn,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
               AS dsq
      FROM p a JOIN p b ON a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            < 300 * 300
    ), best AS (
      SELECT pid, nn, dsq,
             row_number() OVER (PARTITION BY pid
                                ORDER BY dsq, nn) AS rn
      FROM pairs
    )
    SELECT pid AS id, nn AS nn_id, CAST(dsq AS BIGINT) AS dist_sq
    FROM best WHERE rn = 1 ORDER BY id
    """,
    "nearest-neighbor-within-radius — the spatial as-of join: for "
    "every point (suppliers embedded on a deterministic integer "
    "grid), its closest other point within r=300, grid-blocked "
    "(operators/spatial.py nearest_within_radius reuses "
    "radius_pairs' 3x3 cell equi-join, never all-pairs) then one "
    "min_by per point with a (dist, id) tiebreak.  The oracle is "
    "the O(n^2) spec join.  The record-linkage primitive when each "
    "entity needs its single best spatial match rather than all "
    "candidates (b101 returns the pair set; this returns the "
    "argmin)",
)
def b118_nearest_within_radius(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    pts = sup.select(
        F.col("s_suppkey").cast("long").alias("id"),
        (F.expr("CAST(floor(s_acctbal * 10) AS BIGINT)")
         % 4000).alias("x"),
        ((F.col("s_suppkey") * 37) % 4000).cast("long").alias("y"))
    out = _spatial.nearest_within_radius(pts, radius=300)
    return (out.select(F.col("id").cast("long").alias("id"),
                       F.col("nn_id").cast("long").alias("nn_id"),
                       F.col("dist_sq").cast("long").alias("dist_sq"))
            .orderBy("id"))


@_register(
    "c103_vocab_overlap_matrix",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), ' +'))
               AS tok
      FROM documents
    ), freq AS (
      SELECT source, tok, count(*) AS f
      FROM toks GROUP BY source, tok
    ), ranked AS (
      SELECT source, tok,
             row_number() OVER (PARTITION BY source
                                ORDER BY f DESC, tok) AS rn
      FROM freq
    ), vocab AS (
      SELECT source, tok FROM ranked WHERE rn <= 500
    ), sizes AS (
      SELECT source, count(*) AS n FROM vocab GROUP BY source
    ), common AS (
      SELECT a.source AS src1, b.source AS src2, count(*) AS c
      FROM vocab a JOIN vocab b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src1, src2,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
           CAST(coalesce(c.c, 0) * 1000000
                // (x.n + y.n - coalesce(c.c, 0)) AS BIGINT)
             AS vocab_jaccard_ppm
    FROM sizes x JOIN sizes y ON x.source < y.source
    LEFT JOIN common c ON c.src1 = x.source AND c.src2 = y.source
    ORDER BY src1, src2
    """,
    "top-500 vocabulary overlap between every source pair: rank each "
    "source's tokens by (frequency desc, token) — the deterministic "
    "top-k vocabulary — and Jaccard the SETS.  The lexical-register "
    "cousin of c64's shingle overlap (c64 finds shared CONTENT, this "
    "finds shared VOCABULARY — two sources can share register with "
    "zero copied text, which matters for mixture weighting and "
    "tokenizer fit).  Per-source windows rank a vocabulary-bounded "
    "table, never documents; the pairwise stage joins 500-row sets",
)
def c103_vocab_overlap_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"))
    freq = toks.groupBy("source", "tok").agg(F.count("*").alias("f"))
    vocab = (freq.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("f"), F.asc("tok"))))
        .filter(F.col("rn") <= 500)
        .select("source", "tok"))
    vocab = vocab.localCheckpoint(eager=True)  # reused 2x, tiny
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src1"), "tok")
    b = vocab.select(F.col("source").alias("src2"), "tok")
    common = (a.join(b, "tok")
              .filter(F.col("src1") < F.col("src2"))
              .groupBy("src1", "src2").agg(F.count("*").alias("c")))
    x = sizes.select(F.col("source").alias("src1"),
                     F.col("n").alias("n1"))
    y = sizes.select(F.col("source").alias("src2"),
                     F.col("n").alias("n2"))
    spine = x.join(F.broadcast(y), F.col("src1") < F.col("src2"))
    return (spine.join(common, ["src1", "src2"], "left")
            .select("src1", "src2",
                    F.coalesce("c", F.lit(0)).cast("long")
                    .alias("n_common"),
                    F.expr("coalesce(c, 0) * 1000000 "
                           "div (n1 + n2 - coalesce(c, 0))")
                    .cast("long").alias("vocab_jaccard_ppm"))
            .orderBy("src1", "src2"))


@_register(
    "b119_seasonal_naive_eval",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), l AS (
      SELECT event_type, day, y,
             lag(y, 1) OVER (PARTITION BY event_type ORDER BY day)
               AS y1,
             lag(y, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS y7
      FROM d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(y - y1)) AS BIGINT) AS mae_naive_sum,
           CAST(sum(abs(y - y7)) AS BIGINT) AS mae_seasonal_sum,
           CAST(sum(abs(y - y7)) * 1000000
                // nullif(sum(abs(y - y1)), 0) AS BIGINT)
             AS mase_ppm
    FROM l WHERE y1 IS NOT NULL AND y7 IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    "seasonal-naive forecast evaluation (MASE numerator/denominator, "
    "Hyndman & Koehler 2006): per event type, the absolute error of "
    "the lag-7 (weekly-seasonal) predictor vs the lag-1 naive "
    "baseline over the daily count series — mase_ppm < 1e6 means "
    "weekly seasonality is real and a seasonal model earns its "
    "keep.  The forecast-EVALUATION primitive (which model family "
    "to even try) computed entirely in-engine: daily counts are "
    "integers, so the error sums and their ppm ratio are exact "
    "cross-engine.  One pre-agg to days, two lags on a "
    "days-per-type-bounded window, one agg",
)
def b119_seasonal_naive_eval(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
         .agg(F.count("*").alias("y")))
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type", "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"))
    return (l.filter(F.col("y1").isNotNull() & F.col("y7").isNotNull())
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_days"),
                 F.sum(F.abs(F.col("y") - F.col("y1"))).cast("long")
                 .alias("mae_naive_sum"),
                 F.sum(F.abs(F.col("y") - F.col("y7"))).cast("long")
                 .alias("mae_seasonal_sum"))
            .withColumn("mase_ppm",
                        F.expr("mae_seasonal_sum * 1000000 "
                               "div nullif(mae_naive_sum, 0)")
                        .cast("long"))
            .orderBy("event_type"))


@_register(
    "b120_dow_median_baseline",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), g AS (
      SELECT event_type, dayofweek(day) AS dow, y FROM d
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(quantile_disc(y, 0.5) AS BIGINT) AS median_y,
           CAST(max(y) - min(y) AS BIGINT) AS range_y
    FROM g GROUP BY event_type, dow
    ORDER BY event_type, dow
    """,
    "robust weekly-seasonality profile: per (event type, day-of-week) "
    "the MEDIAN daily count — the outlier-resistant baseline b119's "
    "MASE check justifies building (one holiday spike corrupts a "
    "mean profile; the median shrugs).  Exact discrete median via "
    "sorted-array element_at((n+1) div 2), the b75/b109-verified "
    "quantile_disc equivalence — groups hold at most a few hundred "
    "day rows, so collect_list is bounded (the b77 histogram "
    "collapse is the unbounded-group form).  DuckDB dayofweek is "
    "0=Sunday; Spark derives the same convention from date_format",
)
def b120_dow_median_baseline(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
         .agg(F.count("*").alias("y")))
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek() is
    # 1=Sunday..7 -> subtract 1
    g = d.select("event_type",
                 (F.dayofweek("day") - 1).cast("long").alias("dow"),
                 "y")
    return (g.groupBy("event_type", "dow")
            .agg(F.count("*").cast("long").alias("n_days"),
                 F.element_at(
                     F.array_sort(F.collect_list("y")),
                     F.expr("cast((count(*) + 1) div 2 as int)"))
                 .cast("long").alias("median_y"),
                 (F.max("y") - F.min("y")).cast("long")
                 .alias("range_y"))
            .orderBy("event_type", "dow"))
