"""Similarity search over embedding columns — brute-force cosine top-k
(the exact baseline) and hyperplane-LSH bucketed ANN (the scale path).

Scale design: brute force is O(Q·N) — fine when Q (queries) is small
and broadcastable; the LSH variant buckets candidates by sign-pattern so
the join fans each query to ~N/2^bits candidates.  All dot products are
JVM-side higher-order array expressions (zip_with + aggregate); no
Python workers in either path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id.

    The query side is a broadcast self-subset — the join is
    broadcast-hash, never a shuffle of the big side.  Ranking rounds the
    cosine to 9 dp before ordering so ranks are stable across engines
    and summation orders; ties break on candidate id.
    """
    # r8 (guide §2.3 narrower work per row): the L2 norm is computed ONCE
    # per vector in the projection instead of inside every pair's cosine
    # — the higher-order dot() is interpreted per call, so norm-per-pair
    # was 3 dots/pair where 1 suffices (identical arithmetic: the same
    # sqrt(dot(v,v)) doubles, just cached — measured 2.6s -> 0.6s at
    # sf1.0 together with the fixture fan in the contract query).
    base = vectors.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    queries = base.where(F.col("cand_id").isin(query_ids)).select(
        F.col("cand_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    denom = F.col("qnrm") * F.col("nrm")
    cos_expr = F.when(
        denom > 0, dot(F.col("qvec"), F.col("vec")) / denom
    ).otherwise(F.lit(0.0))
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", F.round(cos_expr, 9))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def _hyperplane_expr(vec_col: str, n_bits: int) -> str:
    """SQL higher-order expression: sign pattern of projections onto
    pseudo-random hyperplanes whose components derive from
    xxhash64(bit:dim) mapped into [-1, 1] — deterministic, no
    driver RNG, no Python.  (SQL form because shiftleft's Python
    binding only takes static ints, and the shift amount here is the
    lambda-bound bit index.)"""
    return f"""
aggregate(
  transform(sequence(0, {n_bits - 1}), b ->
    if(aggregate(
         zip_with({vec_col}, sequence(0, size({vec_col}) - 1), (x, d) ->
           x * (cast(pmod(xxhash64(concat(cast(b as string), ':',
                                          cast(d as string))), 2001) - 1000
                     as double) / 1000.0)),
         cast(0.0 as double), (acc, v) -> acc + v) > 0,
       shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
  cast(0 as bigint), (acc, x) -> acc + x)
"""


def hyperplane_sig_table(
    vectors: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cand_id, vec, sig) — staged intermediate between hyperplane
    hashing (Spark-only: xxhash64) and the relational bucket-join/rank
    stage, which a SQL oracle can replay from this table."""
    return vectors.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("sig", F.expr(_hyperplane_expr("vec", n_bits)))


def lsh_ann_topk_from_sigs(
    base: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Relational stage of hyperplane-LSH ANN: equi-join on signature,
    exact cosine rank within the bucket."""
    queries = base.where(F.col("cand_id").isin(query_ids)).select(
        F.col("cand_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("sig").alias("qsig"),
    )
    scored = (
        base.join(F.broadcast(queries), F.col("sig") == F.col("qsig"))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("vec")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


_PAIR_SCHEMA_DDL = "id_a long, id_b long, cos double"


def _normalize_rows(pdf, id_key: str = "id", vec_key: str = "v"):
    """(ids int64, L2-normalized float64 matrix) from an Arrow batch."""
    import numpy as np

    ids = pdf[id_key].to_numpy(dtype=np.int64)
    V = np.array([list(v) for v in pdf[vec_key]], dtype=np.float64)
    n = np.linalg.norm(V, axis=1)
    return ids, V / np.where(n > 0, n, 1.0)[:, None]


def _pairs_from_sims(ids_a, ids_b, sims, threshold: float, upper: bool):
    """Thresholded (id_a < id_b) pairs from a similarity matrix."""
    import numpy as np
    import pandas as pd

    ia, ib = np.nonzero(sims >= threshold)
    lo = np.minimum(ids_a[ia], ids_b[ib])
    hi = np.maximum(ids_a[ia], ids_b[ib])
    mask = lo < hi if not upper else ids_a[ia] < ids_b[ib]
    return pd.DataFrame(
        {
            "id_a": np.where(lo < hi, lo, hi)[mask] if not upper else ids_a[ia][mask],
            "id_b": np.where(lo < hi, hi, lo)[mask] if not upper else ids_b[ib][mask],
            "cos": np.round(sims[ia, ib][mask], 9),
        }
    )


def neardup_pairs_blas(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs via a distributed
    block-pair BLAS kernel — no driver collect, no full-corpus broadcast.

    Every vector is hashed to one of ``n_blocks`` blocks and replicated
    to the n_blocks block-PAIRS containing its block; each
    ``applyInPandas`` group holds exactly two blocks (or one, on the
    diagonal) and does one numpy matmul between them.  A pair (u, v)
    lands in exactly one group — (block(u), block(v)) — so the output is
    exact and duplicate-free at ANY threshold.  Per-task memory is
    O((n/n_blocks)² ) sims + two block matrices; replication cost is a
    factor n_blocks on the (small) normalized vectors, never the corpus
    payload.
    """
    import pandas as pd

    base = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).alias("blk"),
    )
    # replicate each row into every block-pair group that contains its
    # block: (min(blk, other), max(blk, other)) for other in 0..B-1
    replicated = base.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        "id",
        "v",
        "blk",
        F.least("blk", "other").alias("bi"),
        F.greatest("blk", "other").alias("bj"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        if bi == bj:
            ids, Vn = _normalize_rows(pdf)
            return _pairs_from_sims(ids, ids, Vn @ Vn.T, threshold, upper=True)
        a_side = pdf[pdf["blk"] == bi]
        b_side = pdf[pdf["blk"] == bj]
        if a_side.empty or b_side.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ids_a, An = _normalize_rows(a_side)
        ids_b, Bn = _normalize_rows(b_side)
        return _pairs_from_sims(ids_a, ids_b, An @ Bn.T, threshold, upper=False)

    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(kernel, _PAIR_SCHEMA_DDL)
        .orderBy("id_a", "id_b")
    )


def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means centroids (cosine geometry, unit-
    normalized updates) — the IVF coarse quantizer.

    Seeds = the n_centroids rows with smallest xxhash64(id) (no RNG);
    each iteration is one broadcast-join assignment + one per-dimension
    aggregate over the corpus.  Centroids are MODEL PARAMETERS —
    n_centroids × dim doubles — so collecting them to the driver per
    iteration is broadcast-scale, not a data collect.
    """
    import numpy as np

    base = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    )
    seeds = (
        base.withColumn("h", F.xxhash64(F.col("id").cast("string")))
        .orderBy("h", "id")
        .limit(n_centroids)
        .collect()
    )
    C = np.array([list(r["vec"]) for r in seeds], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1), 1e-12)[:, None]
    spark = vectors.sparkSession
    for _ in range(n_iters):
        cdf = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(C)],
            "cid int, cvec array<double>",
        )
        assigned = _assign_buckets(base, cdf)
        sums = (
            assigned.select("bucket", F.posexplode("vec").alias("dim", "x"))
            .groupBy("bucket", "dim")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        newC = C.copy()
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r["bucket"], np.zeros(C.shape[1]))[r["dim"]] = r["s"]
        for cid, v in acc.items():
            n = np.linalg.norm(v)
            if n > 0:
                newC[cid] = v / n
        C = newC
    return [[float(x) for x in c] for c in C]


def _assign_buckets(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid (max cosine, tie -> smallest cid) per vector."""
    scored = base.crossJoin(F.broadcast(centroids)).withColumn(
        "cos", F.round(cosine(F.col("vec"), F.col("cvec")), 9)
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id", "vec", F.col("cid").alias("bucket"))
    )


def ivf_assignments(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(assignments (cand_id, vec, bucket), centroids (cid, cvec)) — the
    staged intermediates of IVF-ANN; probing + ranking over them is
    purely relational (SQL-oracle-able)."""
    C = ivf_centroids(vectors, n_centroids, n_iters, id_col, vec_col)
    spark = vectors.sparkSession
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(C)], "cid int, cvec array<double>"
    )
    base = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    )
    assigned = _assign_buckets(base, cdf).withColumnRenamed("id", "cand_id")
    return assigned, cdf


def ivf_ann_topk_from_assignments(
    assigned: DataFrame,
    centroids: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Relational stage of IVF-ANN: per query, probe the n_probe nearest
    centroids, exact-cosine-rank the candidates in those buckets."""
    queries = assigned.where(F.col("cand_id").isin(query_ids)).select(
        F.col("cand_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cid"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("pcos", F.round(cosine(F.col("qvec"), F.col("cvec")), 9))
        .withColumn("prk", F.row_number().over(pw))
        .where(F.col("prk") <= n_probe)
        .select("query_id", "qvec", F.col("cid").alias("bucket"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("vec")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def neardup_pairs_cosine(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= θ).

    Brute-force O(n^2) verification form; the discovery path at scale is
    ``lsh_ann_topk_from_sigs``' bucketing.  Cosine rounded to 9 dp for
    stability.
    """
    # r8: norms precomputed per row (see brute_force_topk) — on the
    # O(n^2) pair join this removes two of the three interpreted dots
    # per pair; arithmetic identical (same doubles, cached).
    base = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    a, b = base.alias("a"), base.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    cos_expr = F.when(
        denom > 0, dot(F.col("a.vec"), F.col("b.vec")) / denom
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cos", F.round(cos_expr, 9))
        .where(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cos")
        .orderBy("id_a", "id_b")
    )
