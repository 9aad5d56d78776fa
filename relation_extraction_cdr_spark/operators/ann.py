"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k baseline + LSH-bucketed scale path.

Design for 100 TB:
- brute force is the CORRECTNESS baseline: query set is small (broadcast)
  so the scan is one narrow pass over the corpus; dot products run as
  JVM higher-order functions (zip_with/aggregate) inside codegen, with a
  window top-k per query.
- the scale path is sign-random-projection LSH: each vector hashes to a
  short bit-bucket via fixed pseudo-random hyperplanes (deterministic,
  seed-derived); only same-bucket pairs are compared — candidate cost
  O(bucket), not O(n^2).  Recall is tunable via n_planes.

Float determinism: cosine accumulations fold left-to-right in index
order via F.aggregate (deterministic), cast to double before summation,
rounded to 6dp when a comparable result is required.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, embedding) — small, broadcast.
    Returns (query_id, vec_id, cos_sim, rank), rank 1..k, self-match
    excluded, ties broken by vec_id for determinism.
    """
    # empty vectors are excluded by contract (norm 0 -> undefined cosine;
    # the SQL oracle's LIST_REDUCE would error on them)
    queries = queries.where(F.size(vec_col) > 0)
    corpus = corpus.where(F.size(vec_col) > 0)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    sim = (
        c.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


QUANT_SCALE = 1_000_000  # fixed-point scale for integer-exact projections


def srp_weights(n_planes: int = 8, dim: int = 64, seed: int = 42) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-2^31, 2^31).

    md5-derived so ANY engine (Spark, DuckDB, plain Python) regenerates
    the identical hyperplanes from (seed, plane, dim) — no libm, no RNG
    state.  Weights are compile-time constants: they enter the plan as
    array literals, so bucketing costs zero per-row hashing.
    """
    return [
        [
            int(hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[:8], 16) - 2**31
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def quantize_vec(vec_col):
    """floor(v * 1e6) as bigint per element — the integer-exact fixed-
    point view of a float embedding.  floor (not round) because its
    semantics are identical across engines; the float->double widening
    and the double multiply are exactly specified by IEEE 754, so every
    engine produces the same integers."""
    return F.transform(
        vec_col, lambda v: F.floor(v.cast("double") * QUANT_SCALE).cast("long")
    )


def srp_bucket(vec_col, n_planes: int = 8, dim: int = 64, seed: int = 42):
    """Sign-random-projection bucket id (0..2^n_planes-1).

    Integer-exact: bit p = 1 iff sum_d quantize(v_d) * W[p][d] >= 0 with
    64-bit integer accumulation (|term| <= 1e6 * 2^31, x64 dims, well
    under the bigint range).  Integer addition is associative, so the
    result is reproducible in any engine at any parallelism — this is
    what makes the LSH queries DuckDB-oracle-checkable value-by-value.
    """
    weights = srp_weights(n_planes, dim, seed)
    q = quantize_vec(vec_col)
    bucket = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                q,
                F.array(*[F.lit(w) for w in weights[p]]),
                lambda x, w: x * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def quantize_sql(vec_expr: str) -> str:
    """SQL rendering of ``quantize_vec`` (DuckDB oracle side)."""
    return (
        f"list_transform({vec_expr}, "
        f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )


def srp_bucket_sql(qcol: str, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """SQL rendering of ``srp_bucket`` over a pre-quantized list column
    (see ``quantize_sql``): same md5-derived weight literals, same
    integer dot products, 1-indexed list access — value-identical to the
    Spark expression in any engine."""
    weights = srp_weights(n_planes, dim, seed)
    bits = []
    for p in range(n_planes):
        terms = " + ".join(f"{qcol}[{d + 1}] * ({weights[p][d]})" for d in range(dim))
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 0,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos_sim) with a < b
    and cos_sim >= threshold (6dp-rounded, deterministic fold order).

    n_planes=0 (default) is the EXACT baseline: the right side is
    broadcast, so the pairing runs as a broadcast nested-loop join — one
    narrow pass over the corpus, no shuffle.  Correct at any threshold,
    O(n^2) comparisons: the oracle-checkable mode.

    n_planes>0 is the scale path: pairs are generated per SRP bucket
    (equi-join on the bucket id), cost O(sum bucket^2) instead of
    O(n^2); recall vs the exact mode is measured in tests, tunable via
    n_planes.  At 100 TB only this mode is viable — the bucket join
    shuffles on a short int key with bounded group sizes.

    Norms are precomputed per row (projected once) so each pair costs a
    single dot product.
    """
    from pyspark import StorageLevel

    emb = emb.where(F.size(vec_col) > 0)  # empty vectors excluded by contract
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        *(
            [srp_bucket(F.col(vec_col), n_planes, dim).alias("_bkt")]
            if n_planes
            else []
        ),
    # both join sides read base; persist so the norm/bucket projection
    # (the per-row quantized-dot folds) executes once, not per side
    ).persist(StorageLevel.MEMORY_AND_DISK)
    on_cols = ["_bkt"] if n_planes else []
    left = base.select(
        *on_cols, F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    right = base.select(
        *on_cols, F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    pairs = (
        left.join(right, on_cols) if n_planes else left.crossJoin(F.broadcast(right))
    )
    return (
        pairs.where(F.col("a") < F.col("b"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cos_sim") >= threshold)
        .select("a", "b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) similarity search — the second scale path next to
# SRP-LSH.  A small deterministic coarse quantizer (centroid sample)
# partitions the corpus into inverted lists; queries probe only the
# nprobe nearest lists.  At 100 TB the corpus-side assignment is one
# narrow broadcast pass + a short-key shuffle, exactly like the LSH
# bucket join — never an all-pairs product.
# ---------------------------------------------------------------------------


def _int_dot(a, b):
    """Integer-exact dot product of two quantized (bigint) vectors.

    |term| <= 1e6 * 1e6, x 64 dims = 6.4e13 — far inside int64, and
    integer addition is associative, so the value is identical in any
    engine at any parallelism."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the n_centroids corpus vectors with
    the smallest md5(vec_id) are the centroids — a uniform pseudo-random
    sample reproducible in any engine (no RNG state, no k-means float
    drift).  Returns (centroid_id, cvec, cq, cn): quantized vector and
    its quantized norm ready for assignment scoring."""
    h = F.md5(F.col(id_col).cast("string"))
    picked = (
        emb.select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
            h.alias("_h"),
        )
        .orderBy("_h", "centroid_id")
        .limit(n_centroids)
        .drop("_h")
    )
    cq = quantize_vec(F.col("cvec"))
    return picked.select(
        "centroid_id",
        "cvec",
        cq.alias("cq"),
        F.sqrt(_int_dot(cq, cq).cast("double")).alias("cn"),
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by angular
    score dot_q(v, c) / ||q_c|| (the vector's own norm is constant per
    row and cannot change the argmax).  Broadcast the tiny centroid
    table; ties break on centroid_id for determinism.  Returns
    (vec_id, embedding, centroid_id)."""
    qv = quantize_vec(F.col(vec_col))
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"), qv.alias("_qv"))
        .crossJoin(F.broadcast(centroids.select("centroid_id", "cq", "cn")))
        .withColumn("_score", _int_dot(F.col("_qv"), F.col("cq")).cast("double") / F.col("cn"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_score").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("vec_id", F.col("_v").alias(vec_col), "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by cosine: each query probes its nprobe nearest
    inverted lists and ranks exactly within them.

    Recall knob is nprobe/n_centroids (recall vs the exact baseline is
    pytest-measured).  The corpus never self-joins: assignment is one
    broadcast pass, the probe join keys on the short centroid id.
    Returns (query_id, vec_id, cos_sim, rank)."""
    from pyspark import StorageLevel

    corpus = corpus.where(F.size(vec_col) > 0)
    queries = queries.where(F.size(vec_col) > 0)
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lists = ivf_assign(corpus, cents, id_col, vec_col)

    # query-side probe set: nprobe best centroids per query
    qv = quantize_vec(F.col(vec_col))
    qscored = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), qv.alias("_qq")
        )
        .crossJoin(F.broadcast(cents.select("centroid_id", "cq", "cn")))
        .withColumn("_score", _int_dot(F.col("_qq"), F.col("cq")).cast("double") / F.col("cn"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qscored.withColumn("_rk", F.row_number().over(wq))
        .where(F.col("_rk") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )

    sim = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col(vec_col))
                / (_norm(F.col("qvec")) * _norm(F.col(vec_col))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        # a vector can sit in only ONE inverted list, so no dedup needed
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def int_dot_sql(a: str, b: str) -> str:
    """SQL rendering of ``_int_dot`` over two quantized list columns."""
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
