"""Similarity search: exact cosine top-k vs numpy oracle; LSH bucketing."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.operators import ann as ANN

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_cosine_topk_vs_numpy(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    got = ANN.cosine_topk(emb, queries, k=5).collect()

    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = mat @ mat[qi] / (norms * norms[qi])
        order = sorted(
            [(s, int(i)) for s, i in zip(sims, ids) if i != qid],
            key=lambda t: (-round(t[0], 6), t[1]),
        )[:5]
        expect = [i for _, i in order]
        got_q = sorted(
            [r for r in got if r["query_id"] == qid], key=lambda r: r["rank"]
        )
        assert [r["vec_id"] for r in got_q] == expect
        for r, (s, _) in zip(got_q, order):
            assert abs(r["cos_sim"] - s) < 1e-5


def test_lsh_reduces_comparisons(spark, emb):
    n = emb.count()
    buckets = (
        emb.select(ANN.srp_bucket(F.col("embedding"), n_planes=6).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    pairs_in_buckets = sum(r["count"] ** 2 for r in buckets)
    assert pairs_in_buckets < n * n / 4  # at least 4x fewer comparisons


def test_cosine_neardup_exact_vs_numpy(spark, emb):
    """Exact near-dup pairs match a numpy brute-force oracle."""
    thr = 0.3
    got = {
        (r["a"], r["b"]): r["cos_sim"]
        for r in ANN.cosine_neardup_pairs(emb, threshold=thr).collect()
    }
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    expect = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = ids[i], ids[j]
            if a < b and round(sims[i, j], 6) >= thr:
                expect[(a, b)] = round(sims[i, j], 6)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-5


def test_cosine_neardup_bucketed_subset(spark, emb):
    """SRP-bucketed mode returns a subset of the exact pairs (same
    scores) with non-trivial recall — the 100 TB path's contract."""
    thr = 0.3
    exact = {
        (r["a"], r["b"]): r["cos_sim"]
        for r in ANN.cosine_neardup_pairs(emb, threshold=thr).collect()
    }
    approx = {
        (r["a"], r["b"]): r["cos_sim"]
        for r in ANN.cosine_neardup_pairs(emb, threshold=thr, n_planes=3).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert abs(v - exact[k]) < 1e-9
    assert exact, "fixture produced no near-dup pairs; threshold too high"
    assert len(approx) / len(exact) >= 0.1, (len(approx), len(exact))


def test_ivf_recall_and_structure(spark, emb):
    """IVF top-k: every vector lands in exactly one inverted list, the
    probe path beats a random-subset recall floor, and in-list ranking
    agrees with the exact scores."""
    queries = emb.where(F.col("vec_id") < 10)
    exact = ANN.cosine_topk(emb, queries, k=5).collect()
    approx = ANN.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).collect()

    # single-assignment invariant
    cents = ANN.ivf_centroids(emb, 16)
    assigned = ANN.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()

    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing 4/16 lists must beat the 25% random-subset floor on average
    assert sum(recalls) / len(recalls) >= 0.3, recalls

    # approx cos_sims are true cosines (subset-of-exact scores where ids
    # overlap)
    exact_scores = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["cos_sim"] - exact_scores[key]) < 1e-9
