"""Dedup family: exact, shingles, MinHash+LSH, Jaccard, SimHash."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (3, "completely different text about spark shuffle partitions"),
        (4, "another unrelated document mentioning window functions"),
        (5, "The  quick brown fox jumps over the lazy dog today"),  # ws/case dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    kept = DD.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in kept}
    assert by_id[0] == 3  # 0, 1 and the whitespace/case variant 5
    assert len(kept) == 4


def test_shingles_counts(docs):
    sh = DD.word_shingles(docs, n=3)
    n0 = sh.where("doc_id = 0").count()
    assert n0 == 8  # 10 tokens -> 8 trigrams
    # shingles are distinct per doc
    assert sh.groupBy("doc_id", "shingle").count().where("count > 1").count() == 0


def test_jaccard_near_dup(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in DD.jaccard_pairs(
        DD.word_shingles(docs), threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_candidates(docs):
    sigs = DD.minhash_signatures(DD.word_shingles(docs), k=8)
    # identical docs -> identical signatures
    s = {r["doc_id"]: tuple(r["sig"]) for r in sigs.collect()}
    assert s[0] == s[1]
    cands = {
        (r["a"], r["b"]) for r in DD.lsh_candidate_pairs(sigs, bands=4).collect()
    }
    assert (0, 1) in cands  # exact dups always collide
    assert (0, 2) in cands  # near dup shares most minhashes
    # unrelated docs should not collide on any band
    assert (3, 4) not in cands


def test_lsh_sig_len_guard(docs):
    """A sig_len that disagrees with the actual signature arrays must
    raise — out-of-range band slices would hash md5('') identically for
    every doc, silently degenerating the prefilter to all-pairs."""
    sigs = DD.minhash_signatures(DD.word_shingles(docs), k=4)
    # the guard fires at EXECUTION time (codegen raise_error, no eager
    # driver action on the build path)
    with pytest.raises(Exception, match="does not match"):
        DD.lsh_candidate_pairs(sigs, bands=4, sig_len=8).collect()
    # derived sig_len (k=4, bands=4 -> 1 lane per band) just works
    derived = {(r["a"], r["b"]) for r in DD.lsh_candidate_pairs(sigs, bands=4).collect()}
    assert (0, 1) in derived
    # empty signatures with derived sig_len: zero pairs, not an error
    assert DD.lsh_candidate_pairs(sigs.limit(0), bands=4).count() == 0


def test_simhash(docs):
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert sh[0] == sh[1]
    assert 0 <= sh[0] < 2**16
    # near dup within small hamming distance
    ham = bin(sh[0] ^ sh[2]).count("1")
    assert ham <= 6


def test_connected_components_matches_union_find(spark):
    """CC min-label propagation vs a plain union-find oracle on a graph
    with a chain (forces multi-round propagation), a clique, an isolated
    edge, and disjoint singleton-free structure."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),           # chain -> component {1..5}
        (10, 11), (10, 12), (11, 12),             # triangle
        (20, 21),                                 # isolated pair
        (30, 5),                                  # joins the chain late
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b in edges:
        union(a, b)
    expect = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["v"]: r["cluster_id"]
        for r in DD.connected_components(df).collect()
    }
    assert got == expect


def test_simhash_hamming_band_equals_bruteforce(spark, docs):
    """Pigeonhole exactness: with max_hamming < bands, the banded join
    finds EVERY pair within the Hamming radius (same result as the
    O(n^2) brute force over collected signatures)."""
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    ids = sorted(sigs)
    expect = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in DD.simhash_neardup_pairs(docs, max_hamming=3, bands=4).collect()
    }
    assert got == expect


def test_connected_components_raises_on_nonconvergence(spark):
    """A diameter above the doubling reach must raise, never return
    partial labels (silent splits would diverge from the exact
    recursive-CTE oracle)."""
    import pytest

    chain = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(chain, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(df, max_iter=2)
    # and with enough rounds the same chain converges to one component
    labels = {r["cluster_id"] for r in DD.connected_components(df, max_iter=10).collect()}
    assert labels == {0}


def test_connected_components_long_path_doubles(spark):
    """Pointer jumping: a 120-edge path (diameter 120) converges within
    the default max_iter=25 — pure min-label propagation would need 120
    rounds and previously raised on exactly this shape."""
    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, "a long, b long")
    rows = DD.connected_components(df).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == 121


def test_strip_boilerplate_semantics(spark):
    """The repeated disclaimer is stripped from every doc, unique content
    survives order-preserving, and an all-boilerplate doc is kept with
    empty text (doc_ids are never silently lost)."""
    disclaimer = "All Rights Reserved"
    rows = [(i, f"Unique Fact {i}. {disclaimer}. More Text {i}") for i in range(20)]
    rows.append((99, disclaimer.lower()))  # fully-boilerplate doc (case-insensitive match)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.strip_boilerplate(docs, max_doc_frac=0.5).collect()}
    r99 = out[99]  # fully stripped, but present with a removal signal
    assert r99["text"] == "" and r99["n_kept"] == 0 and r99["n_dropped"] == 1
    for i in range(20):
        r = out[i]
        # ORIGINAL casing preserved — only the comparison key lowercases
        assert r["text"] == f"Unique Fact {i}. More Text {i}"
        assert r["n_kept"] == 2 and r["n_dropped"] == 1


def test_contaminated_docs_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "completely unrelated text about spark plans and shuffles here"),
            (2, "he saw the quick brown fox jumps over a fence yesterday"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["bench_id"]) for r in DD.contaminated_docs(docs, bench, n=5).collect()}
    assert got == {(2, 0)}


def test_hot_shingle_cap_bounds_the_self_join(spark):
    """1,000 docs all sharing one boilerplate shingle: uncapped, the
    self-join on that shingle alone would produce C(1000,2) = 499,500
    intersection rows; with max_df the hot shingle is dropped from the
    universe and only genuine near-dup pairs remain.  Row-count evidence
    is asserted on both sides."""
    rows = [(i, f"unique{i} token{i} word{i} all rights reserved") for i in range(998)]
    # two genuine near-dups sharing their full shingle set
    rows.append((998, "same text here all rights reserved"))
    rows.append((999, "same text here all rights reserved"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = DD.word_shingles(docs, n=3)

    capped = DD.jaccard_pairs(sh, threshold=0.2, max_df=50).collect()
    # the only surviving pair is the genuine near-dup one
    assert {(r["a"], r["b"]) for r in capped} == {(998, 999)}
    assert capped[0]["jaccard"] == 1.0

    # row-count evidence of the blowup the cap prevents: every doc shares
    # the 'all rights reserved' shingle, so the uncapped equi-join emits
    # >= C(1000,2) candidate intersections
    uncapped_inter = (
        sh.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .where(F.col("a") < F.col("b"))
        .count()
    )
    assert uncapped_inter >= 499_500


def test_neardup_clusters_cap_default_is_inert_at_fixture_scale(spark):
    """The production default (max_df=10,000) never triggers on corpora
    smaller than the cap, so q42's oracle parity is unchanged."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)]
    rows.append((9, "an entirely different sentence about query planners here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {tuple(r["members"]) for r in DD.neardup_clusters(docs, threshold=0.5).collect()}
    assert (0, 1, 2, 3) in out
