"""Candidate generation + Levi hypernym filter semantics (J1/J2/J3).

The Levi oracle below is an independent plain-Python rendering of the
documented reference decision rule (cdr_dataset.py:227-242, substring
containment) — the per-document pair step must agree on every fixture
doc.
"""

from __future__ import annotations

from relation_extraction_cdr_spark.operators.candidates import (
    candidate_pairs_py,
    levi_rejected_py,
)
from relation_extraction_cdr_spark.operators.mentions import document_inventory
from relation_extraction_cdr_spark.plans.pipeline import (
    _mesh_artifacts,
    _tree_map,
    extracted_docs,
    with_gold_pairs,
)
from relation_extraction_cdr_spark.scoring.scorer import _gold_pairs


def _levi_rejected_oracle(neg_pairs, gold_pairs, tree_map):
    """Reference rule, independently restated: neg (c,d) is rejected iff
    any tree number of d is a substring of (a) a tree number of d' for a
    gold (c,d'), or (b) a tree number of c' for a gold (c',d)."""
    rejected = set()
    for url, c, d in neg_pairs:
        gold_here = [(gc, gd) for (gu, gc, gd) in gold_pairs if gu == url]
        for neg_node in tree_map.get(d, []):
            hits = [
                pn
                for (gc, gd) in gold_here
                if gc == c
                for pn in tree_map.get(gd, [])
                if neg_node in pn
            ] + [
                pn
                for (gc, gd) in gold_here
                if gd == d
                for pn in tree_map.get(gc, [])
                if neg_node in pn
            ]
            if hits:
                rejected.add((url, c, d))
                break
    return rejected


def _fixture_documents(fixtures, mesh):
    """Per fixture document (url, inventory, gold pairs)."""
    pages, _, gold = fixtures
    gd, max_words = _mesh_artifacts(mesh, "type")
    return [
        (r["url"], document_inventory(r["text"], gd, max_words), _gold_pairs(r["gold_pairs"]))
        for r in with_gold_pairs(extracted_docs(pages), gold).collect()
    ]


def _rejected(url_pairs, gold, tree_map):
    """levi_rejected_py per url over (url, c, d) rows."""
    got = set()
    for url in {u for u, _, _ in url_pairs}:
        got |= {
            (url, c, d)
            for c, d in levi_rejected_py(
                [(c, d) for u, c, d in url_pairs if u == url],
                [(c, d) for u, c, d in gold if u == url],
                tree_map,
            )
        }
    return got


def test_candidate_pairs_shape(spark, fixtures, mesh):
    n_pairs = 0
    for _url, inv, _gold in _fixture_documents(fixtures, mesh):
        pairs = candidate_pairs_py(inv, [], {})
        chems = [e["mesh_id"] for e in inv if e["type"] == "Chemical"]
        diss = [e["mesh_id"] for e in inv if e["type"] == "Disease"]
        # per-doc cross product, chem-major in inventory order
        assert [(c["mesh_id"], d["mesh_id"]) for c, d, _ in pairs] == [
            (c, d) for c in chems for d in diss
        ]
        assert all(label == 0 for _, _, label in pairs)
        n_pairs += len(pairs)
    assert n_pairs > 100


def test_labeling(spark, fixtures, mesh):
    _, _, gold = fixtures
    pos = {
        (url, c["mesh_id"], d["mesh_id"])
        for url, inv, gp in _fixture_documents(fixtures, mesh)
        for c, d, label in candidate_pairs_py(inv, gp, {})
        if label == 1
    }
    gold_set = {(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()}
    assert pos == gold_set


def test_levi_filter_matches_oracle():
    """Hand-built doc exercising both rejection branches + survivors."""
    tree_map = {
        "C1": ["T01.100"],
        "C2": ["X01.300.500"],  # chemical whose tree CONTAINS D2's tree
        "D1": ["X01.300"],
        "D2": ["X01.300.500.250"],
        "D3": ["Z09.900"],
    }
    # gold: (C1, D2) — so neg (C1, D1): D1 tree 'X01.300' substring of
    # D2 tree 'X01.300.500.250' → rejected via branch (a).
    # gold: (C2, D1)?? no — branch (b): neg (c', D1) rejected if gold
    # (C?, D1) has chem tree containing D1's tree.
    gold = [("u1", "C1", "D2"), ("u1", "C2", "D1")]
    all_pairs = [
        ("u1", c, d, 1 if ("u1", c, d) in gold else 0)
        for c in ("C1", "C2")
        for d in ("D1", "D2", "D3")
    ]
    neg = [(u, c, d) for (u, c, d, l) in all_pairs if l == 0]
    expect_rej = _levi_rejected_oracle(neg, gold, tree_map)
    # branch (a): (u1, C1, D1) rejected
    assert ("u1", "C1", "D1") in expect_rej
    # branch (b): neg (C1, D1) also matches via gold (C2, D1) whose chem
    # tree X01.300.500 contains X01.300; D3 pairs survive
    assert ("u1", "C1", "D3") not in expect_rej

    assert _rejected([p[:3] for p in all_pairs], gold, tree_map) == expect_rej
    # the pair step drops exactly those negatives from the inventory's
    # cross product and keeps the gold pairs' labels
    inv = [{"mesh_id": e, "type": "Chemical" if e[0] == "C" else "Disease"}
           for e in ("C1", "C2", "D1", "D2", "D3")]
    kept = candidate_pairs_py(inv, [(c, d) for _, c, d in gold], tree_map)
    assert {("u1", c["mesh_id"], d["mesh_id"], label) for c, d, label in kept} == {
        p for p in all_pairs if p[:3] not in expect_rej
    }


def test_levi_on_fixture_corpus(spark, fixtures, mesh):
    _, _, gold = fixtures
    tree_map = _tree_map(mesh)
    neg, got = [], set()
    for url, inv, gp in _fixture_documents(fixtures, mesh):
        labelled = {
            (url, c["mesh_id"], d["mesh_id"]): label
            for c, d, label in candidate_pairs_py(inv, gp, {})
        }
        kept = {
            (url, c["mesh_id"], d["mesh_id"])
            for c, d, _ in candidate_pairs_py(inv, gp, tree_map)
        }
        neg += [k for k, label in labelled.items() if label == 0]
        got |= labelled.keys() - kept
    gold_rows = [(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()]
    expect = _levi_rejected_oracle(neg, gold_rows, tree_map)
    assert expect  # the fixture corpus exercises the filter
    assert got == expect


def test_levi_property_random():
    """Property test: on a randomized corpus engineered for substring
    collisions (short dotted tree numbers drawn from a tiny alphabet,
    including exact-equal and non-boundary substrings), levi_rejected_py
    agrees with the independent Python oracle on every doc."""
    import random

    rng = random.Random(1234)
    seg = lambda: rng.choice(["A01", "B2", "B20", "X01.3", "X01.30"])
    def tree_number():
        return ".".join(seg() for _ in range(rng.randint(1, 3)))

    chems = [f"C{i}" for i in range(8)]
    diss = [f"D{i}" for i in range(8)]
    tree_map = {e: sorted({tree_number() for _ in range(rng.randint(1, 3))})
                for e in chems + diss}

    all_pairs, gold = [], []
    for u in range(200):
        url = f"u{u}"
        cs = rng.sample(chems, rng.randint(1, 4))
        ds = rng.sample(diss, rng.randint(1, 4))
        gold_here = {
            (rng.choice(cs), rng.choice(ds)) for _ in range(rng.randint(0, 3))
        }
        gold += [(url, c, d) for c, d in gold_here]
        all_pairs += [
            (url, c, d, 1 if (c, d) in gold_here else 0) for c in cs for d in ds
        ]

    neg = [(u, c, d) for (u, c, d, l) in all_pairs if l == 0]
    expect_rej = _levi_rejected_oracle(neg, gold, tree_map)
    assert expect_rej, "random corpus produced no rejections; regen seeds"
    assert len(expect_rej) < len(neg), "all negatives rejected; degenerate"

    assert _rejected([p[:3] for p in all_pairs], gold, tree_map) == expect_rej
