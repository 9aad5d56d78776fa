"""Candidate generation + Levi hypernym filter semantics (J1/J2/J3).

The Levi oracle below is an independent plain-Python rendering of the
documented reference decision rule (cdr_dataset.py:227-242, substring
containment) — the Spark anti-join must agree on every fixture doc.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from relation_extraction_cdr_spark.operators.candidates import (
    candidate_pairs,
    label_pairs,
    levi_filter,
    levi_reject,
)
from relation_extraction_cdr_spark.operators.mentions import (
    detect_mentions,
    entity_inventory,
)
from relation_extraction_cdr_spark.plans.pipeline import extracted_docs
from relation_extraction_cdr_spark.sources.mesh import gazetteer, tree_multimap
from relation_extraction_cdr_spark import datagen


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


def test_candidate_pairs_shape(spark, fixtures, mesh):
    pages, _, _ = fixtures
    inv = entity_inventory(
        detect_mentions(extracted_docs(pages), gazetteer(mesh, type_col="type"))
    )
    pairs = candidate_pairs(inv)
    # per-doc cross product: n_chem * n_dis for every doc
    counts = (
        inv.groupBy("url")
        .agg(
            F.sum(F.when(F.col("type") == "Chemical", 1).otherwise(0)).alias("nc"),
            F.sum(F.when(F.col("type") == "Disease", 1).otherwise(0)).alias("nd"),
        )
        .collect()
    )
    expect = sum(r["nc"] * r["nd"] for r in counts)
    assert pairs.count() == expect


def test_labeling(spark, fixtures, mesh):
    pages, _, gold = fixtures
    inv = entity_inventory(
        detect_mentions(extracted_docs(pages), gazetteer(mesh, type_col="type"))
    )
    labeled = label_pairs(candidate_pairs(inv), gold)
    pos = {
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in labeled.where("label=1").collect()
    }
    gold_set = {(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()}
    assert pos == gold_set


def test_levi_filter_matches_oracle(spark):
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

    pairs_df = spark.createDataFrame(
        all_pairs, "url string, chem_mesh string, dis_mesh string, label int"
    )
    gold_df = spark.createDataFrame(gold, "url string, chem_mesh string, dis_mesh string")
    tree_df = spark.createDataFrame(
        [(k, v) for k, v in tree_map.items()], "mesh_id string, tree_numbers array<string>"
    )
    got_rej = {
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in levi_reject(pairs_df, gold_df, tree_df).collect()
    }
    assert got_rej == expect_rej
    kept = levi_filter(pairs_df, gold_df, tree_df)
    assert kept.count() == len(all_pairs) - len(expect_rej)


def test_levi_on_fixture_corpus(spark, fixtures, mesh):
    pages, _, gold = fixtures
    inv = entity_inventory(
        detect_mentions(extracted_docs(pages), gazetteer(mesh, type_col="type"))
    )
    labeled = label_pairs(candidate_pairs(inv), gold)
    tree_df = tree_multimap(mesh)
    tree_map = {r["mesh_id"]: r["tree_numbers"] for r in tree_df.collect()}
    neg = [
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in labeled.where("label=0").collect()
    ]
    gold_rows = [(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()]
    expect = _levi_rejected_oracle(neg, gold_rows, tree_map)
    got = {
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in levi_reject(labeled, gold, tree_df).collect()
    }
    assert got == expect


def test_levi_property_random(spark):
    """Property test: on a randomized corpus engineered for substring
    collisions (short dotted tree numbers drawn from a tiny alphabet,
    including exact-equal and non-boundary substrings), the Spark
    anti-join agrees with the independent Python oracle on every doc."""
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

    pairs_df = spark.createDataFrame(
        all_pairs, "url string, chem_mesh string, dis_mesh string, label int"
    )
    gold_df = spark.createDataFrame(gold, "url string, chem_mesh string, dis_mesh string")
    tree_df = spark.createDataFrame(
        [(k, v) for k, v in tree_map.items()],
        "mesh_id string, tree_numbers array<string>",
    )
    got_rej = {
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in levi_reject(pairs_df, gold_df, tree_df).collect()
    }
    assert got_rej == expect_rej
