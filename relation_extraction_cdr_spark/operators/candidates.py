"""Candidate-pair generation, gold labeling, Levi hypernym filter
(SURVEY §2.3 J1/J2/J3, §2.7 U2).

Reference semantics:
- J1 per-document chemical x disease cartesian product
  (cdr_dataset.py:156-173, 248-263) — in Spark an equi-join on the doc
  key whose output is the within-doc cross product; NEVER a global
  cross join.
- J2 gold-pair membership labeling (cdr_dataset.py:158).
- J3 Levi negative filtering (cdr_dataset.py:227-242): a negative pair
  (c, d) is REJECTED iff, looping over d's MeSH tree numbers ``neg_node``:
    (a) some gold pair (c, d') with the SAME chemical has a tree number
        of d' that CONTAINS ``neg_node`` as a substring
        (`neg_node in pos_node`, cdr_dataset.py:238), OR
    (b) some gold pair (c', d) with the SAME disease has a tree number
        of c' containing ``neg_node`` (cdr_dataset.py:239).
  Substring — not prefix-at-dot-boundary — containment is reproduced
  verbatim (SURVEY §7 hard part #1).

Scale notes: the containment predicate is a theta-join, but it only runs
AFTER an equi-join on (doc, shared endpoint) against the per-doc gold
set, so each side is tiny per document; Catalyst evaluates the contains()
as a post-join filter on the equi-join output.  The MeSH tree multimap is
broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def candidate_pairs(inventory: DataFrame) -> DataFrame:
    """Per-doc chemical x disease pairs from the entity inventory.

    inventory: (url, mesh_id, positions, rep_text, type).
    Returns (url, chem_mesh, dis_mesh, chem_positions, dis_positions,
    chem_text, dis_text).
    """
    chems = inventory.where(F.col("type") == "Chemical").select(
        "url",
        F.col("mesh_id").alias("chem_mesh"),
        F.col("positions").alias("chem_positions"),
        F.col("rep_text").alias("chem_text"),
    )
    dis = inventory.where(F.col("type") == "Disease").select(
        "url",
        F.col("mesh_id").alias("dis_mesh"),
        F.col("positions").alias("dis_positions"),
        F.col("rep_text").alias("dis_text"),
    )
    # equi-join on url == per-doc cartesian product (J1)
    return chems.join(dis, "url")


def label_pairs(pairs: DataFrame, gold: DataFrame) -> DataFrame:
    """label=1 iff (url, chem, dis) is a gold CID pair (J2).

    gold: (url, chem_mesh, dis_mesh).  Left join + when — broadcast when
    the gold side is small (test/eval mode only; production has no gold).
    """
    g = gold.select("url", "chem_mesh", "dis_mesh", F.lit(1).alias("label"))
    return pairs.join(g, ["url", "chem_mesh", "dis_mesh"], "left").fillna(
        {"label": 0}
    )


def levi_reject(pairs_labeled: DataFrame, gold: DataFrame, tree_map: DataFrame) -> DataFrame:
    """Rows of ``pairs_labeled`` rejected by the hypernym rule (for tests);
    use ``levi_filter`` to drop them from the pipeline.

    tree_map: (mesh_id, tree_numbers array<string>) — broadcast dimension.

    Precondition: ``pairs_labeled`` is unique per (url, chem_mesh,
    dis_mesh) — candidate_pairs guarantees this (the inventory is unique
    per (url, mesh)); given that, the output has at most one row per
    rejected pair and needs no dedup.

    Array-aggregated formulation: gold tree numbers are collected into ONE
    array per (url, shared endpoint) and the substring containment runs as
    a nested ``exists`` predicate on the equi-join output.  Compared to the
    explode → theta-semi-join → distinct shape this keeps every join an
    equi-join, emits at most one row per negative pair (no dedup needed),
    and costs two small aggregations instead of two semi-joins over the
    exploded tree fan-out — the per-doc gold set is tiny, so the collected
    arrays stay bounded.
    """
    neg = pairs_labeled.where(F.col("label") == 0).select(
        "url", "chem_mesh", "dis_mesh"
    )
    # the negative DISEASE's tree numbers (reference loops over
    # ent_tree_map[neg_e2] only, cdr_dataset.py:237)
    neg_t = neg.join(
        F.broadcast(tree_map).withColumnRenamed("mesh_id", "dis_mesh"), "dis_mesh"
    ).select("url", "chem_mesh", "dis_mesh", F.col("tree_numbers").alias("neg_nodes"))

    # all gold-disease tree numbers per (url, chemical): candidates sharing
    # the chemical test containment against ANY of these (cdr_dataset.py:238)
    gold_dis = (
        gold.join(
            F.broadcast(tree_map).withColumnRenamed("mesh_id", "dis_mesh"), "dis_mesh"
        )
        .groupBy("url", "chem_mesh")
        .agg(F.flatten(F.collect_list("tree_numbers")).alias("pos_dis_nodes"))
    )
    # all gold-chemical tree numbers per (url, disease) (cdr_dataset.py:239)
    gold_chem = (
        gold.join(
            F.broadcast(tree_map).withColumnRenamed("mesh_id", "chem_mesh"), "chem_mesh"
        )
        .groupBy("url", "dis_mesh")
        .agg(F.flatten(F.collect_list("tree_numbers")).alias("pos_chem_nodes"))
    )

    def _contained(negs, poss):
        # null pos array (no gold pair with that endpoint) -> not rejected
        return F.coalesce(
            F.exists(negs, lambda n: F.exists(poss, lambda p: p.contains(n))),
            F.lit(False),
        )

    return (
        neg_t.join(gold_dis, ["url", "chem_mesh"], "left")
        .join(gold_chem, ["url", "dis_mesh"], "left")
        .where(
            _contained(F.col("neg_nodes"), F.col("pos_dis_nodes"))
            | _contained(F.col("neg_nodes"), F.col("pos_chem_nodes"))
        )
        .select("url", "chem_mesh", "dis_mesh")
    )


def levi_filter(pairs_labeled: DataFrame, gold: DataFrame, tree_map: DataFrame) -> DataFrame:
    """Drop hypernym-rejected negatives (anti-join, cdr_dataset.py:250-252)."""
    rejected = levi_reject(pairs_labeled, gold, tree_map)
    return pairs_labeled.join(
        rejected, ["url", "chem_mesh", "dis_mesh"], "left_anti"
    )


def levi_rejected_py(
    pairs: list[tuple[str, str]],
    gold: list[tuple[str, str]],
    tree_map: dict[str, list[str]],
) -> set[tuple[str, str]]:
    """Per-document plain-Python Levi rule (cdr_dataset.py:227-242
    semantics, substring containment) — used inside the doc-level fused
    UDF where the whole per-doc decision runs in one pass; agrees with
    the relational levi_reject anti-join (pytest-verified)."""
    gold_set = set(gold)
    rejected: set[tuple[str, str]] = set()
    for c, d in pairs:
        if (c, d) in gold_set:
            continue
        hit = False
        for neg_node in tree_map.get(d, []):
            for gc, gd in gold:
                if gc == c and any(neg_node in pn for pn in tree_map.get(gd, [])):
                    hit = True
                    break
                if gd == d and any(neg_node in pn for pn in tree_map.get(gc, [])):
                    hit = True
                    break
            if hit:
                break
        if hit:
            rejected.add((c, d))
    return rejected
