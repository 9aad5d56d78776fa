"""Candidate-pair generation, gold labeling, Levi hypernym filter
(SURVEY §2.3 J1/J2/J3, §2.7 U2).

Reference semantics, per document:
- J1 chemical x disease cartesian product of the entity inventory
  (cdr_dataset.py:156-173, 248-263), chem-major.
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

All three run in plain Python inside the per-document stage
(``candidate_pairs_py``): the gold pairs and the inventory of one
document are tiny, and the MeSH tree multimap rides in the UDF closure
as a dict, so no join, theta-join or shuffle is needed.
"""

from __future__ import annotations


def candidate_pairs_py(
    entities: list[dict],
    gold_pairs: list[tuple[str, str]],
    tree_map: dict[str, list[str]],
) -> list[tuple[dict, dict, int]]:
    """The pair step: one document's inventory (``entity_inventory_py``)
    -> its kept (chemical entity, disease entity, label) candidates,
    chem-major in inventory order, label 1 iff the pair is in
    ``gold_pairs``, and the negatives ``levi_rejected_py`` rejects under
    ``tree_map`` dropped."""
    chems = [e for e in entities if e["type"] == "Chemical"]
    diss = [e for e in entities if e["type"] == "Disease"]
    pairs = [(c, d) for c in chems for d in diss]
    keys = [(c["mesh_id"], d["mesh_id"]) for c, d in pairs]
    rejected = levi_rejected_py(keys, gold_pairs, tree_map) if gold_pairs else set()
    gold_set = set(gold_pairs)
    return [
        (c, d, 1 if key in gold_set else 0)
        for (c, d), key in zip(pairs, keys)
        if key not in rejected
    ]


def levi_rejected_py(
    pairs: list[tuple[str, str]],
    gold: list[tuple[str, str]],
    tree_map: dict[str, list[str]],
) -> set[tuple[str, str]]:
    """The (chem, dis) ``pairs`` of one document the Levi rule
    (cdr_dataset.py:227-242, substring containment) rejects against its
    ``gold`` pairs; tests/test_candidates.py checks it against an
    independent restatement of the rule."""
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
