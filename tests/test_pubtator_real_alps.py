"""Golden-input parity: parse the REAL PubTator files the reference
ships (`/root/reference/data/alps/alps_{train,test}.txt` — the only data
present in the repo) with our distributed reader and cross-check every
table against an independent plain-Python parse implementing the
documented reference semantics (cdr_dataset.py:37-83: block split on
blank lines, abstract = last `|`-field of the `|a|` line lowercased,
mention rows tab-split with the `-1`/composite-id filters, relation rows
endpoint-validated against the surviving mention set).

Real data exercises what synthetic fixtures can't: Japanese text,
mention surfaces containing spaces and trailing blanks, `Other`-typed
entities, multi-relation documents.
"""

from __future__ import annotations

import os

import pytest

from relation_extraction_cdr_spark.sources import pubtator as PT

ALPS_DIR = "/root/reference/data/alps"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(ALPS_DIR), reason="reference data not present"
)


def _py_parse(path: str):
    """Independent oracle: the documented reference parse rules."""
    with open(path, encoding="utf-8") as f:
        content = f.read()
    blocks, cur = [], []
    for line in content.split("\n"):
        if line.strip() == "":
            if cur:
                blocks.append(cur)
            cur = []
        else:
            cur.append(line)
    if cur:
        blocks.append(cur)

    docs, mentions, relations = {}, [], []
    for block in blocks:
        doc_id = None
        ments, rels = [], []
        for line in block:
            if "|a|" in line:
                parts = line.split("|")
                doc_id = parts[0]
                docs[doc_id] = parts[-1].lower()
                continue
            if "|t|" in line:
                continue
            toks = line.strip().split()
            if len(toks) >= 2 and toks[1].lower() == "cid":
                f = line.replace("\n", "").split("\t")
                rels.append((f[0], f[2], f[3]))
                continue
            f = line.replace("\n", "").split("\t")
            if len(f) >= 6:
                mesh = f[5]
                if mesh == "-1" or "|" in mesh:
                    continue
                ments.append((f[0], int(f[1]), int(f[2]), f[3].lower(), f[4], mesh))
        valid = {m[5] for m in ments}
        mentions.extend(ments)
        relations.extend(r for r in rels if r[1] in valid and r[2] in valid)
    return docs, mentions, relations


@pytest.mark.parametrize("fname", ["alps_test.txt", "alps_train.txt"])
def test_real_alps_parity(spark, fname):
    path = f"{ALPS_DIR}/{fname}"
    exp_docs, exp_ments, exp_rels = _py_parse(path)

    blocks = PT.read_pubtator(spark, path)
    docs = {r["doc_id"]: r["text"] for r in PT.parse_documents(blocks).collect()}
    assert docs == exp_docs

    got_ments = {
        (r["doc_id"], r["start"], r["end"], r["mention_text"], r["type"], r["mesh_id"])
        for r in PT.parse_mentions(blocks).collect()
    }
    assert got_ments == set(exp_ments)
    # cardinality too: a reader that drops or double-emits a repeated
    # annotation row would still pass the set comparison
    assert PT.parse_mentions(blocks).count() == len(set(exp_ments))

    got_rels = {
        (r["doc_id"], r["chem_mesh"], r["dis_mesh"])
        for r in PT.parse_relations(blocks, PT.parse_mentions(blocks)).collect()
    }
    assert got_rels == set(exp_rels)
    assert PT.parse_relations(blocks, PT.parse_mentions(blocks)).count() == len(set(exp_rels))
    # sanity: the real corpus is non-trivial (55 docs in the test split,
    # ~170 in train)
    assert len(exp_docs) >= 50 and len(exp_ments) >= 150 and len(exp_rels) >= 50


def test_real_alps_candidates_and_labels(spark):
    """J1/J2 on real data: per-doc chemical x disease candidate pairs
    with gold-pair labels over alps_test.txt, vs an independent
    double-loop oracle. Exercises Other-typed entities (excluded from
    pair gen) and multi-mention entities on non-synthetic text."""
    from relation_extraction_cdr_spark.operators.candidates import candidate_pairs_py
    from relation_extraction_cdr_spark.operators.mentions import entity_inventory_py

    path = f"{ALPS_DIR}/alps_test.txt"
    _, exp_ments, exp_rels = _py_parse(path)

    # oracle: distinct (doc, chem) x (doc, dis); label 1 iff gold
    chems, diss = {}, {}
    for d, _s, _e, _t, typ, mesh in exp_ments:
        if typ == "Chemical":
            chems.setdefault(d, set()).add(mesh)
        elif typ == "Disease":
            diss.setdefault(d, set()).add(mesh)
    gold = set(exp_rels)
    expect = {
        (d, c, m, 1 if (d, c, m) in gold else 0)
        for d in chems
        if d in diss
        for c in chems[d]
        for m in diss[d]
    }

    # each document's parsed mentions in (start, end, surface, type)
    # order, the last-mention tiebreak, through the per-document
    # inventory and pair steps
    blocks = PT.read_pubtator(spark, path)
    mentions: dict[str, list[dict]] = {}
    for r in sorted(
        PT.parse_mentions(blocks).collect(),
        key=lambda r: (r["start"], r["end"], r["mention_text"], r["type"]),
    ):
        mentions.setdefault(r["doc_id"], []).append(r.asDict())
    gold_pairs: dict[str, list[tuple[str, str]]] = {}
    for r in PT.parse_relations(blocks, PT.parse_mentions(blocks)).collect():
        gold_pairs.setdefault(r["doc_id"], []).append((r["chem_mesh"], r["dis_mesh"]))
    got = {
        (doc, c["mesh_id"], d["mesh_id"], label)
        for doc, ms in mentions.items()
        for c, d, label in candidate_pairs_py(
            entity_inventory_py(ms), gold_pairs.get(doc, []), {}
        )
    }
    assert got == expect
    assert sum(1 for *_x, l in expect if l == 1) > 30  # real positives present
