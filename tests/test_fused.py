"""The fused per-document stage must equal the relational operator chain
(tests/relational_oracle.py, with the independent Levi rule of
tests/test_candidates.py) exactly."""

from __future__ import annotations

import hashlib
from datetime import datetime

import pandas as pd
import pytest

from relation_extraction_cdr_spark import datagen
from relation_extraction_cdr_spark.operators.evidence import select_evidence_py
from relation_extraction_cdr_spark.operators.features import (
    FEATURES_SCHEMA,
    featurize_py,
)
from relation_extraction_cdr_spark.operators.mentions import (
    gazetteer_dict,
    longest_term_words,
)
from relation_extraction_cdr_spark.plans.pipeline import (
    _mesh_artifacts,
    extracted_docs,
    score_candidates,
    training_features,
    with_gold_pairs,
)
from relation_extraction_cdr_spark.scoring.scorer import (
    _gold_pairs,
    _score_rows,
    document_fulltext,
    score_document,
)
from relation_extraction_cdr_spark.sources.mesh import gazetteer, tree_multimap
from tests.relational_oracle import (
    candidate_pairs,
    detect_mentions,
    entity_inventory,
    label_pairs,
)
from tests.test_blas import worker_corename
from tests.test_candidates import _levi_rejected_oracle

FEATURE_COLS = [c.split(" ")[0] for c in FEATURES_SCHEMA.split(", ")]

# DX is a Chemical through "alphazine" and a Disease through "betaosis"
# (the real MeSH tree types a descriptor by tree number, so one with
# both D* and C* numbers is both).  The LAST mention types the entity,
# so the page's only candidates are (DD, DG) and the gold (DD, DX).
DUAL_MESH = [  # (tree_number, mesh_id, term, type)
    ("D40.100", "DX", "alphazine", "Chemical"),
    ("C40.100", "DX", "betaosis", "Disease"),
    ("C20.100", "DG", "gammitis", "Disease"),
    ("D30.100", "DD", "deltamide", "Chemical"),
]
DUAL_URL = "https://dual.example/1"
DUAL_TEXT = "alphazine induced gammitis in rats. deltamide induced betaosis in rats."


def _rows(scored):
    """Sorted scored rows of a Spark frame or of an oracle pandas frame."""
    records = scored.to_dict("records") if isinstance(scored, pd.DataFrame) else scored.collect()
    return sorted(
        (r["url"], r["chem_mesh"], r["dis_mesh"], r["label"], r["evidence_type"],
         r["pred"], round(r["prob"], 9))
        for r in records
    )


def _feature_rows(rows):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
    )


def _relational_features(pages, mesh, gold, levi=True):
    """The oracle: the relational operators up to labelled pairs,
    optionally without the negatives the independent Levi rule rejects,
    then per collected pair row the Spark-free evidence kernel with a
    fresh sentence index and featurize_py.  ``_score_rows`` over it is
    the stub decision."""
    docs = extracted_docs(pages)
    gaz = gazetteer(mesh, type_col="type")
    pairs = label_pairs(candidate_pairs(entity_inventory(detect_mentions(docs, gaz))), gold)
    rows = pairs.join(docs, "url").collect()
    rejected = set()
    if levi:
        tree_map = {r["mesh_id"]: r["tree_numbers"] for r in tree_multimap(mesh).collect()}
        rejected = _levi_rejected_oracle(
            [(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in rows if r["label"] == 0],
            [(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()],
            tree_map,
        )
    out = []
    for r in rows:
        if (r["url"], r["chem_mesh"], r["dis_mesh"]) in rejected:
            continue
        ev = select_evidence_py(
            r["text"], r["chem_mesh"], r["dis_mesh"],
            [(p["start"], p["end"]) for p in r["chem_positions"]],
            [(p["start"], p["end"]) for p in r["dis_positions"]],
            r["chem_text"], r["dis_text"], r["label"],
        )
        if ev is None:
            continue
        feat = featurize_py(
            ev["sentence"], ev["sent_pos"], r["chem_mesh"], r["dis_mesh"],
            ev["chem_start"], ev["chem_end"], ev["dis_start"], ev["dis_end"],
        )
        if feat is not None:
            out.append(
                {"url": r["url"], "chem_mesh": r["chem_mesh"],
                 "dis_mesh": r["dis_mesh"], "label": r["label"],
                 "evidence_type": ev["evidence_type"], **feat}
            )
    return pd.DataFrame(out, columns=FEATURE_COLS)


def _dual_typed_inputs(spark):
    html = f"<html><body><p>{DUAL_TEXT}</p></body></html>".encode()
    pages = spark.createDataFrame(
        [(DUAL_URL, datetime(2024, 1, 1), html, DUAL_TEXT, "en")], datagen.PAGES_SCHEMA
    )
    mesh = spark.createDataFrame(
        DUAL_MESH, "tree_number string, mesh_id string, term string, type string"
    )
    gold = spark.createDataFrame([(DUAL_URL, "DD", "DX")], datagen.GOLD_RELATIONS_SCHEMA)
    return pages, mesh, gold


def test_fused_equals_modular(spark, fixtures, mesh):
    pages, _, gold = fixtures
    fused = score_candidates(pages, mesh, gold=gold)
    oracle = _relational_features(pages, mesh, gold)
    assert _rows(fused) == _rows(_score_rows(oracle))

    # the training queries' features: the same kernel without the Levi
    # filter, equal in every column to the oracle without the Levi filter
    feats = training_features(pages, mesh, gold)
    assert feats.columns == FEATURE_COLS
    expect = _relational_features(pages, mesh, gold, levi=False)
    assert len(expect) > len(oracle)  # the Levi filter drops pairs here
    assert _feature_rows(feats.collect()) == _feature_rows(
        expect.itertuples(index=False)
    )

    pages, mesh, gold = _dual_typed_inputs(spark)
    oracle = _rows(_score_rows(_relational_features(pages, mesh, gold)))
    assert [r[1:4] + r[5:6] for r in oracle] == [("DD", "DG", 0, 0), ("DD", "DX", 1, 1)]
    assert _rows(score_candidates(pages, mesh, gold=gold)) == oracle


# the electra rows are the bits of the encoder's float32 GEMMs, so their
# digest is one per OpenBLAS kernel; the engine pins the kernel by
# instruction-set tier (relation_extraction_cdr_spark._blas)
ELECTRA_DIGESTS = {
    "SkylakeX": "31b07bfea5ab7c97",
    "Haswell": "50deaa7c80d532eb",
    "Prescott": "3ebcf2428b63fbcd",  # OpenBLAS's generic x86-64 kernel
}


@pytest.mark.parametrize("backend", ["stub", "electra"])
def test_fused_output_pinned(spark, fixtures, mesh, backend):
    """The fused pipeline's scored rows on the 60-doc fixture, per
    scorer backend, as one digest: the first 16 hex digits of the
    sha256 of ``repr`` of the sorted row tuples.  A change that moves
    any row, label, decision or probability bit moves the digest.  The
    electra digest is looked up by the kernel a Spark worker runs."""
    if backend == "stub":
        digest = "c480f58a3317dcb8"
    else:
        kernel = worker_corename(spark)
        assert kernel in ELECTRA_DIGESTS, f"no electra digest for OpenBLAS kernel {kernel}"
        digest = ELECTRA_DIGESTS[kernel]
    pages, _, gold = fixtures
    rows = score_candidates(pages, mesh, gold=gold, scorer_backend=backend).collect()
    assert len(rows) == 117
    got = hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()
    assert got[:16] == digest


def test_document_fulltext_is_the_fused_kernel(spark, fixtures, mesh):
    """document_fulltext emits, per document, exactly the FULLTEXT row
    score_document builds for the electra backend (the same inventory),
    including the dual-typed page, whose DX is a Disease by its last
    mention."""
    pages, _, gold = fixtures
    for p, m, g in ((pages, mesh, gold), _dual_typed_inputs(spark)):
        gd, max_words = _mesh_artifacts(m, "type")
        payload = with_gold_pairs(extracted_docs(p), g)
        expect = {}
        for r in payload.collect():
            _, ft = score_document(
                r["url"], r["text"], _gold_pairs(r["gold_pairs"]), gd, max_words,
                {}, fulltext=True,
            )
            if ft is not None:
                expect[r["url"]] = ft
        got = {r["url"]: r.asDict() for r in document_fulltext(payload, gd, max_words).collect()}
        assert got == expect and got
    assert (got[DUAL_URL]["chem_meshes"], got[DUAL_URL]["dis_meshes"]) == (["DD"], ["DX", "DG"])


def _gazetteer(mesh_rows):
    gaz = gazetteer_dict((term, mesh_id, typ) for _tree, mesh_id, term, typ in mesh_rows)
    return gaz, longest_term_words(gaz)


def test_score_document_kernel():
    """The per-document kernel runs without Spark: generator documents
    emit exactly their gold pairs as label 1, each predicted positive;
    empty text and a page with one entity type emit nothing; the
    dual-typed page keeps DX's last-mention type in both outputs."""
    gaz, max_words = _gazetteer(datagen.gen_mesh_rows() + DUAL_MESH)

    def score(url, text, gold=()):
        return score_document(
            url, text, list(gold), gaz, max_words, {}, fulltext=True
        )

    assert score("https://e/1", "") == ([], None)
    assert score("https://e/2", None) == ([], None)
    pages, _, relations = datagen.gen_corpus(12)
    chem_only = pages[3][3][: pages[3][3].index(".") + 1]
    assert "was administered" in chem_only
    assert score(pages[3][0], chem_only) == ([], None)
    n_positive = 0
    for url, _ts, _html, text, _lang in pages:
        gold = sorted((c, d) for u, c, d in relations if u == url)
        rows, ft = score(url, text, gold)
        if not gold:
            continue
        scored = _score_rows(pd.DataFrame(rows))
        positive = scored[scored["label"] == 1]
        assert sorted(zip(positive["chem_mesh"], positive["dis_mesh"])) == gold, url
        assert (positive["pred"] == 1).all(), url
        assert sum(ft["labels"]) == len(gold), url
        n_positive += len(gold)
    assert n_positive >= 10

    rows, ft = score(DUAL_URL, DUAL_TEXT, [("DD", "DX")])
    assert [(r["chem_mesh"], r["dis_mesh"], r["label"]) for r in rows] == [
        ("DD", "DX", 1), ("DD", "DG", 0)
    ]
    assert (ft["chem_meshes"], ft["dis_meshes"], ft["labels"]) == (
        ["DD"], ["DX", "DG"], [1, 0]
    )
