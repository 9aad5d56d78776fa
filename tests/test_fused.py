"""The fused per-document stage must equal the relational operator chain
exactly."""

from __future__ import annotations

from relation_extraction_cdr_spark.operators.candidates import (
    candidate_pairs,
    label_pairs,
    levi_filter,
)
from relation_extraction_cdr_spark.operators.evidence import select_evidence
from relation_extraction_cdr_spark.operators.features import featurize
from relation_extraction_cdr_spark.operators.mentions import (
    detect_mentions,
    entity_inventory,
)
from relation_extraction_cdr_spark.plans.pipeline import (
    _mesh_artifacts,
    extracted_docs,
    score_candidates,
)
from relation_extraction_cdr_spark.scoring.scorer import score_pairs
from relation_extraction_cdr_spark.sources.mesh import tree_multimap


def _rows(df):
    return sorted(
        (r["url"], r["chem_mesh"], r["dis_mesh"], r["label"], r["evidence_type"],
         r["pred"], round(r["prob"], 9))
        for r in df.collect()
    )


def _relational_chain(pages, mesh, gold):
    """The oracle: the same decision as one relational operator per step."""
    docs = extracted_docs(pages)
    gaz, _, _ = _mesh_artifacts(mesh, "type")
    pairs = label_pairs(candidate_pairs(entity_inventory(detect_mentions(docs, gaz))), gold)
    pairs = levi_filter(pairs, gold, tree_multimap(mesh))
    return score_pairs(featurize(select_evidence(pairs.join(docs, "url"))))


def test_fused_equals_modular(spark, fixtures, mesh):
    pages, _, gold = fixtures
    fused = score_candidates(pages, mesh, gold=gold)
    assert _rows(fused) == _rows(_relational_chain(pages, mesh, gold))
