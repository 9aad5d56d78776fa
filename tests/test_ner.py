"""NER featurization (extract_ner_sample semantics, cdr_dataset.py:378-447)."""

from __future__ import annotations

from relation_extraction_cdr_spark.functions.wordpiece import (
    E_END_ID,
    E_START_ID,
    encode,
    token_to_id,
)
from relation_extraction_cdr_spark.operators.ner import (
    docs_with_mentions,
    ner_featurize_py,
    ner_features,
)


def test_whole_doc_markers_and_labels():
    text = "lithium induced tremor in rats."
    mentions = [
        {"start": 0, "end": 7, "type": "Chemical"},
        {"start": 16, "end": 22, "type": "Disease"},
    ]
    feat = ner_featurize_py(text, mentions)
    ids = feat["token_ids"]
    assert feat["labels"] == [0, 1]
    i0, i1 = feat["entity_token_idx"]
    assert ids[i0] == token_to_id("lithium")
    assert ids[i1] == token_to_id("tremor")
    assert ids[i0 - 1] == E_START_ID and ids[i1 - 1] == E_START_ID


def test_reverse_insertion_preserves_offsets():
    # two mentions; inserting the later one first must not shift earlier
    text = "aa bb cc dd"
    mentions = [
        {"start": 0, "end": 2, "type": "Chemical"},
        {"start": 9, "end": 11, "type": "Disease"},
    ]
    feat = ner_featurize_py(text, mentions)
    ids = feat["token_ids"]
    assert ids[feat["entity_token_idx"][0]] == token_to_id("aa")
    assert ids[feat["entity_token_idx"][1]] == token_to_id("dd")


def test_truncate_back_to_last_marker():
    # long doc: truncation at 512 must cut back to the last complete [/e]
    text = ("word " * 400) + "lithium here. " + ("pad " * 300) + "tremor end."
    mentions = [
        {"start": text.find("lithium"), "end": text.find("lithium") + 7, "type": "Chemical"},
        {"start": text.find("tremor"), "end": text.find("tremor") + 6, "type": "Disease"},
    ]
    feat = ner_featurize_py(text, mentions)
    ids = feat["token_ids"]
    assert len(ids) <= 512
    assert ids[-1] == E_END_ID  # ends exactly at a span close
    assert feat["labels"] == [0]  # the disease span fell past the window


def test_distributed(spark, fixtures, mesh):
    from relation_extraction_cdr_spark.plans.pipeline import _mesh_artifacts, extracted_docs
    from relation_extraction_cdr_spark.scoring.scorer import document_mentions

    pages, _, _ = fixtures
    docs = extracted_docs(pages)
    mentions = document_mentions(docs, *_mesh_artifacts(mesh, "type"))
    rows = ner_features(docs_with_mentions(docs, mentions)).collect()
    assert len(rows) > 30
    for r in rows[:10]:
        assert len(r["entity_token_idx"]) == len(r["labels"])
        assert all(l in (0, 1) for l in r["labels"])


def test_macro_report_empty_frame_all_zeros(spark):
    """A corpus slice with no detectable mentions must report zeros,
    not NULLs (SUM over zero rows is NULL; the report coalesces)."""
    from relation_extraction_cdr_spark.operators.ner import (
        NER_SCORED_SCHEMA,
        macro_report,
    )

    empty = spark.createDataFrame([], NER_SCORED_SCHEMA)
    rows = {r["class"]: r for r in macro_report(empty).collect()}
    assert set(rows) == {"Chemical", "Disease", "macro"}
    for r in rows.values():
        assert r["precision_ppm"] == 0
        assert r["recall_ppm"] == 0
        assert r["f1_ppm"] == 0
        assert r["support"] == 0


def test_score_types_layout_independent(spark, fixtures, mesh):
    """Equal-length-grouped NER scoring: emitted (pred, margin) rows are
    bit-identical to the single-partition result at any partitioning
    (the scorer.score_fulltext shape discipline, applied to the token
    head)."""
    import numpy as np

    from relation_extraction_cdr_spark.operators.ner import score_types
    from relation_extraction_cdr_spark.plans.pipeline import _mesh_artifacts, extracted_docs
    from relation_extraction_cdr_spark.scoring.electra import ElectraConfig
    from relation_extraction_cdr_spark.scoring.scorer import document_mentions

    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
    )
    pages, _, _ = fixtures
    docs = extracted_docs(pages.limit(12))
    mentions = document_mentions(docs, *_mesh_artifacts(mesh, "type"))
    feats = ner_features(docs_with_mentions(docs, mentions))

    def as_map(rows):
        return {
            (r["url"], r["span_idx"]): (r["label"], r["pred"], r["margin"])
            for r in rows
        }

    base = as_map(score_types(feats.coalesce(1), config=cfg, seed=3).collect())
    assert base
    got = as_map(score_types(feats.repartition(5), config=cfg, seed=3).collect())
    assert got.keys() == base.keys()
    for k, (lab, pred, margin) in got.items():
        blab, bpred, bmargin = base[k]
        assert lab == blab and pred == bpred, k
        assert np.float64(margin) == np.float64(bmargin), k
