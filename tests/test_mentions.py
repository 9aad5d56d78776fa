"""Gazetteer mention detection (J8/W6) vs generator gold offsets."""

from __future__ import annotations

from relation_extraction_cdr_spark.operators.mentions import (
    detect_mentions_py,
    document_inventory,
)
from relation_extraction_cdr_spark.plans.pipeline import _mesh_artifacts, extracted_docs
from relation_extraction_cdr_spark.scoring.scorer import document_mentions


def test_detect_matches_gold_offsets(spark, fixtures, mesh):
    pages, gold_m, _ = fixtures
    docs = extracted_docs(pages)
    got = document_mentions(docs, *_mesh_artifacts(mesh, "type"))
    got_set = {
        (r["url"], r["mesh_id"], r["start"], r["end"])
        for r in got.collect()
    }
    gold_set = {
        (r["url"], r["mesh_id"], r["start"], r["end"]) for r in gold_m.collect()
    }
    # every generated mention must be found at its exact char offsets
    missing = gold_set - got_set
    assert not missing, f"missing mentions: {sorted(missing)[:5]}"
    # and nothing hallucinated outside the gold set EXCEPT legitimate
    # sub-term matches of multi-word golds (e.g. 'renal failure' inside
    # 'acute renal failure' never survives longest-match; check none)
    extra = got_set - gold_set
    assert not extra, f"extra mentions: {sorted(extra)[:5]}"


def test_longest_match_wins(spark, mesh):
    text = "acute renal failure was observed after lithium use."
    got = detect_mentions_py(text, *_mesh_artifacts(mesh, "type"))
    by_id = {m["mesh_id"]: m for m in got}
    assert "D010005" in by_id  # acute renal failure (longest)
    assert "D010004" not in by_id  # contained 'renal failure' suppressed
    assert by_id["D010005"]["start"] == 0
    assert by_id["D010005"]["end"] == len("acute renal failure")
    assert "D910001" in by_id  # lithium


def test_punctuation_stripped_offsets(spark, mesh):
    text = "tremor, and seizures! were seen."
    got = {m["mesh_id"]: m for m in detect_mentions_py(text, *_mesh_artifacts(mesh, "type"))}
    assert got["D010001"]["start"] == 0 and got["D010001"]["end"] == 6
    assert got["D010002"]["start"] == 12 and got["D010002"]["end"] == 20


def test_entity_inventory_last_mention_wins(spark, mesh):
    text = "lithium early. later lithium again."
    inv = document_inventory(text, *_mesh_artifacts(mesh, "type"))
    row = next(e for e in inv if e["mesh_id"] == "D910001")
    assert len(row["positions"]) == 2
    assert row["rep_text"] == "lithium"
    assert row["type"] == "Chemical"
