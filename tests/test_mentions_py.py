"""The per-document gazetteer matcher must equal its relational
restatement (tests/relational_oracle.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from relation_extraction_cdr_spark.operators.mentions import (
    detect_mentions_py,
    entity_inventory_py,
    gazetteer_dict,
    longest_term_words,
)
from relation_extraction_cdr_spark.plans.pipeline import extracted_docs
from relation_extraction_cdr_spark.sources.mesh import gazetteer
from tests.relational_oracle import detect_mentions, entity_inventory


def test_python_matcher_equals_relational(spark, fixtures, mesh):
    pages, _, _ = fixtures
    docs = extracted_docs(pages)
    gaz = gazetteer(mesh, type_col="type")
    gd = gazetteer_dict(gaz.collect())
    max_words = longest_term_words(gd)

    relational = {}
    for r in detect_mentions(docs, gaz).collect():
        relational.setdefault(r["url"], set()).add(
            (r["mesh_id"], r["start"], r["end"], r["mention_text"])
        )
    inventory = {}
    for r in entity_inventory(detect_mentions(docs, gaz)).collect():
        inventory.setdefault(r["url"], set()).add(
            (r["mesh_id"], tuple((p["start"], p["end"]) for p in r["positions"]),
             r["rep_text"], r["type"])
        )
    for row in docs.collect():
        mentions = detect_mentions_py(row["text"], gd, max_words)
        got = {(m["mesh_id"], m["start"], m["end"], m["mention_text"]) for m in mentions}
        assert got == relational.get(row["url"], set()), row["url"]
        got_inv = {
            (e["mesh_id"], tuple((p["start"], p["end"]) for p in e["positions"]),
             e["rep_text"], e["type"])
            for e in entity_inventory_py(mentions)
        }
        assert got_inv == inventory.get(row["url"], set()), row["url"]


def test_python_matcher_on_documents_table(spark):
    """Same check over the driver-provided documents vocabulary (the q28
    gazetteer, incl. the multi-word 'hash join' overlap with 'join')."""
    from relation_extraction_cdr_spark.plans.queries import _GAZ_ROWS

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("url"), F.lower("text").alias("text"))
        .limit(100)
    )
    gaz = spark.createDataFrame(
        [(t, m, ty) for t, m, ty, _ in _GAZ_ROWS], "term string, mesh_id string, type string"
    )
    gd = gazetteer_dict(gaz.collect())
    relational = {}
    for r in detect_mentions(docs, gaz).collect():
        relational.setdefault(r["url"], set()).add((r["mesh_id"], r["start"], r["end"]))
    for row in docs.collect():
        got = {
            (m["mesh_id"], m["start"], m["end"])
            for m in detect_mentions_py(row["text"], gd, 2)
        }
        assert got == relational.get(row["url"], set()), row["url"]
