"""End-to-end triple factory: P/R vs gold, metrics SQL, adjacency."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.plans.pipeline import (
    adjacency,
    extracted_docs,
    materialize_triples,
    pr_metrics,
    score_candidates,
)


def test_extracted_text_byte_identity(spark, fixtures):
    """input_hint: per-url extracted text must be byte-identical to the
    reference preprocessing (lowercased payload) — here the generator's
    text field IS the reference payload (already lowercase)."""
    pages, _, _ = fixtures
    docs = extracted_docs(pages)
    joined = docs.join(pages.select("url", F.col("text").alias("expect")), "url")
    bad = joined.where(F.col("text") != F.lower(F.col("expect"))).count()
    assert bad == 0


@pytest.mark.parametrize(
    "backend, fused",
    [("numpy", True), ("onnx", True), ("elektra", True), ("electra", False)],
)
def test_unknown_scorer_backend_rejected(spark, fixtures, mesh, backend, fused):
    """Only "stub" and "electra" are scorer backends, and the modular
    (fused=False) path is the stub oracle only: anything else raises
    instead of silently running the stub."""
    pages, _, _ = fixtures
    with pytest.raises(ValueError, match="scorer_backend"):
        score_candidates(pages, mesh, scorer_backend=backend, fused=fused)


def test_url_level_pr(spark, fixtures, mesh):
    pages, _, gold = fixtures
    scored = score_candidates(pages, mesh, gold=gold).cache()
    pred = {
        (r["url"], r["chem_mesh"], r["dis_mesh"])
        for r in scored.where("pred=1").collect()
    }
    gold_set = {(r["url"], r["chem_mesh"], r["dis_mesh"]) for r in gold.collect()}
    tp = len(pred & gold_set)
    precision = tp / max(len(pred), 1)
    recall = tp / max(len(gold_set), 1)
    assert precision >= 0.95, (precision, sorted(pred - gold_set)[:5])
    assert recall >= 0.95, (recall, sorted(gold_set - pred)[:5])


def test_triple_table_and_metrics(spark, fixtures, mesh):
    pages, _, gold = fixtures
    scored = score_candidates(pages, mesh, gold=gold)
    triples = materialize_triples(scored).cache()
    assert triples.columns == ["subj", "predicate", "obj", "score", "support"]
    m = pr_metrics(triples, gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95
    adj = adjacency(triples)
    assert adj.count() == triples.select("subj").distinct().count()
    # degree sums back to the triple count
    assert adj.agg(F.sum("degree")).first()[0] == triples.count()


def test_scorer_no_gold_mode(spark, fixtures, mesh):
    """Production mode: no gold labels — pipeline still runs, labels 0."""
    pages, _, _ = fixtures
    scored = score_candidates(pages, mesh, gold=None)
    assert scored.where("label != 0").count() == 0
    assert scored.where("pred=1").count() > 0


def test_salted_repartition_runs(spark, fixtures, mesh):
    pages, _, gold = fixtures
    scored = score_candidates(pages, mesh, gold=gold, salt_partitions=8)
    assert scored.count() > 0


def test_pipeline_survives_poison_rows(spark, mesh):
    """100 TB hygiene: null text, empty text, whitespace-only, unicode
    junk, an unannotated 200 KB monster, and a null lang must flow
    through the fused pipeline without crashing it or perturbing the
    triples of the healthy rows."""
    import pyspark.sql.functions as F

    from relation_extraction_cdr_spark import datagen
    from relation_extraction_cdr_spark.plans.pipeline import (
        materialize_triples,
        score_candidates,
    )

    pages = datagen.gen_pages_df(spark, 50)
    baseline = {
        (r["subj"], r["obj"])
        for r in materialize_triples(
            score_candidates(pages, mesh, salt_partitions=8)
        ).collect()
    }
    poison = spark.createDataFrame(
        [
            ("https://p/1", None),
            ("https://p/2", ""),
            ("https://p/3", "   "),
            ("https://p/4", "é中文 \U0001f600 aspirin induced headache."),
            ("https://p/5", "x" * 200_000),
        ],
        "url string, text string",
    ).select(
        "url",
        F.lit(1704067200).cast("timestamp").alias("warc_ts"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("html"),
        "text",
        F.lit(None).cast("string").alias("lang"),
    )
    mixed = pages.unionByName(poison)
    got = {
        (r["subj"], r["obj"])
        for r in materialize_triples(
            score_candidates(mixed, mesh, salt_partitions=8)
        ).collect()
    }
    # healthy-row triples unchanged AND nothing new: none of the poison
    # surfaces ('aspirin'/'headache' included) exist in the gazetteer,
    # so the result must be exactly the baseline
    assert got == baseline, f"poison rows perturbed the triples: {got ^ baseline}"


def test_pipeline_default_path_survives_null_text(spark, mesh):
    """The DEFAULT score_candidates path (no salting) must also survive
    null/empty text: the salted path's heavy/light split filters happen
    to drop NULL rows as a side effect, which previously masked an
    unguarded text.split() crash in the fused kernel."""
    from relation_extraction_cdr_spark.plans.pipeline import (
        materialize_triples,
        score_candidates,
    )

    pages = spark.createDataFrame(
        [
            ("https://p/null", None, None),
            ("https://p/empty", b"<html><body><p></p></body></html>", ""),
            ("https://p/ok", None, "aspirin induced severe headache in rats."),
        ],
        "url string, html binary, text string",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn("lang", F.lit("en"))
    triples = materialize_triples(score_candidates(pages, mesh))
    triples.collect()  # must not raise
