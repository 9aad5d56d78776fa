"""End-to-end triple factory: P/R vs gold, metrics SQL, adjacency."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from relation_extraction_cdr_spark.plans import pipeline
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


@pytest.mark.parametrize("backend", ["numpy", "onnx", "elektra"])
def test_unknown_scorer_backend_rejected(spark, fixtures, mesh, backend):
    """Only "stub" and "electra" are scorer backends: anything else
    raises instead of silently running the stub."""
    pages, _, _ = fixtures
    with pytest.raises(ValueError, match="scorer_backend"):
        score_candidates(pages, mesh, scorer_backend=backend)


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


def test_salted_repartition_runs(spark, fixtures, mesh, monkeypatch):
    """Salting only moves documents: with a threshold that makes about
    half the fixture pages heavy, the salted run returns exactly the
    unsalted rows for both scorer backends."""
    pages, _, gold = fixtures
    monkeypatch.setattr(pipeline, "HEAVY_DOC_CHARS", 175)
    n_heavy = extracted_docs(pages).where(F.length("text") > 175).count()
    assert 0 < n_heavy < pages.count()  # both union branches carry rows
    for backend in ("stub", "electra"):
        plain = score_candidates(pages, mesh, gold=gold, scorer_backend=backend)
        salted = score_candidates(
            pages, mesh, gold=gold, scorer_backend=backend, salt_partitions=4
        )
        expect = sorted(plain.collect())
        assert expect and sorted(salted.collect()) == expect, backend


def test_empty_gazetteer_fails_fast_and_is_not_cached(spark, fixtures, mesh):
    """A mesh table that yields no Chemical/Disease term raises instead
    of running an expensive no-op pipeline; the failure is not memoized,
    so it raises again and the real mesh still scores afterwards."""
    pages, _, _ = fixtures
    empty = mesh.limit(0)
    for _ in range(2):
        with pytest.raises(ValueError, match="empty gazetteer"):
            score_candidates(pages, empty)
    assert score_candidates(pages, mesh).where("pred=1").count() > 0


def test_interleaved_pipelines_leak_no_cache(spark, fixtures, mesh, monkeypatch):
    """Two salted pipelines built in one driver and collected in
    interleaved order each return exactly their isolated rows, and
    neither leaves a persisted RDD behind."""
    pages, _, _ = fixtures
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    page_sets = [pages.where(half == 0), pages.where(half == 1)]
    monkeypatch.setattr(pipeline, "HEAVY_DOC_CHARS", 175)  # both branches carry rows

    def build(p):
        return score_candidates(p, mesh, salt_partitions=4)

    isolated = [sorted(build(p).collect()) for p in page_sets]
    assert all(isolated) and isolated[0] != isolated[1]
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    a, b = (build(p) for p in page_sets)
    assert sorted(a.collect()) == isolated[0]
    assert sorted(b.collect()) == isolated[1]
    assert sorted(a.collect()) == isolated[0]
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= before


_RESTART_SCRIPT = textwrap.dedent(
    """
    from relation_extraction_cdr_spark import datagen
    from relation_extraction_cdr_spark.plans.pipeline import (
        materialize_triples,
        score_candidates,
    )
    from relation_extraction_cdr_spark.session import spark_session

    counts = []
    for _ in range(2):
        spark = spark_session("restart")
        spark.sparkContext.setLogLevel("ERROR")
        pages = datagen.gen_pages_df(spark, 30)
        scored = score_candidates(pages, datagen.mesh_df(spark), salt_partitions=4)
        counts.append(materialize_triples(scored).count())
        spark.stop()
    print("COUNTS", *counts)
    """
)


def test_pipeline_survives_session_restart():
    """A salted pipeline run, spark.stop(), a new session and the same
    run again in one process: the second call must not touch state of
    the stopped session (it once unpersisted the dead session's payload
    and died with a NullPointerException in BlockManagerMaster)."""
    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(repo), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("COUNTS")][-1]
    first, second = map(int, line.split()[1:])
    assert first > 0 and first == second


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
