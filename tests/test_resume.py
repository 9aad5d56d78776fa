"""Checkpoint/resume at partition granularity (north_star requirement):
kill mid-run, rerun, identical triples, no reprocessing."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from relation_extraction_cdr_spark.plans.pipeline import materialize_triples
from relation_extraction_cdr_spark.streaming.incremental import (
    CHECKPOINT_SCHEMA,
    bucketed,
    completed_buckets,
    run_resumable,
)


def _assert_lineage(spark, pages, out_dir, checkpoint_dir, n_buckets):
    """Exactly one lineage row per bucket, each count equal to an
    independent count of the same bucket; returns {bucket: (url_count,
    row_count)}."""
    cp = spark.read.parquet(checkpoint_dir)
    assert cp.schema == StructType.fromDDL(CHECKPOINT_SCHEMA)
    rows = cp.collect()
    assert sorted(r["partition_id"] for r in rows) == list(range(n_buckets))
    pages_b = bucketed(pages, n_buckets)
    counts = {}
    for r in rows:
        b = r["partition_id"]
        assert r["url_count"] == pages_b.where(F.col("bucket") == b).count()
        assert r["row_count"] == spark.read.parquet(
            os.path.join(out_dir, f"bucket={b}")
        ).count()
        counts[b] = (r["url_count"], r["row_count"])
    return counts


def test_kill_and_resume_identical(spark, fixtures, mesh, tmp_path):
    pages, _, gold = fixtures
    out1 = str(tmp_path / "full_out")
    cp1 = str(tmp_path / "full_cp")
    full = run_resumable(
        spark, pages, mesh, out1, cp1, run_id="full", n_buckets=4, gold=gold
    )
    full_triples = {
        tuple(r) for r in materialize_triples(full).select("subj", "obj").collect()
    }
    full_counts = _assert_lineage(spark, pages, out1, cp1, 4)

    out2 = str(tmp_path / "kill_out")
    cp2 = str(tmp_path / "kill_cp")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable(
            spark, pages, mesh, out2, cp2, run_id="kill", n_buckets=4,
            fail_after=2, gold=gold,
        )
    done_after_kill = completed_buckets(spark, cp2, "kill", "score")
    assert len(done_after_kill) == 2

    resumed = run_resumable(
        spark, pages, mesh, out2, cp2, run_id="kill", n_buckets=4, gold=gold
    )
    resumed_triples = {
        tuple(r) for r in materialize_triples(resumed).select("subj", "obj").collect()
    }
    assert resumed_triples == full_triples

    # lineage: exactly one checkpoint row per bucket — completed buckets
    # were NOT reprocessed on resume — with the uninterrupted run's counts
    assert _assert_lineage(spark, pages, out2, cp2, 4) == full_counts


def test_more_buckets_than_pages(spark, fixtures, mesh, tmp_path):
    """Buckets that receive no page still get a lineage row reading
    (url_count, row_count) == (0, 0)."""
    pages, _, gold = fixtures
    two = pages.orderBy("url").limit(2)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run_resumable(spark, two, mesh, out, cp, run_id="sparse", n_buckets=6, gold=gold)
    counts = _assert_lineage(spark, two, out, cp, 6)
    empty = [c for c in counts.values() if c[0] == 0]
    assert len(empty) >= 4
    assert all(c == (0, 0) for c in empty)
    assert sum(c[0] for c in counts.values()) == 2


def test_completed_buckets_without_checkpoint(spark, tmp_path):
    assert completed_buckets(spark, str(tmp_path / "missing"), "r", "score") == set()
    (tmp_path / "empty").mkdir()
    assert completed_buckets(spark, str(tmp_path / "empty"), "r", "score") == set()
