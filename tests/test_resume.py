"""Checkpoint/resume at partition granularity (north_star requirement):
kill mid-run, rerun, identical triples, no reprocessing."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from datetime import datetime

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from relation_extraction_cdr_spark.plans import pipeline
from relation_extraction_cdr_spark.plans.pipeline import (
    extracted_docs,
    materialize_triples,
)
from relation_extraction_cdr_spark.streaming import incremental
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


def _kill_at_third_commit(monkeypatch):
    """Simulate a kill: the third lineage commit of the run raises
    instead of writing its row."""
    calls = []
    real = incremental._append_lineage

    def append(*a):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("simulated kill")
        real(*a)

    monkeypatch.setattr(incremental, "_append_lineage", append)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


@contextmanager
def _job_group(sc, group):
    """Run the body in job group ``group``; yields the list the group's
    job ids are put into when the body ends."""
    jobs = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_kill_and_resume_identical(spark, fixtures, mesh, tmp_path, monkeypatch):
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
    with monkeypatch.context() as m:
        _kill_at_third_commit(m)
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_resumable(
                spark, pages, mesh, out2, cp2, run_id="kill", n_buckets=4,
                gold=gold,
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


@pytest.mark.parametrize("salt", [-1, -8])
def test_negative_salt_partitions_rejected_before_any_job(
    spark, fixtures, mesh, tmp_path, salt
):
    """A negative salt_partitions raises before the count job, and no
    lineage directory is created."""
    pages, _, _ = fixtures
    cp = tmp_path / "cp"
    with _job_group(spark.sparkContext, f"resume-negative-salt{salt}") as jobs:
        with pytest.raises(ValueError, match="salt_partitions"):
            run_resumable(
                spark, pages, mesh, str(tmp_path / "out"), str(cp),
                n_buckets=2, salt_partitions=salt,
            )
    assert list(jobs) == []
    assert not cp.exists()


def test_one_job_per_extra_bucket(spark, fixtures, mesh, tmp_path, monkeypatch):
    """Each pending bucket starts exactly one job, its scoring write: the
    count job (however AQE splits it) is paid once per run, the lineage
    row is written by the driver, and with the default CHARS_PER_TASK the
    fixture's buckets run no heavy-text probe."""
    pages, _, _ = fixtures
    probes = []
    real = pipeline.heavy_partitions
    monkeypatch.setattr(
        pipeline, "heavy_partitions", lambda *a: probes.append(a) or real(*a)
    )
    sc = spark.sparkContext

    def run(tag, n_buckets):
        return run_resumable(
            spark, pages, mesh, str(tmp_path / f"{tag}_out"),
            str(tmp_path / f"{tag}_cp"), run_id=tag, n_buckets=n_buckets,
            salt_partitions=4,
        )

    run("warm", 1)  # the mesh artifacts are built once per mesh table
    with _job_group(sc, "resume-jobs-2") as two:
        run("two", 2)
    with _job_group(sc, "resume-jobs-4") as four:
        run("four", 4)
    assert len(four) - len(two) == 2
    assert probes == []


def test_heavy_buckets_probe_and_salted_output(
    spark, fixtures, mesh, tmp_path, monkeypatch
):
    """With salt_partitions, only the buckets whose heavy text pays for a
    task run score_candidates' probe, and salting changes no row."""
    pages, _, gold = fixtures
    pages = pages.orderBy("url").limit(20)
    n_buckets = 4
    monkeypatch.setattr(pipeline, "HEAVY_DOC_CHARS", 175)
    monkeypatch.setattr(pipeline, "CHARS_PER_TASK", 1)
    docs = bucketed(extracted_docs(pages), n_buckets)
    bucket_of = {r["url"]: r["bucket"] for r in docs.collect()}
    heavy = {
        r["bucket"]
        for r in docs.where(F.length("text") > 175).select("bucket").collect()
    }
    # the check is void unless some buckets have heavy text and some not
    assert 0 < len(heavy) < n_buckets

    probed = []
    real = pipeline.heavy_partitions

    def spy(docs, salt_partitions):
        probed.append({bucket_of[r["url"]] for r in docs.select("url").collect()})
        return real(docs, salt_partitions)

    monkeypatch.setattr(pipeline, "heavy_partitions", spy)
    salted = run_resumable(
        spark, pages, mesh, str(tmp_path / "salt_out"), str(tmp_path / "salt_cp"),
        n_buckets=n_buckets, gold=gold, salt_partitions=4,
    )
    assert sorted(probed, key=min) == [{b} for b in sorted(heavy)]
    plain = run_resumable(
        spark, pages, mesh, str(tmp_path / "plain_out"), str(tmp_path / "plain_cp"),
        n_buckets=n_buckets, gold=gold,
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


@pytest.mark.parametrize("torn", ["raise", "false"])
def test_torn_lineage_write_never_counted(
    spark, fixtures, mesh, tmp_path, monkeypatch, torn
):
    """A lineage commit that fails at the rename (raises, or returns
    False) fails the run and leaves no visible row and no temp file, so
    the bucket counts as pending and a rerun completes it exactly once."""
    pages, _, gold = fixtures
    out, cp = tmp_path / "out", tmp_path / "cp"
    renamed = []
    real = incremental._filesystem

    class TornRename:
        """The checkpoint FileSystem; its second rename fails."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            renamed.append(dst.getName())
            if len(renamed) < 2:
                return self._fs.rename(src, dst)
            if torn == "raise":
                raise OSError("torn lineage write")
            return False

    def torn_filesystem(spark, uri):
        fs, path = real(spark, uri)
        return TornRename(fs), path

    monkeypatch.setattr(incremental, "_filesystem", torn_filesystem)
    with pytest.raises(OSError):
        run_resumable(
            spark, pages, mesh, str(out), str(cp), run_id="torn", n_buckets=4,
            gold=gold,
        )
    # bucket 0 committed; bucket 1's output is written, its lineage is not
    assert completed_buckets(spark, str(cp), "torn", "score") == {0}
    assert [p.name for p in cp.iterdir() if p.name.startswith("part-")] == [renamed[0]]
    assert (out / "bucket=1").exists()
    assert not [p.name for p in cp.iterdir() if ".tmp" in p.name]

    monkeypatch.setattr(incremental, "_filesystem", real)
    run_resumable(
        spark, pages, mesh, str(out), str(cp), run_id="torn", n_buckets=4, gold=gold
    )
    _assert_lineage(spark, pages, str(out), str(cp), 4)
    assert not [p.name for p in cp.iterdir() if ".tmp" in p.name]


def test_mixed_old_and_new_lineage_files(spark, fixtures, mesh, tmp_path, monkeypatch):
    """Lineage rows appended by a Spark write job (the earlier recipe)
    and rows written by the driver share one checkpoint: old buckets are
    skipped, both reads give CHECKPOINT_SCHEMA, and each new row's
    written_at is the driver's clock during the run."""
    pages, _, gold = fixtures
    out, cp = tmp_path / "out", tmp_path / "cp"
    with monkeypatch.context() as m:
        _kill_at_third_commit(m)
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_resumable(
                spark, pages, mesh, str(out), str(cp), run_id="mixed", n_buckets=4,
                gold=gold,
            )
    old = spark.read.schema(CHECKPOINT_SCHEMA).parquet(str(cp)).collect()
    assert len(old) == 2
    for p in cp.iterdir():
        p.unlink()
    for r in old:
        spark.range(1).select(
            F.lit(r["run_id"]).alias("run_id"),
            F.lit(r["stage"]).alias("stage"),
            F.lit(r["partition_id"]).cast("int").alias("partition_id"),
            F.lit(r["url_count"]).cast("long").alias("url_count"),
            F.lit(r["row_count"]).cast("long").alias("row_count"),
            F.lit(r["written_at"]).alias("written_at"),
        ).write.mode("append").parquet(str(cp))

    scored = []
    real = pipeline.score_candidates
    monkeypatch.setattr(
        pipeline, "score_candidates", lambda *a, **k: scored.append(1) or real(*a, **k)
    )
    before = datetime.now()
    run_resumable(
        spark, pages, mesh, str(out), str(cp), run_id="mixed", n_buckets=4, gold=gold
    )
    after = datetime.now()
    assert len(scored) == 2

    declared = StructType.fromDDL(CHECKPOINT_SCHEMA)
    assert spark.read.parquet(str(cp)).schema == declared
    rows = spark.read.schema(declared).parquet(str(cp)).collect()
    assert sorted(tuple(r) for r in rows) == sorted(
        tuple(r) for r in spark.read.parquet(str(cp)).collect()
    )
    _assert_lineage(spark, pages, str(out), str(cp), 4)
    old_ids = {r["partition_id"] for r in old}
    assert {r["partition_id"]: r["written_at"] for r in rows if r["partition_id"] in old_ids} == {
        r["partition_id"]: r["written_at"] for r in old
    }
    new = [r["written_at"] for r in rows if r["partition_id"] not in old_ids]
    assert len(new) == 2
    assert all(before <= t <= after for t in new)
    assert not [p.name for p in cp.iterdir() if p.name.endswith((".tmp", ".tmp.crc"))]


def test_next_bucket_planned_before_commit(spark, fixtures, mesh, tmp_path, monkeypatch):
    """Two buckets in flight: bucket b+1 is planned (and its write
    submitted) before bucket b's lineage row is committed, and rows are
    committed in bucket order."""
    pages, _, gold = fixtures
    events = []
    real_plan = pipeline.score_candidates
    real_commit = incremental._append_lineage

    def plan(*a, **k):
        events.append("plan")
        return real_plan(*a, **k)

    def commit(spark, checkpoint_dir, row):
        events.append(f"commit {row['partition_id']}")
        real_commit(spark, checkpoint_dir, row)

    monkeypatch.setattr(pipeline, "score_candidates", plan)
    monkeypatch.setattr(incremental, "_append_lineage", commit)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run_resumable(spark, pages, mesh, out, cp, run_id="order", n_buckets=4, gold=gold)
    assert events == [
        "plan", "plan", "commit 0", "plan", "commit 1", "plan", "commit 2", "commit 3",
    ]
    _assert_lineage(spark, pages, out, cp, 4)


def test_failing_write_stops_later_commits(spark, fixtures, mesh, tmp_path, monkeypatch):
    """The second bucket's scoring write fails at execution: the run
    re-raises that error once the in-flight write has finished, only
    bucket 0 is committed, the write threads are gone, and a rerun
    completes the other buckets with the rows of an uninterrupted run."""
    pages, _, gold = fixtures
    full = run_resumable(
        spark, pages, mesh, str(tmp_path / "full_out"), str(tmp_path / "full_cp"),
        run_id="full", n_buckets=4, gold=gold,
    )
    expected = _sorted_rows(full)

    planned = []
    real = pipeline.score_candidates

    def plan(*a, **k):
        planned.append(1)
        scored = real(*a, **k)
        if len(planned) == 2:
            scored = scored.withColumn("pred", F.raise_error(F.lit("failed bucket write")).cast("int"))
        return scored

    out, cp = tmp_path / "out", tmp_path / "cp"
    threads = threading.active_count()
    with monkeypatch.context() as m:
        m.setattr(pipeline, "score_candidates", plan)
        with pytest.raises(Exception, match="failed bucket write"):
            run_resumable(
                spark, pages, mesh, str(out), str(cp), run_id="fail", n_buckets=4,
                gold=gold,
            )
    assert threading.active_count() == threads
    assert completed_buckets(spark, str(cp), "fail", "score") == {0}

    resumed = run_resumable(
        spark, pages, mesh, str(out), str(cp), run_id="fail", n_buckets=4, gold=gold
    )
    _assert_lineage(spark, pages, str(out), str(cp), 4)
    assert _sorted_rows(resumed) == expected
