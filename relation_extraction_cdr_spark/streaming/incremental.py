"""Resumable, partition-granular execution with lineage checkpointing
(BASELINE north_star: "every stage writes per-partition lineage rows and
counters to a checkpoint table so a killed job resumes at partition
granularity"; FIXTURES.md §6 schema).

Design: input pages are bucketed by ``pmod(xxhash64(url), n_buckets)``.
Each bucket is one unit of restartable work; its triples land in a
parquet partition ``bucket=<id>`` and a lineage row
(run_id, stage, partition_id, url_count, row_count, written_at) is
appended to the checkpoint table only AFTER the bucket's output commit.
Resume = anti-join pending buckets against the checkpoint — processed
buckets are never recomputed and the final triple table is byte-identical
to an uninterrupted run (pytest-verified).

Bookkeeping costs one Spark job per run plus one small append per
bucket, and starts no Python task: ``url_count`` for every pending
bucket comes from a single ``groupBy("bucket").count()``, ``row_count``
from an ``Observation`` attached to the bucket's scoring write, and the
lineage row is a ``spark.range(1)`` projection built in the JVM.

On a real cluster each bucket is itself a distributed job over many
executors; n_buckets controls restart granularity, not parallelism.
A Structured Streaming variant (`stream_pages`) expresses the same plan
over readStream+foreachBatch for continuously arriving pages with
idempotent per-batch partition overwrites.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

CHECKPOINT_SCHEMA = (
    "run_id string, stage string, partition_id int, url_count long, "
    "row_count long, written_at timestamp"
)


def bucketed(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, checkpoint_dir: str, run_id: str, stage: str) -> set[int]:
    """Bucket ids with committed lineage rows.  The not-yet-created case
    is detected with the Hadoop FileSystem of the checkpoint URI, NOT
    os.path.exists — the lineage URI is usually remote (hdfs://, s3a://)
    where a driver-local stat is always False and would silently disable
    resume on a cluster.  (Catching the read's AnalysisException instead
    makes Spark log a listener stack trace once any Observation has run
    in the session.)  The read takes CHECKPOINT_SCHEMA, so an existing
    but empty directory yields no buckets and no footer is inferred."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(path):
        return set()
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(checkpoint_dir)
        .where((F.col("run_id") == run_id) & (F.col("stage") == stage))
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    mesh_tree: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "run1",
    n_buckets: int = 8,
    fail_after: int | None = None,
    **pipeline_kwargs,
) -> DataFrame:
    """Process pages bucket-by-bucket with lineage; returns the scored
    pairs read back from ``out_dir``.

    Per pending bucket the only Spark work is the scoring write and the
    lineage append.  ``url_count`` comes from one ``groupBy("bucket")``
    count job over all pending buckets (a bucket with no pages reads 0);
    ``row_count`` from an ``Observation`` on the scoring write, read
    after the write commits (it counts the committed result stage, so
    task retries do not inflate it); the lineage row is built in the JVM,
    so bookkeeping starts no Python task.

    ``fail_after``: test hook — raise after N buckets to simulate a kill.
    """
    # imported at call time: instrumentation wraps it by module attribute
    from ..plans.pipeline import score_candidates

    pages_b = bucketed(pages, n_buckets)
    done = completed_buckets(spark, checkpoint_dir, run_id, "score")
    pending = [b for b in range(n_buckets) if b not in done]
    url_counts = (
        {r["bucket"]: r["count"] for r in pages_b.groupBy("bucket").count().collect()}
        if pending
        else {}
    )
    for processed, b in enumerate(pending):
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"simulated kill after {processed} buckets")
        part = pages_b.where(F.col("bucket") == b).drop("bucket")
        scored = score_candidates(part, mesh_tree, **pipeline_kwargs)
        rows = Observation()
        scored.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}")
        )
        # CHECKPOINT_SCHEMA's row as a JVM projection: createDataFrame
        # would parallelize it over defaultParallelism Python tasks
        lineage = spark.range(1).select(
            F.lit(run_id).alias("run_id"),
            F.lit("score").alias("stage"),
            F.lit(b).cast("int").alias("partition_id"),
            F.lit(url_counts.get(b, 0)).cast("long").alias("url_count"),
            F.lit(rows.get["n"]).cast("long").alias("row_count"),
            F.lit(datetime.now()).alias("written_at"),
        )
        lineage.write.mode("append").parquet(checkpoint_dir)
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))


def stream_pages(
    spark: SparkSession,
    input_dir: str,
    mesh_tree: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    trigger_once: bool = True,
    dedup_watermark: str | None = None,
    **pipeline_kwargs,
):
    """Structured Streaming variant: continuously arriving page files →
    triples; the batch plan is reused verbatim inside foreachBatch, and
    ``pipeline_kwargs`` forward to score_candidates exactly like
    run_resumable (gold, mesh_type_col, scorer_backend,
    salt_partitions).

    Exactly-once OUTPUT: foreachBatch is an at-least-once contract (a
    crash between the sink write and the checkpoint commit replays the
    batch), so the write is made idempotent — each batch overwrites only
    its own ``batch_id=`` partition (dynamic partition overwrite); a
    replay rewrites identical rows instead of appending duplicates.

    ``dedup_watermark``: when set (e.g. "24 hours"), re-crawled/mirrored
    pages whose text fingerprint was already seen inside the horizon are
    dropped BEFORE extraction — streaming dedup must sit on the stream
    itself (state store), not inside foreachBatch where each batch is an
    isolated batch frame.
    """
    from ..plans.pipeline import score_candidates
    from .windows import stream_dedup

    stream = spark.readStream.schema(schema).parquet(input_dir)
    if dedup_watermark:
        stream = stream_dedup(stream, watermark=dedup_watermark)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the mesh artifacts (gazetteer plan and dict collect) are an
        # lru_cache keyed on the mesh_tree object, so a long-running
        # stream pays them once, not once per trigger; score_candidates
        # persists nothing, so no micro-batch leaves a cache behind
        scored = score_candidates(batch_df, mesh_tree, **pipeline_kwargs)
        (
            scored.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
