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

A pending bucket starts exactly one Spark job, its scoring write, and
the run one more: a single ``groupBy("bucket")`` job gives every pending
bucket its ``url_count`` and, with ``salt_partitions``, its heavy text
(``pipeline.heavy_chars``), so a bucket whose heavy text cannot pay for
one salt task runs no probe.  ``row_count`` comes from an
``Observation`` on the scoring write; the driver encodes the lineage row
with pyarrow and writes it through the checkpoint URI's Hadoop
FileSystem (hidden temp file, then rename), so bookkeeping starts no
job and no Python task; the read-back declares SCORED_SCHEMA, so no
footer is inferred.

Two buckets are in flight (``IN_FLIGHT``): the calling thread plans
bucket b+1 and submits its scoring write to a thread pool before it
waits for bucket b's write and commits b's lineage row, so b+1's driver
set-up and first tasks overlap b's straggler tail and commit.  Lineage
rows are still committed one at a time, in bucket order, each only
after its own write returned; the first failure stops every later
commit and is re-raised once the in-flight write has finished.  Under
the session's default FIFO scheduling all of bucket b's tasks launch
before b+1's, so a kill loses at most one bucket's work more than a
one-at-a-time run, and a deeper queue would only queue tasks behind the
same cores.  On a real cluster each bucket is itself a distributed job
over many executors.

A Structured Streaming variant (`stream_pages`) expresses the same plan
over readStream+foreachBatch for continuously arriving pages with
idempotent per-batch partition overwrites.
"""

from __future__ import annotations

import os
import uuid
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.text import extract_text
from ..scoring.scorer import SCORED_SCHEMA

CHECKPOINT_SCHEMA = (
    "run_id string, stage string, partition_id int, url_count long, "
    "row_count long, written_at timestamp"
)

# scoring writes in flight at once (see the module docstring)
IN_FLIGHT = 2


def bucketed(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def _filesystem(spark: SparkSession, uri: str):
    """(Hadoop FileSystem, Path) of ``uri`` under the session's Hadoop
    configuration."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), path


def _append_lineage(spark: SparkSession, checkpoint_dir: str, row: dict) -> None:
    """Commit one CHECKPOINT_SCHEMA row as its own parquet file, written
    by the driver with no Spark job: the row is encoded with pyarrow,
    written to a hidden ``.<name>.tmp`` (readers skip dot files) and
    renamed to ``part-<uuid>.parquet``, so a torn write never shows as a
    committed bucket.  This suits the path-based parquet checkpoint; a
    catalog (Iceberg) checkpoint table would need its own commit."""
    schema = to_arrow_schema(StructType.fromDDL(CHECKPOINT_SCHEMA))
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=schema), buf)
    fs, path = _filesystem(spark, checkpoint_dir)
    name = f"part-{uuid.uuid4()}.parquet"
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    tmp = hpath(path, f".{name}.tmp")
    out = fs.create(tmp)
    try:
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        if not fs.rename(tmp, hpath(path, name)):
            raise OSError(f"lineage commit failed: rename of {tmp} to {name}")
    except BaseException:
        fs.delete(tmp, False)  # a failed commit leaves no file behind
        raise


def _write_observed(scored: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``scored`` as parquet; returns the written
    row count from an ``Observation``, read after the commit (it counts
    the committed result stage, so task retries do not inflate it)."""
    rows = Observation()
    scored.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return rows.get["n"]


def completed_buckets(spark: SparkSession, checkpoint_dir: str, run_id: str, stage: str) -> set[int]:
    """Bucket ids with committed lineage rows.  The not-yet-created case
    is detected with the Hadoop FileSystem of the checkpoint URI, NOT
    os.path.exists — the lineage URI is usually remote (hdfs://, s3a://)
    where a driver-local stat is always False and would silently disable
    resume on a cluster.  (Catching the read's AnalysisException instead
    makes Spark log a listener stack trace once any Observation has run
    in the session.)  The read takes CHECKPOINT_SCHEMA, so an existing
    but empty directory yields no buckets and no footer is inferred."""
    fs, path = _filesystem(spark, checkpoint_dir)
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
    **pipeline_kwargs,
) -> DataFrame:
    """Process pages bucket-by-bucket with lineage; returns the scored
    pairs read back from ``out_dir`` with the declared SCORED_SCHEMA.

    Spark work: one ``groupBy("bucket")`` job per run over all pending
    buckets, then one scoring write per pending bucket.  The job gives
    each bucket its ``url_count`` (a bucket with no pages reads 0) and,
    when ``salt_partitions`` is set, its heavy text: a bucket whose heavy
    text cannot pay for one salt task (``pipeline.salt_tasks`` is 0) is
    scored unsalted, so only a bucket with at least CHARS_PER_TASK of
    heavy text runs the probe, and that bucket's text is extracted once
    more than with a url-only count.  A negative ``salt_partitions``
    raises before any job.

    The calling thread plans each bucket (``score_candidates``, with
    its probe) and submits the bucket's observed scoring write to a pool
    of ``IN_FLIGHT`` threads that inherit its job group and tags; with
    two buckets in flight it then waits for the older write and commits
    that bucket's lineage row (``_append_lineage``, written by the
    driver: no job, no Python task).  Rows are committed in bucket
    order, each after its own write returned.  The first error (a
    failed write, plan or commit) stops every later commit and is
    re-raised after the in-flight write has finished, so a rerun
    recomputes exactly the uncommitted buckets.
    """
    # imported at call time: instrumentation wraps score_candidates by
    # module attribute
    from ..plans.pipeline import (
        check_salt_partitions,
        heavy_chars,
        salt_tasks,
        score_candidates,
    )

    salt = pipeline_kwargs.get("salt_partitions")
    check_salt_partitions(salt)
    pages_b = bucketed(pages, n_buckets)
    done = completed_buckets(spark, checkpoint_dir, run_id, "score")
    pending = [b for b in range(n_buckets) if b not in done]
    aggs = [F.count(F.lit(1)).alias("urls")]
    if salt:
        text = extract_text(F.col("html"), F.col("text"))
        aggs.append(F.sum(heavy_chars(text)).alias("heavy"))
    stats = (
        {r["bucket"]: r.asDict() for r in pages_b.groupBy("bucket").agg(*aggs).collect()}
        if pending
        else {}
    )

    def commit(b, write) -> None:
        _append_lineage(spark, checkpoint_dir, {
            "run_id": run_id,
            "stage": "score",
            "partition_id": b,
            "url_count": stats.get(b, {}).get("urls", 0),
            "row_count": write.result(),
            "written_at": datetime.now().astimezone(),
        })

    # the wrapper copies the caller's job group and tags into the pool
    write_observed = inheritable_thread_target(spark)(_write_observed)
    in_flight: deque = deque()
    # leaving the block waits for every submitted write, so an error is
    # re-raised only after the in-flight write has finished
    with ThreadPoolExecutor(IN_FLIGHT) as pool:
        for b in pending:
            kwargs = pipeline_kwargs
            if salt and not salt_tasks(salt, stats.get(b, {}).get("heavy")):
                # the probe in score_candidates would build no exchange
                kwargs = {**pipeline_kwargs, "salt_partitions": None}
            part = pages_b.where(F.col("bucket") == b).drop("bucket")
            scored = score_candidates(part, mesh_tree, **kwargs)
            in_flight.append((b, pool.submit(
                write_observed, scored, os.path.join(out_dir, f"bucket={b}")
            )))
            if len(in_flight) == IN_FLIGHT:
                commit(*in_flight.popleft())
        while in_flight:
            commit(*in_flight.popleft())
    return spark.read.schema(SCORED_SCHEMA).parquet(os.path.join(out_dir, "bucket=*"))


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
