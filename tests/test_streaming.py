"""Structured Streaming variant: availableNow over a parquet landing dir,
exactly-once via Spark checkpointing (SURVEY §2.10)."""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from relation_extraction_cdr_spark import datagen
from relation_extraction_cdr_spark.streaming.incremental import stream_pages


def test_stream_available_now(spark, mesh, tmp_path):
    pages, _, _ = datagen.gen_fixture_dfs(spark, 20)
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    pages.write.mode("overwrite").parquet(in_dir)

    q = stream_pages(
        spark, in_dir, mesh, out_dir, cp_dir,
        schema=datagen.PAGES_SCHEMA, trigger_once=True,
    )
    q.awaitTermination(120)
    scored = spark.read.parquet(out_dir)
    n1 = scored.count()
    assert n1 > 0
    assert "batch_id" in scored.columns

    # restart with no new files: exactly-once — nothing reprocessed
    q2 = stream_pages(
        spark, in_dir, mesh, out_dir, cp_dir,
        schema=datagen.PAGES_SCHEMA, trigger_once=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1


def test_windowed_counts_with_watermark(spark, tmp_path):
    """Watermarked tumbling windows over a file stream of the events
    table: append mode emits each finalized window exactly once, and the
    result matches the batch groupBy on the same data."""
    from relation_extraction_cdr_spark.streaming.windows import windowed_event_counts

    src = "/root/testdata/sf0.001/events.parquet"
    batch = spark.read.parquet(src)
    in_dir = str(tmp_path / "ev_in"); out_dir = str(tmp_path / "ev_out")
    cp = str(tmp_path / "ev_cp")
    batch.write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(batch.schema).parquet(in_dir)
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    expect = (
        batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # append mode withholds windows newer than (max ts - watermark):
    # every emitted row must match batch truth, and all windows older
    # than the watermark cutoff must have been emitted
    exp = {
        (r["win"]["start"], r["event_type"]): r["n"] for r in expect.collect()
    }
    got_rows = got.collect()
    assert got_rows, "no finalized windows emitted"
    for r in got_rows:
        assert exp[(r["win_start"], r["event_type"])] == r["n"]
    import datetime
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=3)  # window len + watermark
    missing = [k for k in exp if k[0] < cutoff]
    emitted = {(r["win_start"], r["event_type"]) for r in got_rows}
    assert all(k in emitted for k in missing)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: a re-crawl of every page (same text, new
    url/ts) is dropped inside the watermark horizon; one row per
    distinct fingerprint survives, matching the batch distinct count."""
    from relation_extraction_cdr_spark.streaming.windows import stream_dedup

    pages, _, _ = datagen.gen_fixture_dfs(spark, 15)
    recrawl = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    feed = pages.unionByName(recrawl)
    in_dir = str(tmp_path / "dd_in"); out_dir = str(tmp_path / "dd_out")
    cp = str(tmp_path / "dd_cp")
    feed.write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(feed.schema).parquet(in_dir)
    q = (
        stream_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    n_distinct = (
        feed.select(
            F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
        ).distinct().count()
    )
    assert got.count() == n_distinct
    # batch mode agrees on the number of survivors
    assert stream_dedup(feed).count() == n_distinct


def test_stream_pages_with_dedup(spark, mesh, tmp_path):
    """Composed streaming feed: dedup-on-ingest drops the mirrored
    re-crawl before extraction, so scored output covers each distinct
    page exactly once."""
    from relation_extraction_cdr_spark.streaming.incremental import stream_pages

    pages, _, _ = datagen.gen_fixture_dfs(spark, 12)
    recrawl = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    feed = pages.unionByName(recrawl)
    in_dir = str(tmp_path / "in"); out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    feed.write.mode("overwrite").parquet(in_dir)

    q = stream_pages(
        spark, in_dir, mesh, out_dir, cp,
        schema=datagen.PAGES_SCHEMA, trigger_once=True,
        dedup_watermark="24 hours",
    )
    q.awaitTermination(120)
    scored = spark.read.parquet(out_dir)
    # one survivor per distinct text: no url appears in both original and
    # mirrored form
    urls = {r["url"].split("?")[0] for r in scored.select("url").distinct().collect()}
    n_scored_pages = scored.select("url").distinct().count()
    assert n_scored_pages == len(urls)


def test_stream_pages_heavy_exchange_matches_unsalted(spark, mesh, tmp_path, monkeypatch):
    """Inside foreachBatch the heavy-text probe re-executes the
    micro-batch, stateful dedup included: with a threshold and a task
    size that give the heavy exchange k > 0 partitions, the salted
    stream scores exactly the rows of the unsalted one."""
    from relation_extraction_cdr_spark.plans import pipeline

    pages, _, _ = datagen.gen_fixture_dfs(spark, 12)
    recrawl = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    in_dir = str(tmp_path / "in")
    pages.unionByName(recrawl).write.mode("overwrite").parquet(in_dir)
    monkeypatch.setattr(pipeline, "HEAVY_DOC_CHARS", 175)
    monkeypatch.setattr(pipeline, "CHARS_PER_TASK", 1)
    n_heavy = pipeline.extracted_docs(pages).where(F.length("text") > 175).count()
    assert 0 < n_heavy < pages.count()
    sizes = []
    probe = pipeline.heavy_partitions

    def spy(docs, salt_partitions):
        sizes.append(probe(docs, salt_partitions))
        return sizes[-1]

    monkeypatch.setattr(pipeline, "heavy_partitions", spy)

    def scored(name, **kw):
        out = str(tmp_path / name)
        stream_pages(
            spark, in_dir, mesh, out, str(tmp_path / f"cp_{name}"),
            schema=datagen.PAGES_SCHEMA, trigger_once=True,
            dedup_watermark="24 hours", **kw,
        ).awaitTermination(120)
        return sorted(spark.read.parquet(out).drop("batch_id").collect())

    plain = scored("plain")
    assert plain and not sizes
    assert scored("salted", salt_partitions=4) == plain
    # the first micro-batch carries every page; the no-data batch that
    # advances the dedup watermark probes an empty frame
    assert sizes[0] == 4 and not any(sizes[1:])


def test_stream_dedup_html_only_pages_not_collapsed(spark):
    """Pages whose content lives only in html (text NULL) must NOT all
    collapse onto one NULL fingerprint: the dedup key is the EXTRACTED
    content.  (Batch frame drives the identical expression the
    streaming state store keys on.)"""
    from relation_extraction_cdr_spark.streaming.windows import stream_dedup

    rows = [
        (1, "2024-01-01 00:00:00", None, "<p>alpha content</p>"),
        (2, "2024-01-01 00:01:00", None, "<p>beta content</p>"),
        (3, "2024-01-01 00:02:00", None, "<p>alpha content</p>"),  # dup of 1
        (4, "2024-01-01 00:03:00", "plain text page", None),
    ]
    pages = spark.createDataFrame(
        rows, "url long, warc_ts string, text string, html string"
    ).withColumn("warc_ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("warc_ts").cast("timestamp"))
    kept = {r["url"] for r in stream_dedup(pages).collect()}
    assert 1 in kept or 3 in kept
    assert 2 in kept and 4 in kept
    assert len(kept) == 3  # only the true duplicate collapsed
