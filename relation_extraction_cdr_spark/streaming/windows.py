"""Structured Streaming operators: watermarked windowed aggregation
over the events stream (late data handling) and watermarked exact dedup
of a page feed.

The reference is pure batch (SURVEY §2.10); these are the engine's
stream-side obligations for a continuously-fed triple factory — the
tumbling counts per key a page ingest feed needs for rate metrics (the
batch session roll-up is q16_sessionize).

Scale note: the windowed count is a streaming hash aggregation: partial
aggregates live in the state store keyed by (window, event_type); the
watermark bounds state size — without it, state grows without limit at
10^12 scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with a watermark: rows later than
    ``watermark`` behind the max seen ts are dropped and their windows
    finalized (append mode emits each window exactly once)."""
    # watermarks require TIMESTAMP (tz-aware) event time; parquet NTZ
    # columns cast losslessly under the fixed UTC session timezone
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup(
    pages: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup for a crawl-ingest feed: drop re-crawled /
    mirrored pages whose normalized text fingerprint was already seen
    within the watermark horizon.

    Built on dropDuplicatesWithinWatermark keyed by the md5 fingerprint
    (same normalization as the batch exact_dedup operator, so batch and
    stream agree on what counts as a duplicate).  State design at
    10^12-doc scale: the store keeps ONE row per distinct fingerprint
    seen inside the watermark window and the watermark evicts older
    state — unbounded-corpus safe, unlike plain dropDuplicates whose
    state never ages out.  Works identically on a batch frame (the
    watermark is a no-op there), which is how the test oracles it.
    """
    from ..functions.text import extract_text, normalize_ws

    # fingerprint the EXTRACTED content: html-only pages (text NULL) are
    # legal input, and md5(NULL) rows all share one NULL key which
    # dropDuplicates treats as equal — every html-only page after the
    # first would silently vanish.  coalesce('') keeps truly-empty pages
    # collapsing together (they ARE duplicates of nothing).
    content = (
        extract_text(F.col("html"), F.col(text_col))
        if "html" in pages.columns
        else F.col(text_col)
    )
    norm = F.coalesce(normalize_ws(F.lower(content)), F.lit(""))
    fp = pages.withColumn("_fp", F.md5(norm)).withWatermark(ts_col, watermark)
    if pages.isStreaming:
        deduped = fp.dropDuplicatesWithinWatermark(["_fp"])
    else:
        deduped = fp.dropDuplicates(["_fp"])
    return deduped.drop("_fp")
