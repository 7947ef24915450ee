"""Streaming exact dedup: first-seen-wins over a page stream.

The streaming face of ``dedup.exact_dedup`` — a crawl feed re-fetches
urls and mirrors serve identical bytes, so the ingest stream needs
content dedup BEFORE anything downstream pays for extraction. Spark's
``dropDuplicates`` on a streaming DataFrame keeps per-key state across
micro-batches (first arrival wins, exactly the keep-first semantics of
``dedup.dedup_keep_first``); the watermark variant bounds that state
for an unbounded feed.

State sizing at 10^12 docs: the dedup key is ``md5(text)`` (fixed
32-char), NOT the text — state stores keys only. Unbounded retention
(``streaming_dedup``) suits bounded drains (availableNow backfills);
live feeds use ``streaming_dedup_watermarked`` where re-fetch dups
arrive within the watermark horizon and state older than it is evicted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_dedup(pages: DataFrame) -> DataFrame:
    """First-seen-wins exact dedup on content hash (unbounded state;
    use for bounded availableNow drains). On a STREAM, state makes the
    first-arriving row the survivor. On a BATCH frame the surviving
    KEY SET is identical but which row survives per key is
    partition-order-arbitrary — for a deterministic batch keeper use
    ``dedup.dedup_keep_first`` instead (the parity test compares key
    sets and counts, not keeper identity)."""
    return pages.withColumn("content_h", F.md5(F.col("text"))).dropDuplicates(
        ["content_h"]
    )


def streaming_dedup_watermarked(
    pages: DataFrame, watermark: str = "24 hours"
) -> DataFrame:
    """Live-feed variant: dedup state evicted past the event-time
    watermark (re-fetches and mirror copies land within hours; a dup
    arriving later than the horizon is the rare false negative this
    trades for bounded state)."""
    return (
        pages.withColumn("content_h", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_h"])
    )


def run_dedup_stream(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """Drain a pages directory through streaming dedup into parquet
    with exactly-once checkpointing (availableNow)."""
    from webextract.streaming.extract_stream import (
        _drain_to_parquet,
        read_pages_stream,
    )

    deduped = streaming_dedup(read_pages_stream(spark, input_dir))
    _drain_to_parquet(deduped, output_dir, checkpoint_dir)
