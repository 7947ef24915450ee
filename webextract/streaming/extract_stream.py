"""Structured Streaming reading of the extraction pipeline.

All extraction stages are stateless per-row transforms (SURVEY.md
§2.9), so the SAME operator (``extract_pages``) runs unchanged under
``readStream``: file-source micro-batches stand in for a crawl-feed
(the streaming analog of the reference's serving DAG,
deploy/pdserving/web_service.py:30-120, which re-batches requests
through the same det/rec ops used in batch).

``trigger(availableNow=True)`` drains whatever input exists and stops —
the batch-parity mode; a live deployment flips to a processing-time
trigger with no other change. Spark's own checkpointLocation gives
exactly-once file-sink semantics, complementing the coarse-grained
bucket manifest in ``webextract.plans``.

Event-time ops: the pages stream carries ``warc_ts``; late-data
windowed rollups (pages/hour per host) use a watermark — demonstrated
in :func:`streaming_hourly_hosts`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.operators.extract import extract_pages

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Parquet-file stream of pages (schema fixed by the input_hint —
    streaming sources require an explicit schema)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def _drain_to_parquet(
    stream: DataFrame, output_dir: str, checkpoint_dir: str
) -> None:
    """The one parquet drain of every streaming runner: availableNow
    into ``output_dir`` with exactly-once checkpointing; blocks until
    the available input is processed."""
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain_to_memory(stream: DataFrame, name: str) -> DataFrame:
    """The one memory-sink drain of the streaming sketch builders:
    availableNow with ``complete`` output into the in-memory table
    ``name``, returned as a batch DataFrame."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(name)


def run_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> None:
    """Drain ``input_dir`` through extraction into ``output_dir`` with
    exactly-once checkpointing; blocks until the available data is
    processed (availableNow)."""
    ext = extract_pages(read_pages_stream(spark, input_dir), cfg)
    _drain_to_parquet(ext, output_dir, checkpoint_dir)


def run_tables_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> None:
    """Table-structure recovery on a page stream: the same
    ``table_cells`` operator (stateless per-row fan-out) under
    availableNow with exactly-once checkpointing."""
    from webextract.operators.tables import table_cells

    cells = table_cells(read_pages_stream(spark, input_dir), cfg)
    _drain_to_parquet(cells, output_dir, checkpoint_dir)


def streaming_hourly_hosts(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time rollup on the page stream: pages/hour per host with a
    late-data watermark (the windowed-agg face of the engine; runs on a
    streaming OR batch DataFrame)."""
    host = F.regexp_extract("url", "^https://([^/]+)/", 1)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), host.alias("host"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select("w.start", "w.end", "host", "n_pages", "bytes_in")
    )
