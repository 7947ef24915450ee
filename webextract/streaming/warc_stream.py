"""Streaming WARC ingestion: crawl files land in a directory, each
micro-batch parses the new ones and runs extraction — the live-crawl
face of the WARC source (sources/warc.py).

This is the shape of a real continuous-ingest deployment: the crawler
(or a Common-Crawl mirror sync) drops ``.warc.gz`` files; Spark's file
streaming source tracks which files each micro-batch has consumed in
the checkpoint, so a crash mid-drain re-processes only unfinished
files and the parquet sink stays exactly-once. One WARC file = one
input row (``binaryFile``), so per-batch parallelism is the new-file
count — no shuffle before the parse, identical to the batch path.

``trigger(availableNow=True)`` drains what exists and stops (the
batch-parity mode used by the tests); a live deployment flips to a
processing-time trigger with no other change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.operators.extract import extract_pages
from webextract.sources.warc import parse_warc
from webextract.streaming.extract_stream import _drain_to_parquet

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming (url, warc_ts, html) pages from a directory of WARC
    files. The parser is the SAME ``parse_warc`` used in batch — one
    Arrow crossing per file payload, stateless, so it runs unchanged
    under readStream."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )
    parsed = parse_warc(files, payload_col="content")
    return parsed.select(
        "url", F.timestamp_seconds(F.col("ts_s")).alias("warc_ts"), "html"
    )


def run_warc_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> None:
    """Drain a WARC directory through parse → extract into parquet with
    exactly-once checkpointing; blocks until available data is done."""
    ext = extract_pages(read_warc_stream(spark, input_dir), cfg)
    _drain_to_parquet(ext, output_dir, checkpoint_dir)
