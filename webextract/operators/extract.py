"""Spark extraction operator: pages DataFrame → extracted DataFrame.

The Spark trace of ``PaddleOCR().ocr(img)`` (SURVEY.md §3.1): scan →
ONE ``mapInArrow`` stage running the fused tokenize→score→merge per
Arrow batch → write. Design points (SURVEY.md §4):

 * one JVM↔Python crossing per Arrow batch (vs the reference's two
   native-runtime crossings per image, predict_det.py:242-247 and
   predict_rec.py:599-618);
 * Catalyst column pruning: we select exactly ``(url, html)`` (+
   passthrough cols) before the UDF so the parquet scan reads only
   those (the KeepKeys analog, ppocr/data/imaug/operators.py:126-134);
 * salted repartition on ``xxhash64(url, salt)`` replaces the
   reference's static modulo sharding
   (predict_system.py:149,259-270) and defuses host-domain skew;
 * per-partition lineage rows (the ``time_dict`` analog,
   predict_system.py:68-119) are emitted from the same UDF as extra
   rows with a discriminator column and split afterwards — no second
   pass over the html;
 * the partition loop is shared: :func:`_page_batches` runs every
   Python stage's Arrow batches. Extraction builds its own Arrow
   arrays; every other stage (layout, tables, KIE, the PDF operators,
   the SKV and WARC parsers) returns plain row tuples
   through :func:`map_rows`, and the html ones take
   :func:`webextract.functions.extract.page_text` as their prologue
   via :func:`map_page_rows`.
"""

from __future__ import annotations

import gc
import sys
import time
import zipimport
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.extract import ExtractedPages, extract_batch, page_text

SPAN_TYPE = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("mean_score", T.DoubleType(), True),
        T.StructField("blocks_total", T.IntegerType(), True),
        T.StructField("blocks_kept", T.IntegerType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("truncated", T.BooleanType(), True),
    ]
)

# unified schema when lineage rows ride along (rec_type discriminator)
UNIFIED_SCHEMA = T.StructType(
    [T.StructField("rec_type", T.StringType(), False)]
    + EXTRACTED_SCHEMA.fields
    + [
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("urls_in", T.LongType(), True),
        T.StructField("lineage_bytes_in", T.LongType(), True),
        T.StructField("lineage_blocks_kept", T.LongType(), True),
        T.StructField("reference_pages", T.LongType(), True),
        T.StructField("extract_ms", T.DoubleType(), True),
    ]
)

# Arrow twins of the Spark schemas, derived once: the mapInArrow path
# builds arrays directly (no pandas object columns, which halves the
# per-batch ser-de cost vs mapInPandas)
_EXTRACTED_PA = to_arrow_schema(EXTRACTED_SCHEMA)
_UNIFIED_PA = to_arrow_schema(UNIFIED_SCHEMA)
_SPANS_PA = _EXTRACTED_PA.field("spans").type
_LINEAGE_PA = list(_UNIFIED_PA)[1 + len(_EXTRACTED_PA):]


def _spans_array(offsets: list[int], columns: tuple) -> pa.ListArray:
    """spans as a ListArray over the batch's flat span columns (block_id,
    start, end, tag, score) and page offsets — no per-span Python
    object (the hot-path shape: a 2M-page batch job builds millions of
    spans)."""
    fields = list(_SPANS_PA.value_type)
    struct = pa.StructArray.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, fields)],
        fields=fields,
    )
    return pa.ListArray.from_arrays(offsets, struct, type=_SPANS_PA)


def _extract(rb: pa.RecordBatch, cfg: ExtractConfig) -> ExtractedPages:
    """One Arrow batch of (url, html) → :func:`extract_batch`' result.
    The html column is read one page at a time, and the whole batch is
    scored and merged in one pass."""
    html = rb.column(1)
    return extract_batch((html[i].as_py() for i in range(rb.num_rows)), cfg)


def _extracted_record_batch(rb: pa.RecordBatch, batch: ExtractedPages) -> pa.RecordBatch:
    """The extracted Arrow batch of ``rb``'s urls and their ``batch``."""
    m = batch.merged
    t = _EXTRACTED_PA.types  # EXTRACTED_SCHEMA order
    return pa.RecordBatch.from_arrays(
        [
            rb.column(0),
            pa.array(m.text, type=t[1]),
            _spans_array(m.span_offsets, m.span_columns),
            pa.array(m.mean_score, type=t[3]),
            pa.array(batch.blocks_total, type=t[4]),
            pa.array(m.blocks_kept, type=t[5]),
            pa.array(batch.bytes_in, type=t[6]),
            pa.array(batch.truncated, type=t[7]),
        ],
        schema=_EXTRACTED_PA,
    )


def _extract_record_batch(rb: pa.RecordBatch, cfg: ExtractConfig) -> pa.RecordBatch:
    """One Arrow batch of (url, html) → extracted batch."""
    return _extracted_record_batch(rb, _extract(rb, cfg))


def _drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    Why: before each task a PySpark worker calls
    ``importlib.invalidate_caches()`` (``setup_spark_files`` in
    ``pyspark/worker_util.py``), and on CPython 3.11 every cached
    ``zipimporter`` answers that by re-parsing its archive's whole
    central directory. A warm worker caches 16 of them (12 on
    ``pyspark.zip``, 2 on the 5,359-entry spark-core jar, 2 on py4j),
    about 0.2 s of fixed cost per Python task on a 4-core x86 host,
    more than the extraction itself on small partitions. With the entries
    gone the next task's invalidation walks no zip finder; an import
    through a dropped path builds a fresh finder from
    ``zipimport._zip_directory_cache`` without reading the archive.

    Given up: an archive already on ``sys.path`` that is rewritten in
    place mid-session keeps its old directory listing. Spark never does
    that to ``pyspark.zip``, its jars or ``addPyFile`` archives, which
    arrive under new paths.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def _page_batches(
    batches: Iterator[pa.RecordBatch],
    build: Callable[[pa.RecordBatch], pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """The one partition loop of every Python stage: input Arrow
    batches → ``build(rb)``, skipping empty input batches. Runs once per
    task partition, so it also drops the worker's zip finders
    (:func:`_drop_zip_finders`) and freezes the warm heap.

    Why the freeze: a reused PySpark worker runs ``gc.collect()`` after
    every task (the worker loop of ``pyspark/daemon.py``). A warm
    extraction worker tracks ~74k objects (modules, pyarrow, numpy,
    compiled grammars), and a full collection that visits them all
    costs 21–79 ms per task on a 4-core x86 host, most of the gap
    between one task's end and the next task's start. ``gc.freeze()``
    moves every object tracked now to the permanent generation, so that
    collection visits only what the task creates (≤ 0.1 ms).

    Why it is safe: a frozen object is still freed when its last
    reference goes; only a reference cycle frozen while unreachable is
    never collected. The cycles one task leaves behind are collected by
    the daemon's ``gc.collect()`` before the next task starts and
    freezes, so the frozen count stays flat across tasks.
    """
    _drop_zip_finders()
    gc.freeze()
    for rb in batches:
        if rb.num_rows:
            yield build(rb)


def map_rows(
    df: DataFrame,
    cols: list[str],
    schema: T.StructType | str,
    rows: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """df(cols) → ``schema`` rows in ONE ``mapInArrow`` crossing, the
    partition loop of every Python stage. ``rows(*values)`` gets one
    input row's ``cols`` values as Python objects and returns zero or
    more output tuples in ``schema`` field order; the fan-out happens
    inside the batch (no explode, no shuffle). ``schema`` is a
    ``StructType`` or a DDL string; the Arrow schema is derived from it."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    pa_schema = to_arrow_schema(schema)

    def build(rb: pa.RecordBatch) -> pa.RecordBatch:
        out = [
            row
            for values in zip(*(c.to_pylist() for c in rb.columns))
            for row in rows(*values)
        ]
        columns = list(zip(*out)) or [()] * len(pa_schema)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, pa_schema)],
            schema=pa_schema,
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _page_batches(batches, build)

    return df.select(*cols).mapInArrow(run, schema)


def map_page_rows(
    pages: DataFrame,
    schema: T.StructType,
    page_rows: Callable[[str], Iterable[tuple]],
    cfg: ExtractConfig,
) -> DataFrame:
    """pages(url, html, ...) → ``schema`` rows through :func:`map_rows`.
    Each page's html goes through :func:`page_text`, the prologue
    extraction uses, and ``page_rows(html_text)`` returns that page's
    rows; each is emitted as ``(url, *row)``, so field 0 of ``schema``
    is the url."""

    def rows(url: str, raw: bytes) -> Iterator[tuple]:
        return ((url, *row) for row in page_rows(page_text(raw, cfg)[0]))

    return map_rows(pages, ["url", "html"], schema, rows)


def extract_pages(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    sort_by_size: bool = False,
) -> DataFrame:
    """pages(url, html, ...) → extracted(url, text, spans, ...).

    Pure results path (no lineage rows); ``select`` first so Catalyst
    prunes the scan to (url, html). Runs as ``mapInArrow`` — the UDF
    consumes/produces Arrow record batches directly (no pandas
    conversion on either side of the worker boundary).

    ``sort_by_size=True`` sorts within partitions by html length so
    Arrow batches are cost-homogeneous — the analog of the reference's
    aspect-ratio sort before recognition batching
    (tools/infer/predict_rec.py:385-398): no shuffle, cheap, and evens
    out batch latency when page sizes are heavy-tailed.
    """
    src = pages.select("url", "html")
    if sort_by_size:
        src = src.sortWithinPartitions(F.length("html"))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _page_batches(batches, lambda rb: _extract_record_batch(rb, cfg))

    return src.mapInArrow(run, EXTRACTED_SCHEMA)


def to_json_lines(extracted: DataFrame) -> DataFrame:
    """(url, json) result lines — the reference's results-sink format
    ``name \\t json(boxes, transcriptions)`` (predict_system.py:204-215,
    250-254) as a DataFrame: write with ``.write.text`` or csv after
    concat. JVM-side ``to_json`` over the nested struct."""
    payload = F.to_json(
        F.struct("text", "spans", "mean_score", "blocks_kept")
    )
    return extracted.select("url", payload.alias("result_json"))


def extract_pages_with_lineage(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Same, plus one lineage row per non-empty task partition, emitted
    inline with ``rec_type='lineage'``. Split afterwards with
    :func:`split_lineage` (persist the unified frame first if both
    halves are consumed). Page rows come from the same batch loop as
    :func:`extract_pages`, with ``rec_type='page'`` and null lineage
    columns. A lineage row counts its partition's pages, html bytes,
    kept blocks and the pages the reference tokenizer read
    (``reference_pages``: the fast scanner bailed on them)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        t0 = time.perf_counter()
        urls_in = 0
        bytes_in = 0
        blocks_kept = 0
        reference_pages = 0

        def build(rb: pa.RecordBatch) -> pa.RecordBatch:
            nonlocal reference_pages
            batch = _extract(rb, cfg)
            reference_pages += batch.reference_pages
            return _extracted_record_batch(rb, batch)

        for out in _page_batches(batches, build):
            n = out.num_rows
            urls_in += n
            bytes_in += int(pc.sum(out.column("bytes_in")).as_py() or 0)
            blocks_kept += int(pc.sum(out.column("blocks_kept")).as_py() or 0)
            yield pa.RecordBatch.from_arrays(
                [pa.repeat("page", n), *out.columns]
                + [pa.nulls(n, type=f.type) for f in _LINEAGE_PA],
                schema=_UNIFIED_PA,
            )
        if urls_in:
            lineage = {
                "rec_type": "lineage",
                "partition_id": pid,
                "urls_in": urls_in,
                "lineage_bytes_in": bytes_in,
                "lineage_blocks_kept": blocks_kept,
                "reference_pages": reference_pages,
                "extract_ms": (time.perf_counter() - t0) * 1000.0,
            }
            yield pa.RecordBatch.from_pylist([lineage], schema=_UNIFIED_PA)

    return pages.select("url", "html").mapInArrow(run, UNIFIED_SCHEMA)


def split_lineage(unified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """unified → (extracted, lineage) DataFrames."""
    extracted = unified.filter(F.col("rec_type") == "page").select(
        *[f.name for f in EXTRACTED_SCHEMA.fields]
    )
    lineage = unified.filter(F.col("rec_type") == "lineage").select(
        F.col("partition_id"),
        F.col("urls_in"),
        F.col("lineage_bytes_in").alias("bytes_in"),
        F.col("lineage_blocks_kept").alias("blocks_kept"),
        F.col("reference_pages"),
        F.col("extract_ms"),
    )
    return extracted, lineage


def salted_repartition(
    df: DataFrame, num_partitions: int, key: str = "url", salt: int = 0
) -> DataFrame:
    """Repartition on ``xxhash64(key, salt)`` — uniform url-hash spread
    regardless of host-domain skew (replaces the reference's
    ``files[process_id::total]`` striping, predict_system.py:149)."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key), F.lit(salt)))
