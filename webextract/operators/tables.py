"""Spark table-structure recovery operator: pages → cell grid rows.

The distributed form of the reference's table pipeline
(ppstructure/table/predict_table.py:82-106 + matcher.py:99-138): one
``mapInArrow`` stage parses each page's DOM tables and fans out one row
per cell. It runs on :func:`webextract.operators.extract.map_page_rows`,
so the plan shape, page prologue and partition loop are extraction's:
scan pruned to (url, html), one JVM↔Python crossing per Arrow batch,
columnar pyarrow construction (no pandas objects). Fan-out happens
INSIDE the UDF (a page yields 0..N cell rows in the same batch), so no
separate explode shuffle exists — at 100 TB the stage parallelism is
the page partitioning, which the caller controls via
``salted_repartition``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.tables import parse_tables
from webextract.operators.extract import map_page_rows

TABLE_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("row_id", T.IntegerType(), False),
        T.StructField("col_id", T.IntegerType(), False),
        T.StructField("cell_text", T.StringType(), False),
        T.StructField("is_header", T.BooleanType(), False),
        T.StructField("colspan", T.IntegerType(), False),
        T.StructField("rowspan", T.IntegerType(), False),
    ]
)

_CELL_COLS = TABLE_CELLS_SCHEMA.fieldNames()[1:]


def _cell_rows(html_text: str) -> Iterable[tuple]:
    cells = parse_tables(html_text)
    return zip(*(cells[c] for c in _CELL_COLS))


def table_cells(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """pages(url, html, ...) → cells(url, table_id, row_id, col_id,
    cell_text, is_header, colspan, rowspan), one row per table cell in
    document order. Pages without tables contribute no rows."""
    return map_page_rows(pages, TABLE_CELLS_SCHEMA, _cell_rows, cfg)
