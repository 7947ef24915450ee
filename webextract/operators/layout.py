"""Layout-region typing: every DOM block classified into a region type.

The PP-Structure layout-analysis analog: the reference's structure
system emits ``{bbox, label}`` region dicts per page
(ppstructure/predict_system.py:111-117, labels like text/title/list/
table from the layout model). Here the "layout model" is the
deterministic DOM evidence the tokenizer already produces — tag, link
density, boilerplate status — so typing is a codegen CASE over block
facts, not a second Python pass.

Scale shape: ONE ``mapInArrow`` crossing per Arrow batch, run by
:func:`webextract.operators.extract.map_page_rows` — extraction's own
page prologue and partition loop, so the block facts come from the
same decoded text as the extraction spans (the HTML parse is the one
unavoidable Python stage, SURVEY.md §2.10); everything downstream of
the block facts (region CASE, rollups) is JVM built-ins inside
whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.scorer import score_blocks
from webextract.functions.tokenizer import tokenize_blocks
from webextract.operators.extract import map_page_rows

# raw per-block facts emitted by the UDF (region typing happens JVM-side)
BLOCK_FACTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("text_len", T.IntegerType(), False),
        T.StructField("link_text_len", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), False),
        T.StructField("is_boiler", T.BooleanType(), False),
        T.StructField("is_pre", T.BooleanType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("is_kept", T.BooleanType(), False),
    ]
)

# the facts copied from the tokenizer's block table; score and is_kept
# come from the scorer
_TOKENIZER_COLS = BLOCK_FACTS_SCHEMA.fieldNames()[1:-2]
_HEADINGS = ("h1", "h2", "h3", "h4", "h5", "h6")
_TABLE_TAGS = ("table", "tr", "td", "th", "caption")


def block_facts(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) → one row per DOM block with the
    tokenizer/scorer facts (ALL blocks, boilerplate included — unlike
    the extraction spans, which carry only kept content blocks).

    Runs on :func:`map_page_rows`, so the decode front-end is
    extraction's :func:`page_text`; tokenize → score then matches
    :func:`webextract.functions.extract.extract_page`, and block ids,
    tags and keep decisions agree exactly with extraction.
    """

    def rows(html_text: str) -> Iterable[tuple]:
        blocks = tokenize_blocks(html_text)
        scores, keep = score_blocks(blocks, cfg)
        return zip(
            *(blocks[c] for c in _TOKENIZER_COLS), scores.tolist(), keep.tolist()
        )

    return map_page_rows(pages, BLOCK_FACTS_SCHEMA, rows, cfg)


def region_type_col(
    tag: Column, is_boiler: Column, is_pre: Column
) -> Column:
    """The region classifier — a pure codegen CASE (the layout-label
    head, ppstructure's text/title/list/table vocabulary mapped onto
    DOM evidence). Visual class wins over content-ness (a footer
    heading is still a heading — ``is_boiler`` stays available as its
    own column); the generic-text fallback splits content paragraphs
    from link-farm boilerplate."""
    t = F.lower(tag)
    return (
        F.when(t.isin(*_TABLE_TAGS), F.lit("table"))
        .when(t == "nav", F.lit("nav"))
        .when(t.isin(*_HEADINGS), F.lit("heading"))
        .when(t == "li", F.lit("list_item"))
        .when(is_pre | (t == "pre"), F.lit("code"))
        .when(is_boiler, F.lit("boilerplate"))
        .otherwise(F.lit("paragraph"))
    )


def layout_regions(
    pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The layout view: (url, block_id, tag, region_type, is_boiler,
    is_kept) for every DOM block — the per-page region list the
    reference returns from structure analysis, as a relational table.
    """
    facts = block_facts(pages, cfg)
    return facts.select(
        "url",
        "block_id",
        "tag",
        region_type_col(
            F.col("tag"), F.col("is_boiler"), F.col("is_pre")
        ).alias("region_type"),
        "is_boiler",
        "is_kept",
    )


def layout_summary(regions: DataFrame) -> DataFrame:
    """Corpus rollup per region type: block counts and kept share.
    Plain partial+final aggregation — one shuffle on region_type."""
    return regions.groupBy("region_type").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("is_kept").cast("bigint")).alias("n_kept"),
        F.count_distinct("url").alias("n_pages"),
    )
