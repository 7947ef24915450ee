"""Layout-region typing (operators/layout.py) — the PP-Structure
layout-analysis analog: every DOM block gets a region label."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webextract.config import ExtractConfig
from webextract.operators.layout import (
    block_facts,
    layout_regions,
    layout_summary,
)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(url, html.encode()) for url, html in rows], ["url", "html"]
    )


def test_template_page_regions(spark):
    from webextract.sources.pages import _TPL_HEAD, _TPL_MID, _TPL_TAIL

    body = (
        "Some body text here that is long enough to be kept by the "
        "scorer with room to spare indeed."
    )
    html = _TPL_HEAD + "Document 7 from webgen" + _TPL_MID + body + _TPL_TAIL
    out = layout_regions(_pages(spark, [("u", html)])).orderBy("block_id")
    rows = [(r.block_id, r.tag, r.region_type, r.is_kept) for r in out.collect()]
    assert rows == [
        (0, "nav", "nav", False),
        (1, "h1", "heading", True),
        (2, "p", "paragraph", True),
        (3, "li", "list_item", False),
        (4, "li", "list_item", False),
        (5, "p", "boilerplate", False),
    ]


def test_table_pre_and_footer_heading(spark):
    html = (
        "<html><body>"
        "<table><tr><td>Quarterly revenue figures by region</td>"
        "<td>Second cell with longer prose about totals</td></tr></table>"
        "<pre>  x = 1\n  y = 2</pre>"
        "<footer><h3>About this site</h3></footer>"
        "</body></html>"
    )
    out = layout_regions(_pages(spark, [("u", html)]))
    by_tag = {(r.tag, r.region_type) for r in out.collect()}
    # table cells type as 'table', pre as 'code'; a footer heading is
    # still a heading (visual class wins; is_boiler carries content-ness)
    assert ("td", "table") in by_tag
    assert ("pre", "code") in by_tag
    assert ("h3", "heading") in by_tag
    h3 = out.filter(F.col("tag") == "h3").collect()[0]
    assert h3.is_boiler is True


def _template_page() -> str:
    from webextract.sources.pages import _TPL_HEAD, _TPL_MID, _TPL_TAIL

    body = (
        "A body paragraph with plenty of words so that the scorer "
        "keeps it comfortably above the drop threshold."
    )
    return _TPL_HEAD + "Doc 1 from x" + _TPL_MID + body + _TPL_TAIL


def _double_encoded_page() -> str:
    # utf-8 bytes read as latin-1: the garbled text is long enough to be
    # kept, the repaired 20 characters are not
    garbled = "résumé déjà fiancée.".encode("utf-8").decode("latin-1")
    return f"<html><body><div>{garbled}</div></body></html>"


def test_block_facts_agree_with_extraction(spark):
    """Keep decisions in the layout view match extraction's kept spans
    (same prologue → tokenize → score front-end), also when the
    prologue repairs mojibake."""
    from webextract.operators.extract import extract_pages

    for case, html, cfg in (
        ("template", _template_page(), ExtractConfig()),
        ("mojibake", _double_encoded_page(), ExtractConfig(fix_mojibake=True)),
    ):
        pages = _pages(spark, [("u", html)])
        kept_layout = {
            r.block_id
            for r in block_facts(pages, cfg).filter(F.col("is_kept")).collect()
        }
        kept_extract = {
            s.block_id
            for s in extract_pages(pages, cfg)
            .select(F.explode("spans").alias("s"))
            .select("s.block_id").collect()
        }
        assert kept_layout == kept_extract, case


def test_layout_summary_rollup(spark):
    from webextract.sources.pages import _TPL_HEAD, _TPL_MID, _TPL_TAIL

    body = "Enough prose to be kept by the scorer in this paragraph today."
    rows = [
        (f"u{i}", _TPL_HEAD + f"Doc {i} from x" + _TPL_MID + body + _TPL_TAIL)
        for i in range(3)
    ]
    summ = {
        r.region_type: (r.n_blocks, r.n_kept, r.n_pages)
        for r in layout_summary(layout_regions(_pages(spark, rows))).collect()
    }
    assert summ["list_item"] == (6, 0, 3)
    assert summ["heading"] == (3, 3, 3)
    assert summ["paragraph"] == (3, 3, 3)
    assert summ["nav"] == (3, 0, 3)


def test_empty_and_none_html(spark):
    df = spark.createDataFrame([("a", None), ("b", b"")], ["url", "html"])
    assert layout_regions(df).count() == 0


def test_heading_paths_skip_stale_branches(spark):
    # after <h1>A <h2>B <h1>C <h3>D, D's chain is C > D — the stale h2
    # branch B must NOT appear (a per-level window trick would include it)
    from webextract.operators.pagemeta import document_outline, heading_paths
    from pyspark.sql import functions as F

    html = b"<html><body><h1>A</h1><h2>B</h2><h1>C</h1><h3>D</h3></body></html>"
    pages = spark.createDataFrame([("u", bytearray(html))], "url string, html binary")
    got = {r.heading: r.path for r in heading_paths(document_outline(pages)).collect()}
    assert got == {"A": "A", "B": "A > B", "C": "C", "D": "C > D"}


def test_heading_paths_single_shuffle_no_python(spark):
    from webextract.operators.pagemeta import document_outline, heading_paths
    from webextract.sources.pages import pages_from_documents
    import re

    plan = (
        heading_paths(document_outline(
            pages_from_documents(spark, "/root/testdata/sf0.001")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one groupBy(url) exchange; the ancestor walk is in-row
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
