"""Table-structure recovery tests (functions/tables.py + the Spark
operator). The pure-Python grid semantics are pinned here; the Spark
fan-out + oracle equivalence is covered by q:tables in the driver gate.
"""

from __future__ import annotations

import pytest

from webextract.functions.tables import parse_tables


def cells(html: str):
    c = parse_tables(html)
    return list(
        zip(
            c["table_id"], c["row_id"], c["col_id"], c["cell_text"],
            c["is_header"], c["colspan"], c["rowspan"],
        )
    )


def grid(html: str):
    """(table_id, row, col) -> text, for compact assertions."""
    return {
        (t, r, c): txt for (t, r, c, txt, _h, _cs, _rs) in cells(html)
    }


def test_simple_grid():
    g = grid(
        "<table><tr><th>A</th><th>B</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>"
    )
    assert g == {(0, 0, 0): "A", (0, 0, 1): "B", (0, 1, 0): "1", (0, 1, 1): "2"}


def test_header_flag_and_spans_default():
    cs = cells("<table><tr><th>H</th><td>d</td></tr></table>")
    assert cs == [(0, 0, 0, "H", True, 1, 1), (0, 0, 1, "d", False, 1, 1)]


def test_empty_cells_preserved():
    g = grid("<table><tr><td></td><td>x</td></tr></table>")
    assert g == {(0, 0, 0): "", (0, 0, 1): "x"}


def test_colspan_shifts_next_cell():
    g = grid(
        '<table><tr><td colspan="2">wide</td><td>c</td></tr>'
        "<tr><td>a</td><td>b</td><td>d</td></tr></table>"
    )
    assert g[(0, 0, 0)] == "wide"
    assert g[(0, 0, 2)] == "c"
    assert g[(0, 1, 0)] == "a" and g[(0, 1, 1)] == "b" and g[(0, 1, 2)] == "d"


def test_rowspan_blocks_column_below():
    g = grid(
        '<table><tr><td rowspan="2">tall</td><td>b</td></tr>'
        "<tr><td>c</td></tr></table>"
    )
    # second row's first free column is 1 (col 0 occupied by the span)
    assert g == {(0, 0, 0): "tall", (0, 0, 1): "b", (0, 1, 1): "c"}


def test_rowspan_colspan_combined():
    g = grid(
        '<table><tr><td rowspan="2" colspan="2">big</td><td>x</td></tr>'
        "<tr><td>y</td></tr></table>"
    )
    assert g == {(0, 0, 0): "big", (0, 0, 2): "x", (0, 1, 2): "y"}


def test_implicit_closes():
    # no </td>, no </tr> anywhere: the real-web malformation
    g = grid("<table><tr><td>a<td>b<tr><td>c<td>d</table>")
    assert g == {(0, 0, 0): "a", (0, 0, 1): "b", (0, 1, 0): "c", (0, 1, 1): "d"}


def test_unclosed_table_at_eof():
    g = grid("<html><body><table><tr><td>left<td>right")
    assert g == {(0, 0, 0): "left", (0, 0, 1): "right"}


def test_nested_table_gets_own_id_outer_keeps_own_text():
    cs = cells(
        "<table><tr><td>outer "
        "<table><tr><td>inner</td></tr></table>"
        " tail</td><td>sib</td></tr></table>"
    )
    by_table = {}
    for (t, r, c, txt, *_rest) in cs:
        by_table.setdefault(t, {})[(r, c)] = txt
    assert by_table[1] == {(0, 0): "inner"}
    # outer cell text excludes the inner table's text
    assert by_table[0][(0, 0)] == "outer tail"
    assert by_table[0][(0, 1)] == "sib"


def test_tables_numbered_in_document_order():
    cs = cells(
        "<p>x</p><table><tr><td>t0</td></tr></table>"
        "<div><table><tr><td>t1</td></tr></table></div>"
    )
    assert [(t, txt) for (t, _r, _c, txt, *_x) in cs] == [(0, "t0"), (1, "t1")]


def test_entities_and_whitespace_canon():
    g = grid("<table><tr><td>  Fish &amp;\n chips </td></tr></table>")
    assert g == {(0, 0, 0): "Fish & chips"}


def test_script_inside_cell_excluded():
    g = grid(
        "<table><tr><td>keep<script>var x = 'drop';</script> this</td></tr></table>"
    )
    assert g == {(0, 0, 0): "keep this"}


def test_no_tables_no_rows():
    assert cells("<html><body><p>prose only</p></body></html>") == []


def test_text_outside_cells_dropped():
    # stray data between rows must not leak into any cell
    g = grid("<table>stray<tr>gap<td>a</td></tr>more</table>")
    assert g == {(0, 0, 0): "a"}


def test_hostile_span_clamped():
    cs = cells('<table><tr><td colspan="999999999">x</td></tr></table>')
    assert cs[0][5] == 1000


def test_two_column_table_fixture_structure():
    # the FIXTURES.md two_column_table case must keep cell structure
    from webextract.sources.pages import gen_fixture_pages

    page = next(
        p for p in gen_fixture_pages() if p["case"] == "two_column_table"
    )
    g = grid(page["html"].decode())
    assert set(g) == {(0, 0, 0), (0, 0, 1)}
    assert g[(0, 0, 0)].startswith("Left column")
    assert g[(0, 0, 1)].startswith("Right column")


def test_spark_table_cells_matches_local(spark):
    """The Spark operator's fan-out equals per-page local parsing."""
    from webextract.operators.tables import table_cells
    from webextract.sources.pages import pages_with_tables

    pages = pages_with_tables(spark, "/root/testdata/sf0.001")
    got = table_cells(pages).orderBy("url", "table_id", "row_id", "col_id")
    rows = got.collect()
    assert len(rows) > 0
    # spot-check one page against the pure-Python parser
    one = pages.limit(1).collect()[0]
    local = parse_tables(one.html.decode())
    spark_one = [r for r in rows if r.url == one.url]
    assert len(spark_one) == len(local["table_id"])
    for r, (rr, cc, txt) in zip(
        spark_one,
        zip(local["row_id"], local["col_id"], local["cell_text"]),
    ):
        assert (r.row_id, r.col_id, r.cell_text) == (rr, cc, txt)


# -- property fuzz ----------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_TOKENS = list("<>/abct rdhl\"'=0123456789") + [
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
    "<th>", "</th>", '<td colspan="2">', '<td rowspan="3">',
    "cell text", "&amp;", "<div>", "</div>",
    "<td/>", "<th/>", "<table/>", "<tr/>", "<br/>",
]
_table_soup = st.lists(st.sampled_from(_TOKENS), max_size=40).map("".join)


@given(_table_soup)
@settings(max_examples=300, deadline=None)
def test_parse_tables_total_on_arbitrary_soup(soup):
    cols = parse_tables(soup)  # must never raise
    n = len(cols["table_id"])
    assert all(len(v) == n for v in cols.values())


@given(_table_soup)
@settings(max_examples=300, deadline=None)
def test_parse_tables_grid_invariants(soup):
    cols = parse_tables(soup)
    seen = {}
    for t, r, c, cs, rs in zip(
        cols["table_id"], cols["row_id"], cols["col_id"],
        cols["colspan"], cols["rowspan"],
    ):
        assert r >= 0 and c >= 0 and cs >= 1 and rs >= 1
        # no two cells of a table anchor at the same (row, col)
        key = (t, r, c)
        assert key not in seen
        seen[key] = True


@given(_table_soup)
@settings(max_examples=200, deadline=None)
def test_parse_tables_deterministic(soup):
    assert parse_tables(soup) == parse_tables(soup)


def test_self_closed_cell_preserves_structure():
    # <td/> is start+end: an empty cell at col 0, 'x' shifts to col 1
    g = grid("<table><tr><td/><td>x</td></tr></table>")
    assert g == {(0, 0, 0): "", (0, 0, 1): "x"}


def test_hostile_spans_bounded_time_and_memory():
    import time

    html = "<table><tr>" + '<td colspan="1000" rowspan="1000">x</td>' * 50 + "</tr></table>"
    t0 = time.perf_counter()
    cs = cells(html)
    assert time.perf_counter() - t0 < 2.0   # was ~24s+566MB per 5 cells
    assert len(cs) == 50
    # grid placement still honors the spans: cells tile left to right
    assert [c[2] for c in cs] == [i * 1000 for i in range(50)]


def test_cell_cap_bounds_hostile_pages():
    from webextract.functions.tables import _MAX_CELLS

    html = "<table>" + "<tr><td>a</td><td>b</td></tr>" * (_MAX_CELLS // 2 + 10) + "</table>"
    cs = parse_tables(html)
    assert len(cs["table_id"]) == _MAX_CELLS


def test_unparseable_marked_section_keeps_cells_before_it():
    # html.parser raises AssertionError on ``<![foo[``; the cells parsed
    # before the declaration stand
    g = grid("<table><tr><td>a</td><td>b</td></tr></table><![foo[ x ]]>"
             "<table><tr><td>c</td></tr></table>")
    assert g == {(0, 0, 0): "a", (0, 0, 1): "b"}


def test_parser_bug_propagates(monkeypatch):
    # only html.parser's AssertionError is tolerated: a bug in the table
    # state machine must not silently truncate the page
    from webextract.functions import tables

    def broken(self, data):
        raise KeyError(data)

    monkeypatch.setattr(tables._TableParser, "handle_data", broken)
    with pytest.raises(KeyError):
        parse_tables("<table><tr><td>x</td></tr></table>")
