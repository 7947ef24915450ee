"""Table-structure recovery: html → (table_id, row_id, col_id, cell) grid.

The analog of the reference's table recognition stage, which turns a
table image into a cell grid plus text slotted into ``<td>`` slots
(ppstructure/table/predict_table.py:82-106 builds the structure,
ppstructure/table/matcher.py:99-138 assigns text to cells). Here the
structure is already latent in the DOM, so recovery is a tolerant
stateful parse instead of a model: ``<table>/<tr>/<td>/<th>`` events
drive a grid builder that

 * numbers tables in document order (nested tables get their own id;
   the enclosing cell keeps only its own text);
 * assigns ``(row_id, col_id)`` with full colspan/rowspan occupancy
   semantics (a cell spanning down blocks that column in later rows —
   the same grid arithmetic as matcher.py's cell placement);
 * tolerates implicit closes (``<tr>`` closes the open row, ``<td>``
   closes the open cell, ``</table>`` closes everything), the
   dominant real-web malformation;
 * preserves EMPTY cells (unlike the block tokenizer's empty-drop):
   structure is the payload here, and an empty ``<td>`` is structure;
 * excludes SKIP_TAGS subtrees and decodes entities exactly like the
   block tokenizer (same frozen whitespace canon, tokenizer.py:54).
"""

from __future__ import annotations

from html.parser import HTMLParser

from webextract.config import SKIP_TAGS

_CELL_TAGS = ("td", "th")
_MAX_SPAN = 1000      # clamp hostile colspan/rowspan attributes
_MAX_CELLS = 100_000  # per-page cell cap (content-controlled blowup guard)


def _canon(fragments: list[str]) -> str:
    return " ".join("".join(fragments).split())


class _Grid:
    """One table's cell grid with rowspan/colspan occupancy.

    Occupancy is a per-column ``blocked-until-row`` map, NOT the full
    (row, col) span product: a ``colspan=1000 rowspan=1000`` cell costs
    1000 dict entries, not 10^6 set entries — hostile span attributes
    stay O(colspan) per cell in both time and memory."""

    __slots__ = ("table_id", "cells", "row", "next_col", "blocked")

    def __init__(self, table_id: int) -> None:
        self.table_id = table_id
        # rows of (row_id, col_id, text, is_header, colspan, rowspan)
        self.cells: list[tuple[int, int, str, bool, int, int]] = []
        self.row = -1
        self.next_col = 0
        self.blocked: dict[int, int] = {}  # col -> last row a span covers

    def open_row(self) -> None:
        self.row += 1
        self.next_col = 0

    def place(self, text: str, is_header: bool, colspan: int, rowspan: int) -> None:
        if self.row < 0:  # cell with no <tr> (malformed): implicit row
            self.open_row()
        col = self.next_col
        blocked = self.blocked
        while blocked.get(col, -1) >= self.row:
            col += 1
        last_row = self.row + rowspan - 1
        for cc in range(col, col + colspan):
            if blocked.get(cc, -1) < last_row:
                blocked[cc] = last_row
        self.next_col = col + colspan
        self.cells.append((self.row, col, text, is_header, colspan, rowspan))


def _span(attrs: list, name: str) -> int:
    for k, v in attrs:
        if k == name and v is not None:
            try:
                return max(1, min(_MAX_SPAN, int(v.strip())))
            except ValueError:
                return 1
    return 1


class _TableParser(HTMLParser):
    """Event front-end + table state machine (reference semantics:
    stdlib html.parser, convert_charrefs entity decoding — the same
    front-end contract as the block tokenizer)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.n_tables = 0
        self.n_cells = 0
        self.done: list[_Grid] = []
        self.table_stack: list[_Grid] = []
        # innermost open cell's fragment buffer, or None; one per open
        # table level (a nested table suspends the outer cell's text)
        self.cell_stack: list[list[str] | None] = []
        self.cell_meta: list[tuple[bool, int, int] | None] = []
        self.skip_depth = 0

    # -- helpers ---------------------------------------------------------
    def _close_cell(self) -> None:
        if self.table_stack and self.cell_stack[-1] is not None:
            if self.n_cells < _MAX_CELLS:
                grid = self.table_stack[-1]
                is_header, cs, rs = self.cell_meta[-1]  # type: ignore[misc]
                grid.place(_canon(self.cell_stack[-1]), is_header, cs, rs)
                self.n_cells += 1
            self.cell_stack[-1] = None
            self.cell_meta[-1] = None

    def _close_table(self) -> None:
        if not self.table_stack:
            return
        self._close_cell()
        self.done.append(self.table_stack.pop())
        self.cell_stack.pop()
        self.cell_meta.pop()

    # -- events ----------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag in SKIP_TAGS:
            self.skip_depth += 1
            return
        if self.skip_depth:
            return
        if tag == "table":
            grid = _Grid(self.n_tables)
            self.n_tables += 1
            self.table_stack.append(grid)
            self.cell_stack.append(None)
            self.cell_meta.append(None)
        elif tag == "tr" and self.table_stack:
            self._close_cell()
            self.table_stack[-1].open_row()
        elif tag in _CELL_TAGS and self.table_stack:
            self._close_cell()
            self.cell_stack[-1] = []
            self.cell_meta[-1] = (
                tag == "th",
                _span(attrs, "colspan"),
                _span(attrs, "rowspan"),
            )

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            if self.skip_depth:
                self.skip_depth -= 1
            return
        if self.skip_depth:
            return
        if tag == "table":
            self._close_table()
        elif tag == "tr" and self.table_stack:
            self._close_cell()
        elif tag in _CELL_TAGS and self.table_stack:
            self._close_cell()

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        if tag in ("br", "wbr"):  # spacing voids inside cells
            self.handle_data(" ")
        else:
            # html.parser's default: a self-closed tag is start + end —
            # <td/> records an EMPTY cell (structure preserved), a
            # self-closed <table/> opens and closes an empty grid
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_data(self, data: str) -> None:
        if self.skip_depth or not data:
            return
        if self.cell_stack and self.cell_stack[-1] is not None:
            self.cell_stack[-1].append(data)


def parse_tables(html_text: str) -> dict[str, list]:
    """html text → columnar cell table (parallel lists).

    Keys: ``table_id, row_id, col_id, cell_text, is_header, colspan,
    rowspan``. Total function: malformed input yields whatever parsed;
    unclosed tables at EOF are closed implicitly.
    """
    p = _TableParser()
    try:
        p.feed(html_text)
        p.close()
    except AssertionError:
        # html.parser's only signal for an unparseable declaration
        # (e.g. ``<![foo[``): the cells before it stand
        pass
    while p.table_stack:  # EOF with open tables
        p._close_table()
    cols: dict[str, list] = {
        "table_id": [],
        "row_id": [],
        "col_id": [],
        "cell_text": [],
        "is_header": [],
        "colspan": [],
        "rowspan": [],
    }
    for grid in sorted(p.done, key=lambda g: g.table_id):
        for (r, c, text, hdr, cs, rs) in grid.cells:
            cols["table_id"].append(grid.table_id)
            cols["row_id"].append(r)
            cols["col_id"].append(c)
            cols["cell_text"].append(text)
            cols["is_header"].append(hdr)
            cols["colspan"].append(cs)
            cols["rowspan"].append(rs)
    return cols
