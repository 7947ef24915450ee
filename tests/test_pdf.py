"""The pure-stdlib PDF codec (functions/pdf.py) — real document parse.

Pins: write→parse round-trip through the xref (offsets must be TRUE
byte offsets — any drift fails here), FlateDecode on/off, the full
string-escape surface (parens, backslash, octal, control chars, line
continuations, nesting), TJ-array reassembly, the text-positioning
state machine (Td/TD/Tm/TL/T*/'), reading-order assembly, structural
strictness (corrupt xref / truncated stream / bad header are DETECTED,
never scavenged), and the multi-section xref /Prev chain. The Spark
operators' oracle-facing outputs (q:pdf_text / q:pdf_meta) pin the
same chain hash-exact at the driver.
"""

import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract.functions.pdf import (
    PdfError,
    encode_pdf,
    parse_pdf,
    reading_order,
)

PAGES = [
    [(72, 720, "Hello (world)"), (300, 720, "right"), (72, 680, "esc \\ two", 4)],
    [(72, 720, "page two \t tab")],
]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip(compress):
    version, pages, compressed, n_objects = parse_pdf(
        encode_pdf(PAGES, compress=compress, version="1.6")
    )
    assert version == "1.6"
    assert compressed is compress
    assert n_objects == 3 + 2 * len(PAGES)
    assert [[f[:3] for f in pg] for pg in PAGES] == [
        [(float(x), float(y), t) for x, y, t in pg] for pg in pages
    ]


def test_empty_page_and_empty_doc():
    _, pages, _, _ = parse_pdf(encode_pdf([[]]))
    assert pages == [[]]
    _, pages, _, _ = parse_pdf(encode_pdf([]))
    assert pages == []


def test_reading_order_sorts_desc_y_then_asc_x():
    frags = [(300.0, 720.0, "b"), (72.0, 680.0, "c"), (72.0, 720.0, "a")]
    assert [t for _, _, t in reading_order(frags)] == ["a", "b", "c"]


def test_non_latin1_roundtrips_via_octal():
    txt = "caf\xe9 \x07 bell"
    _, pages, _, _ = parse_pdf(encode_pdf([[(10, 10, txt)]]))
    assert pages[0][0][2] == txt


def test_tj_split_preserves_text():
    _, pages, _, _ = parse_pdf(encode_pdf([[(10, 10, "kerned", 3)]]))
    assert pages[0] == [(10.0, 10.0, "kerned")]


ALPHABET = st.sampled_from(
    list("ab()\\\n\r\t ") + ["\x00", "\x7f", "\xe9", "\xff"]
)


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 612),
                st.integers(0, 792),
                st.lists(ALPHABET, max_size=12).map("".join),
                st.one_of(st.none(), st.integers(0, 12)),
            ),
            max_size=4,
        ),
        max_size=3,
    ),
    st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_roundtrip_property(pages, compress):
    _, parsed, _, _ = parse_pdf(encode_pdf(pages, compress=compress))
    assert [[(f[0], f[1], f[2]) for f in pg] for pg in pages] == [
        [(int(x), int(y), t) for x, y, t in pg] for pg in parsed
    ]


# --------------------------------------------------------- strictness


def test_bad_header_rejected():
    with pytest.raises(PdfError):
        parse_pdf(b"%PFD-1.4 not a pdf")


def test_corrupt_xref_offset_rejected():
    b = bytearray(encode_pdf(PAGES))
    at = b.rfind(b"startxref")
    b[at + 10 : at + 12] = b"99"
    with pytest.raises(PdfError):
        parse_pdf(bytes(b))


def test_wrong_object_offset_in_xref_rejected():
    b = encode_pdf(PAGES)
    # shift object 1's xref row by one byte: header check must fail
    m = re.search(rb"xref\n0 \d+\n.{20}", b, re.S)
    row_at = m.end()
    off = int(b[row_at : row_at + 10])
    patched = b[:row_at] + b"%010d" % (off + 1) + b[row_at + 10 :]
    with pytest.raises(PdfError):
        parse_pdf(patched)


def test_truncated_stream_rejected():
    b = encode_pdf(PAGES, compress=True)
    cut = b.rfind(b"endstream")
    with pytest.raises(PdfError):
        parse_pdf(b[: cut - 4] + b[cut:-60])


def test_garbage_flate_rejected():
    b = encode_pdf([[(10, 10, "x" * 50)]], compress=True)
    comp = zlib.compress(b"x" * 50)  # locate some compressed bytes
    at = b.find(b"stream\n") + 7
    bad = b[:at] + bytes(255 - c for c in b[at : at + 8]) + b[at + 8 :]
    with pytest.raises(PdfError):
        parse_pdf(bad)
    assert comp  # silence lint


# ----------------------------------------------- parser-only features


def _mini_pdf(objs: dict[int, bytes], root: int = 1) -> bytes:
    """Hand-rolled PDF from numbered object bodies (single xref)."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    top = max(objs) + 1
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % top
    for num in range(1, top):
        if num in objs:
            buf += b"%010d 00000 n \n" % offsets[num]
        else:
            buf += b"0000000000 65535 f \n"
    buf += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        top,
        root,
        xref_at,
    )
    return bytes(buf)


def test_nested_page_tree_and_contents_array():
    stream = b"BT /F1 12 Tf 10 20 Td (a) Tj ET"
    stream2 = b"BT /F1 12 Tf 10 10 Td (b) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",  # nested node
        4: b"<< /Type /Page /Parent 3 0 R /Contents [5 0 R 6 0 R] >>",
        5: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        6: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream2), stream2),
    }
    _, pages, _, _ = parse_pdf(_mini_pdf(objs))
    assert pages == [[(10.0, 20.0, "a"), (10.0, 10.0, "b")]]


def test_positioning_operators_tm_tl_tstar_quote():
    stream = (
        b"BT /F1 12 Tf 14 TL 1 0 0 1 100 700 Tm (m) Tj 5 -10 Td (d) Tj "
        b"T* (s) Tj (q) ' ET"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    }
    _, pages, _, _ = parse_pdf(_mini_pdf(objs))
    assert pages == [
        [
            (100.0, 700.0, "m"),
            (105.0, 690.0, "d"),
            (105.0, 676.0, "s"),  # T* consumed TL=14
            (105.0, 662.0, "q"),  # ' = T* then show
        ]
    ]


def test_hex_strings_and_comments_and_indirect_length():
    stream = b"BT <48656c6c6f> Tj ET % trailing comment"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length 5 0 R >>\nstream\n%s\nendstream" % stream,
        5: b"%d" % len(stream),
    }
    _, pages, _, _ = parse_pdf(_mini_pdf(objs))
    assert pages == [[(0.0, 0.0, "Hello")]]


def test_xref_prev_chain():
    """An updated document: second xref section with /Prev pointing at
    the first — newest section wins per object."""
    base = encode_pdf([[(10, 10, "old")]])
    first_xref = int(
        re.search(rb"startxref\s+(\d+)", base[-64:]).group(1)
    )
    # append a replacement for object 4 (the content stream)
    stream = b"BT /F1 12 Tf 10 10 Td (new) Tj ET"
    body = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
    buf = bytearray(base)
    new_off = len(buf)
    buf += b"4 0 obj\n" + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n4 1\n%010d 00000 n \n" % new_off
    buf += (
        b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (first_xref, xref_at)
    )
    _, pages, _, _ = parse_pdf(bytes(buf))
    assert pages == [[(10.0, 10.0, "new")]]


# ------------------------------------------------ two-column layout (W2)


def test_column_layout_single_column_is_plain_order():
    from webextract.functions.pdf import column_layout_order

    frags = [(72, 720, "a"), (72, 680, "b"), (72, 640, "c")]
    out = column_layout_order(frags)
    assert [f for f, _ in out] == reading_order(frags)
    assert all(side == "left" for _, side in out)


def test_column_layout_uninterleaves_two_columns():
    from webextract.functions.pdf import column_layout_order

    frags = [
        (72, 720, "L0"), (330, 720, "R0"),
        (72, 680, "L1"), (330, 680, "R1"),
    ]
    # plain reading order interleaves the columns row by row — the
    # exact failure the recovery path (recovery_to_doc.py:81) fixes
    assert [t for _, _, t in reading_order(frags)] == [
        "L0", "R0", "L1", "R1"
    ]
    out = column_layout_order(frags)
    assert [f[2] for f, _ in out] == ["L0", "L1", "R0", "R1"]
    assert [side for _, side in out] == ["left", "left", "right", "right"]


def test_column_layout_spanner_flushes_segments():
    from webextract.functions.pdf import column_layout_order

    title = (100, 760, "T" + "x" * 59)  # x2 = 460 > 3w/4 → spanner
    mid = (100, 650, "M" + "y" * 59)
    frags = [
        title,
        (72, 720, "L0"), (330, 720, "R0"),
        (72, 680, "L1"), (330, 680, "R1"),
        mid,
        (72, 620, "L2"), (330, 620, "R2"),
        (72, 580, "L3"), (330, 580, "R3"),
    ]
    out = column_layout_order(frags)
    assert [f[2] for f, _ in out] == [
        title[2],
        "L0", "L1", "R0", "R1",
        mid[2],
        "L2", "L3", "R2", "R3",
    ]
    assert [side for _, side in out] == (
        ["single"] + ["left", "left", "right", "right"]
        + ["single"] + ["left", "left", "right", "right"]
    )


def test_column_layout_classification_edges():
    from webextract.functions.pdf import column_layout_order

    # starts exactly AT w/4: fails both strict rules → spanner
    out = column_layout_order([(153, 720, "eq"), (72, 700, "L")])
    assert [(f[2], side) for f, side in out] == [
        ("eq", "single"), ("L", "left")
    ]
    # starts left but crosses 3w/4 under the width model → spanner
    wide = (72, 720, "w" * 65)  # x2 = 72 + 390 = 462 >= 459
    out = column_layout_order([wide, (330, 700, "R")])
    assert [side for _, side in out] == ["single", "right"]


def test_column_layout_uses_page_width():
    """The quartile grid scales with the page's real width: x=170 is a
    left-column start on a 792-wide landscape page (q1=198) but a
    right-column start on US Letter (q1=153) — the reference passes
    the actual image w into sorted_layout_boxes for the same reason."""
    from webextract.functions.pdf import column_layout_order

    frags = [(170, 720, "A"), (600, 720, "B")]
    wide = column_layout_order(frags, page_width=792.0)
    assert [side for _, side in wide] == ["left", "right"]
    # on US Letter, x=170 starts right of q1=153 but its extent ends
    # left of mid=306 — neither column rule admits it → spanner
    letter = column_layout_order(frags, page_width=612.0)
    assert [side for _, side in letter] == ["single", "right"]
    assert [f[2] for f, _ in letter] == ["A", "B"]


def test_parse_pdf_reports_mediabox_widths():
    from webextract.functions.pdf import parse_pdf

    # writer emits US-Letter pages
    version, pages, _, _, widths = parse_pdf(
        encode_pdf([[(10, 10, "x")], [(10, 10, "y")]]), with_widths=True
    )
    assert widths == [612.0, 612.0]
    # hand-rolled A4 page (595 wide) via the parser-only path
    stream = b"BT /F1 12 Tf 170 700 Td (a) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    }
    _, _, _, _, w2 = parse_pdf(_mini_pdf(objs), with_widths=True)
    assert w2 == [595.0]


# ----------------------------------------------------- spark operators


def test_pdf_operators_on_spark(spark):
    from webextract.operators.multimodal import (
        _pdf_plan,
        pdf_metadata,
        pdf_text,
        synth_pdf,
    )

    docs = spark.createDataFrame(
        [(i, "t") for i in range(12)], "doc_id long, text string"
    )
    media = synth_pdf(docs)
    txt = {
        (r["media_id"], r["page_no"]): r
        for r in pdf_text(media).collect()
    }
    meta = {r["media_id"]: r for r in pdf_metadata(media).collect()}
    for mid in range(12):
        version, compress, pages = _pdf_plan(mid)
        assert meta[mid]["version"] == version
        assert meta[mid]["compressed"] is compress
        assert meta[mid]["n_pages"] == len(pages)
        assert meta[mid]["n_objects"] == 3 + 2 * len(pages)
        for p, frags in enumerate(pages):
            row = txt[(mid, p + 1)]
            expect = " ".join(
                t for _, _, t in reading_order([f[:3] for f in frags])
            )
            assert row["text"] == expect
            assert row["n_frags"] == len(frags)
            assert row["n_chars"] == len(expect)


def test_extract_any_dispatch(spark):
    """One Arrow stage routes html → block pipeline, pdf → real parse.
    Only a ``%PDF-`` prefix routes to the PDF parser: a NULL or PNG
    payload takes the html pipeline, and a PDF with no xref table is
    dropped. A real PNG's text is what ``extract_page`` makes of its
    bytes, which is not empty."""
    import struct
    import zlib

    from webextract.config import ExtractConfig
    from webextract.functions.extract import extract_page
    from webextract.operators.multimodal import (
        _pdf_plan,
        extract_any,
        synth_pdf,
    )

    html = (
        b"<html><body><nav><a href='/'>Home</a></nav>"
        b"<article><h1>Title here</h1><p>Body text of the page, long "
        b"enough to be kept by the scorer as main content."
        b"</p></article></body></html>"
    )
    def chunk(kind: bytes, data: bytes) -> bytes:
        crc = struct.pack(">I", zlib.crc32(kind + data))
        return struct.pack(">I", len(data)) + kind + data + crc

    # a minimal valid 8x8 RGB PNG: signature, IHDR, one IDAT, IEND
    rows = b"".join(
        b"\x00" + bytes((x * 37 + y * 11) % 256 for x in range(24)) for y in range(8)
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(rows, 9))
        + chunk(b"IEND", b"")
    )
    truncated_pdf = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    media_df = spark.createDataFrame(
        [
            (100, bytearray(html), "text/html"),
            (101, None, None),
            (102, bytearray(png), "image/png"),
            (103, bytearray(truncated_pdf), "application/pdf"),
        ],
        "media_id long, payload binary, mime string",
    )
    pdf_df = synth_pdf(
        spark.createDataFrame([(7, "t")], "doc_id long, text string")
    )
    rows = {
        r["media_id"]: r
        for r in extract_any(media_df.unionByName(pdf_df)).collect()
    }
    assert rows[100]["fmt"] == "html" and rows[100]["n_pages"] == 1
    assert rows[100]["text"] == extract_page(html, ExtractConfig())["text"]
    for mid in (101, 102):
        assert (rows[mid]["fmt"], rows[mid]["n_pages"]) == ("html", 1), mid
    assert (rows[101]["text"], rows[101]["n_chars"]) == ("", 0)
    png_text = extract_page(png, ExtractConfig())["text"]
    assert png_text != "" and "\x00" in png_text
    assert (rows[102]["text"], rows[102]["n_chars"]) == (png_text, len(png_text))
    assert 103 not in rows and len(rows) == 4
    _, _, pages = _pdf_plan(7)
    expect = "\n\n".join(
        " ".join(t for _, _, t in reading_order([f[:3] for f in pg]))
        for pg in pages
    )
    assert rows[7]["fmt"] == "pdf" and rows[7]["n_pages"] == len(pages)
    assert rows[7]["text"] == expect


def test_pdf_columns_on_spark(spark):
    """Column-aware extraction matches the planted segment/side/row
    ground truth computed straight from the _pdf_col_plan formulas —
    independently of column_layout_order — and provably differs from
    plain reading order on every document."""
    from webextract.operators.multimodal import (
        pdf_columns,
        synth_pdf_columns,
    )

    docs = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id long, text string"
    )
    rows = {
        r["media_id"]: r
        for r in pdf_columns(synth_pdf_columns(docs)).collect()
    }
    for mid in range(10):
        n_rows = mid % 3 + 3
        h = n_rows if mid % 2 == 0 else n_rows // 2
        lefts = ["L%d" % ((mid * 7 + r * 3) % 50) for r in range(n_rows)]
        rights = ["R%d" % ((mid * 11 + r * 5) % 50) for r in range(n_rows)]
        expect = ["T%02d" % (mid % 50) + "x" * 57]
        expect += lefts[:h] + rights[:h]
        if mid % 2 == 1:
            expect.append("M%02d" % (mid % 50) + "y" * 57)
            expect += lefts[h:] + rights[h:]
        row = rows[mid]
        assert row["text"] == " ".join(expect)
        assert row["layout"] == "double"
        assert row["n_spanners"] == 1 + mid % 2
        assert row["n_left"] == n_rows and row["n_right"] == n_rows
        assert row["n_chars"] == len(row["text"])
        # plain reading order would interleave the columns row-wise
        interleaved = ["T%02d" % (mid % 50) + "x" * 57]
        for r in range(n_rows):
            if mid % 2 == 1 and r == h:
                interleaved.append("M%02d" % (mid % 50) + "y" * 57)
            interleaved += [lefts[r], rights[r]]
        assert row["text"] != " ".join(interleaved)


@pytest.mark.parametrize("op", ["pdf_text", "pdf_metadata", "pdf_columns"])
def test_pdf_operators_drop_null_payloads(spark, op):
    """A NULL payload follows the malformed-input rule, no rows: next
    to a valid PDF only the valid id's rows come back, and alone it
    gives an empty frame with the operator's schema."""
    from pyspark.sql import types as T

    from webextract.operators import multimodal

    fn = getattr(multimodal, op)
    ddl = {
        "pdf_text": multimodal.PDF_TEXT_SCHEMA,
        "pdf_metadata": multimodal.PDF_META_SCHEMA,
        "pdf_columns": multimodal.PDF_COLUMNS_SCHEMA,
    }[op]
    valid = multimodal.synth_pdf(
        spark.createDataFrame([(3, "t")], "doc_id long, text string")
    )
    null = spark.createDataFrame([(9, None, None)], multimodal.MEDIA_SCHEMA)

    mixed = fn(valid.unionByName(null)).collect()
    assert {r["media_id"] for r in mixed} == {3}
    assert sorted(mixed) == sorted(fn(valid).collect())

    only_null = fn(null)
    assert only_null.collect() == []
    assert only_null.schema == T.StructType.fromDDL(ddl)
