"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference ingests images as raw bytes and decodes them in its first
op (``DecodeImage``, ppocr/data/imaug/operators.py:30-68; GIF/PDF
dispatch in ``check_and_read``, ppocr/utils/utility.py:94-124). This
module keeps the parts of that shape a text pipeline reads. Media rides
as a ``binary`` column with typed metadata, and four paths remain:

- **Header sniff.** :data:`MAGIC` is the one signature table.
  :func:`media_metadata` applies it JVM-side (byte count, md5, format),
  and :func:`parse_image_header` uses it to pick the PNG IHDR, GIF
  logical-screen or JPEG SOFn walker that reads the dimensions. No
  codec is involved.
- **Byte featurizer.** :func:`media_features` computes a byte count,
  mean and histogram per payload with numpy, one Arrow batch at a time.
- **PDF parser.** ``functions/pdf.py`` is a from-scratch writer/parser
  (xref walk, page tree, FlateDecode via stdlib zlib, text-operator
  tokenizer, reading-order assembly); :func:`synth_pdf` /
  :func:`pdf_text` / :func:`pdf_metadata` / :func:`pdf_columns` put the
  chain under ground-truth oracles.
- **Mixed dispatch.** :func:`extract_any` sniffs each payload in one
  Arrow stage and routes PDFs to the PDF parser and everything else to
  the html block pipeline; :func:`explode_pages` fans a multi-page
  container out to one row per page.

Every Python-side operator here is a per-row function on
:func:`~webextract.operators.extract.map_rows`: one ``mapInArrow``
crossing on extraction's partition loop, Arrow batch in and Arrow batch
out, with the payload logic only inside the row function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webextract.config import ExtractConfig
from webextract.functions.extract import extract_page
from webextract.functions.pdf import (
    PdfError,
    column_layout_order,
    encode_pdf,
    parse_pdf,
    reading_order,
)
from webextract.operators.extract import map_rows

# file-signature prefix → format (public file signatures): the one table
# behind both sniffs, media_metadata (JVM-side) and parse_image_header.
# JPEG is the bare SOI marker: the first segment after it may be APP0
# (JFIF), APP1 (Exif), APP14 (Adobe) or DQT, and all of them are JPEG.
MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8": "jpeg",
    b"GIF8": "gif",
    b"%PDF": "pdf",
    b"RIFF": "riff",  # wav/avi container
}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata: byte length, md5, magic-sniffed format.

    No Python worker — the format dispatch the reference does per-file
    in ``check_and_read`` is a codegen CASE over the :data:`MAGIC`
    prefixes.
    """
    fmt = F.lit("unknown")
    for sig, name in MAGIC.items():
        prefix = F.substring(F.col("payload"), 1, len(sig))
        fmt = F.when(prefix == F.lit(sig), F.lit(name)).otherwise(fmt)
    return media.select(
        "media_id",
        F.length(F.col("payload")).alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        fmt.alias("format"),
    )


def _parse_fake_header(b: bytes | None) -> tuple[str, int, int, bool]:
    """STUB decoder for the deterministic synthetic payload format
    ``b"IMG!" + width(4, big-endian) + height(4) + pixels`` produced by
    :func:`synth_media`. A real deployment replaces this body with
    cv2.imdecode / PIL.open; everything around it is unchanged."""
    if b is None or len(b) < 12 or b[:4] != b"IMG!":
        return ("unknown", 0, 0, False)
    w = int.from_bytes(b[4:8], "big")
    h = int.from_bytes(b[8:12], "big")
    return ("fakeimg", w, h, True)


# JPEG start-of-frame markers carrying dimensions (all SOFn except the
# DHT/DAC/restart markers that share the 0xC0 range)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# RSTn (D0-D7), TEM, SOI: standalone, no length word. EOI (D9) is NOT
# here — it must reach the break below, or the walk would scan past
# end-of-image into trailing bytes (camera appendices, concatenations)
_JPEG_STANDALONE = frozenset(range(0xD0, 0xD8)) | {0x01, 0xD8}


def _parse_png(b: bytes) -> tuple[str, int, int, bool]:
    # 8-byte signature, then the IHDR chunk: len(4) 'IHDR'(4) w(4) h(4)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        return ("png", int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"), True)
    return ("png", 0, 0, False)


def _parse_gif(b: bytes) -> tuple[str, int, int, bool]:
    # logical screen descriptor: width/height 2-byte LITTLE-endian at 6..10
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return ("gif", int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"), True)
    return ("gif", 0, 0, False)


def _parse_jpeg(b: bytes) -> tuple[str, int, int, bool]:
    # marker walk to the first SOFn segment: height at +5, width at +7
    i, n = 2, len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in _JPEG_STANDALONE:
            i += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF found before scan
            break
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            break
        if marker in _JPEG_SOF and i + 9 <= n:
            return ("jpeg", int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"), True)
        i += 2 + seg_len
    return ("jpeg", 0, 0, False)


_HEADER_WALKERS = {"png": _parse_png, "gif": _parse_gif, "jpeg": _parse_jpeg}


def parse_image_header(b: bytes | None) -> tuple[str, int, int, bool]:
    """REAL image metadata from raw bytes — PNG IHDR, GIF logical
    screen descriptor, JPEG SOFn marker walk. Pure public byte-format
    knowledge, no codec library; the analog of ``DecodeImage``
    (ppocr/data/imaug/operators.py:57-65) for the dimensions-only case.
    The format comes from :data:`MAGIC`, the table the JVM sniff
    applies, so the two report the same image format for the same bytes.
    Returns (format, width, height, ok); unknown/truncated bytes are
    (format-or-unknown, 0, 0, False)."""
    if b is None or len(b) < 2:
        return ("unknown", 0, 0, False)
    for sig, fmt in MAGIC.items():
        if b.startswith(sig) and fmt in _HEADER_WALKERS:
            return _HEADER_WALKERS[fmt](b)
    if b[:4] == b"IMG!":
        return _parse_fake_header(b)
    return ("unknown", 0, 0, False)


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: one row per payload through
    :func:`~webextract.operators.extract.map_rows`, the partition loop
    extraction runs on. Emits typed decode results; a real codec drops
    in at :func:`_parse_fake_header` only."""

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        fmt, w, h, ok = parse_image_header(payload)
        return [(mid, fmt, w, h, len(payload or b""), ok)]

    return map_rows(media, ["media_id", "payload"], DECODED_SCHEMA, rows)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("byte_hist", T.ArrayType(T.LongType()), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def media_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction from raw media bytes — the embedding-
    from-media plumbing (the reference's feature step is the CNN
    backbone; here the featurizer is a REAL vectorized byte-level
    computation, and a learned model drops into the same batch shape).

    Per payload: byte count, mean byte value, and an ``n_bins``-bin
    byte-value histogram — computed with numpy ``frombuffer`` +
    ``bincount`` per payload (no per-byte Python). ``n_bins`` must
    divide 256 (a power of two), else ``ValueError``. Downstream
    these vectors feed the similarity/dedup operators like any other
    embedding column. Rows-only at the driver (blob-level aggregation
    is not portably SQL-statable); invariants are pytest-pinned.
    """
    if n_bins < 1 or 256 % n_bins:
        raise ValueError(f"n_bins must divide 256, got {n_bins}")
    shift = 8 - (n_bins - 1).bit_length()

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        if not payload:
            return [(mid, 0, None, None, False)]
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> shift, minlength=n_bins)
        return [(mid, len(arr), float(arr.mean()), hist.tolist(), True)]

    return map_rows(media, ["media_id", "payload"], FEATURES_SCHEMA, rows)


def explode_pages(media: DataFrame) -> DataFrame:
    """Multi-page payload → one row per page (the PDF-per-page explode,
    ``check_and_read`` at ppocr/utils/utility.py:110-120 where a PDF
    renders to a list of page images).

    The page count is read from the payload header JVM-side
    (``substring``+``hex``+``conv`` — no Python worker), then
    ``explode(sequence(...))`` fans out. At scale this is the pattern
    for any container format: cheap metadata peek → fan-out → per-page
    decode in the Arrow stage.
    """
    n_pages = F.conv(F.hex(F.substring(F.col("payload"), 5, 4)), 16, 10).cast(
        "int"
    )
    return (
        media.filter(F.substring(F.col("payload"), 1, 4) == F.lit(b"PDF!"))
        .withColumn("total_pages", n_pages)
        .select(
            "media_id",
            "total_pages",
            F.explode(F.sequence(F.lit(1), F.col("total_pages"))).alias("page_no"),
        )
    )


def synth_paged_media(docs: DataFrame) -> DataFrame:
    """Deterministic multi-page container payloads:
    ``b"PDF!" + n_pages(4, BE) + text`` with n_pages = doc_id % 5 + 1."""
    n = (F.col("doc_id") % 5 + 1).cast("int")
    payload = F.concat(
        F.lit(b"PDF!"),
        F.unhex(F.lpad(F.hex(n), 8, "0")),
        F.encode(F.col("text"), "UTF-8"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/x-fakepdf").alias("mime"),
    )


def synth_mixed_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table cycling REAL formats: doc_id % 3
    routes to the fake ``IMG!`` format, a real PNG (signature + IHDR
    chunk — the exact byte layout :func:`_parse_png` reads), or a real
    GIF (GIF89a + little-endian logical screen descriptor). All pure
    JVM byte-building (concat/unhex/lpad over binary) and all header
    fields integer arithmetic on doc_id — so the REAL parser paths are
    exercised by an oracle-statable driver query, not just pytest.

    Byte budgets (header + utf-8 text): fakeimg 12, png 33 (8 sig + 25
    IHDR chunk), gif 13 (6 sig + 7 LSD). Width/height stay < 256 so
    the GIF little-endian low byte is the value and the high byte 0.
    """
    doc_id = F.col("doc_id")
    w = (doc_id % 64 + 1).cast("int")
    h = (doc_id % 48 + 1).cast("int")
    text_bytes = F.encode(F.col("text"), "UTF-8")

    def be4(c):  # 4-byte big-endian
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def le2(c):  # 2-byte little-endian for values < 256: low byte + 0x00
        return F.concat(F.unhex(F.lpad(F.hex(c), 2, "0")), F.lit(b"\x00"))

    fake = F.concat(F.lit(b"IMG!"), be4(w), be4(h), text_bytes)
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),          # 8-byte signature
        F.lit(b"\x00\x00\x00\x0dIHDR"),        # IHDR length + type
        be4(w), be4(h),
        F.lit(b"\x08\x02\x00\x00\x00"),        # depth 8, truecolor, 0,0,0
        F.lit(b"\x00\x00\x00\x00"),            # CRC (not validated)
        text_bytes,
    )
    gif = F.concat(
        F.lit(b"GIF89a"), le2(w), le2(h),
        F.lit(b"\x91\x00\x00"),                # packed, bg color, aspect
        text_bytes,
    )
    payload = (
        F.when(doc_id % 3 == 0, fake)
        .when(doc_id % 3 == 1, png)
        .otherwise(gif)
    )
    mime = (
        F.when(doc_id % 3 == 0, F.lit("application/x-fakeimg"))
        .when(doc_id % 3 == 1, F.lit("image/png"))
        .otherwise(F.lit("image/gif"))
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        mime.alias("mime"),
    )


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from documents: payload =
    fake-image header + text bytes. Pure built-ins (concat over binary)."""
    w = (F.col("doc_id") % 64 + 1).cast("int")
    h = (F.col("doc_id") % 48 + 1).cast("int")

    def be4(c):  # 4-byte big-endian from an int column, via hex string
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    payload = F.concat(
        F.lit(b"IMG!"), be4(w), be4(h), F.encode(F.col("text"), "UTF-8")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/x-fakeimg").alias("mime"),
    )


def _pdf_plan(mid: int):
    """Deterministic PDF content plan for ``synth_pdf`` — every value a
    pure integer/string formula on doc_id so the parsed text is
    ground-truth statable in SQL. Returns (version, compress, pages)
    where pages hold fragments in EMISSION order (reversed for odd
    doc_ids, so reading-order assembly in the parser is doing real
    work, not echoing stream order)."""
    version = "1.%d" % (4 + mid % 3)
    compress = mid % 2 == 0
    pages = []
    for p in range(mid % 3 + 1):
        k = (mid + p) % 4 + 2
        frags = []
        for i in range(k):
            base = "w%d" % ((mid * 7 + p * 13 + i * 3) % 50)
            if (mid + i) % 5 == 0:
                text = "(" + base + ")"       # parens → escape path
            elif (mid + i) % 7 == 0:
                text = base + "\\"            # backslash → escape path
            else:
                text = base
            if mid % 2 == 1 and i == 1:       # same line as frag 0 →
                y, x = 720, 300               # x is the order tiebreak
            else:
                y = 720 - 40 * i
                x = 72 + ((mid + p + i) % 3) * 10
            split = len(text) // 2 if (mid + i) % 3 == 0 and len(text) > 1 else None
            frags.append((x, y, text, split))
        if mid % 2 == 1:
            frags.reverse()
        pages.append(frags)
    return version, compress, pages


def synth_pdf(docs: DataFrame) -> DataFrame:
    """REAL PDF fixture: complete files (header, numbered objects, xref
    with true byte offsets, trailer; even doc_ids FlateDecode-compress
    every content stream, odd doc_ids emit fragments in reversed
    stream order) built by the from-scratch writer in
    ``functions/pdf.py`` from the :func:`_pdf_plan` formulas. The PDF
    branch of the reference's ``check_and_read``
    (ppocr/utils/utility.py:102-120) made real for webtext."""

    def rows(mid: int) -> list[tuple]:
        version, compress, pages = _pdf_plan(mid)
        payload = encode_pdf(pages, compress=compress, version=version)
        return [(mid, payload, "application/pdf")]

    return map_rows(docs, ["doc_id"], MEDIA_SCHEMA, rows)


def _parsed_pdf(payload: bytes | None, with_widths: bool = False):
    """``parse_pdf(payload)``, or None for a NULL or malformed payload:
    the PDF operators' rule for both is no rows (counted vs oracle)."""
    if payload is None:
        return None
    try:
        return parse_pdf(payload, with_widths=with_widths)
    except PdfError:
        return None


PDF_TEXT_SCHEMA = (
    "media_id long, page_no int, n_frags int, text string, n_chars int"
)


def pdf_text(media: DataFrame) -> DataFrame:
    """PDF payload → per-page extracted text in READING order: full
    structural parse (startxref → xref → trailer /Root → page tree →
    FlateDecode content streams → Tj/'/TJ fragments), then the
    ``sorted_boxes`` analog — fragments sorted top-to-bottom,
    left-to-right (tools/infer/predict_system.py reading-order sort) —
    joined with single spaces. Arrow-batched per-row Python: the
    document parse is the SURVEY §2.10-budgeted case, same as HTML.
    A NULL or malformed payload yields no pages."""

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        parsed = _parsed_pdf(payload)
        if parsed is None:
            return []
        out = []
        for p, frags in enumerate(parsed[1]):
            joined = " ".join(t for _, _, t in reading_order(frags))
            out.append((mid, p + 1, len(frags), joined, len(joined)))
        return out

    return map_rows(media, ["media_id", "payload"], PDF_TEXT_SCHEMA, rows)


PDF_META_SCHEMA = (
    "media_id long, version string, n_pages int, n_objects int, "
    "compressed boolean, total_frags int, total_chars int"
)


def pdf_metadata(media: DataFrame) -> DataFrame:
    """Per-document PDF structure metadata from the real parse: header
    version, page count from the page-tree walk, object count from the
    xref table, whether any content stream was filtered, and total
    extracted fragments/characters. The metadata-peek stage of the
    multi-format dispatch (``check_and_read``), PDF edition. A NULL or
    malformed payload yields no row."""

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        parsed = _parsed_pdf(payload)
        if parsed is None:
            return []
        version, pages, compressed, n_objects = parsed
        total_chars = sum(
            len(" ".join(t for _, _, t in reading_order(fr))) for fr in pages
        )
        total_frags = sum(len(fr) for fr in pages)
        return [(mid, version, len(pages), n_objects, bool(compressed),
                 total_frags, total_chars)]

    return map_rows(media, ["media_id", "payload"], PDF_META_SCHEMA, rows)


def _pdf_col_plan(mid: int):
    """Deterministic TWO-COLUMN page plan for ``synth_pdf_columns`` —
    every value a pure integer/string formula on doc_id so the
    column-aware reading order is ground-truth statable in SQL.

    One page per document: a full-width title spanner (x=100, 60 chars
    → x-extent 460 under the frozen 6.0 width model: not left because
    460 ≥ 459 = 3w/4, not right because 100 ≤ 153 = w/4), then
    ``R = mid % 3 + 3`` rows of (left x=72, right x=330) fragment
    pairs SHARING each row's y — so plain ``reading_order`` provably
    interleaves the columns row by row on every document — and, for
    odd doc_ids, a second spanner between rows ``h-1`` and ``h``
    (h = R // 2) that splits the columns into two flushed segments.
    Fragments are emitted in reversed order so stream order is
    typography, not reading order."""
    n_rows = mid % 3 + 3
    h = n_rows // 2
    frags = [(100, 760, "T%02d" % (mid % 50) + "x" * 57)]
    for r in range(n_rows):
        y = 700 - 40 * r
        frags.append((72, y, "L%d" % ((mid * 7 + r * 3) % 50)))
        frags.append((330, y, "R%d" % ((mid * 11 + r * 5) % 50)))
    if mid % 2 == 1:
        frags.append((100, 700 - 40 * h + 20, "M%02d" % (mid % 50) + "y" * 57))
    frags.reverse()
    return [frags]


def synth_pdf_columns(docs: DataFrame) -> DataFrame:
    """REAL two-column PDF fixture (complete files via the from-scratch
    writer) from the :func:`_pdf_col_plan` formulas — the layout the
    reference's ``sorted_layout_boxes`` recovery exists for
    (ppstructure/recovery/recovery_to_doc.py:81-140). Even doc_ids
    FlateDecode-compress the content stream."""

    def rows(mid: int) -> list[tuple]:
        payload = encode_pdf(_pdf_col_plan(mid), compress=mid % 2 == 0)
        return [(mid, payload, "application/pdf")]

    return map_rows(docs, ["doc_id"], MEDIA_SCHEMA, rows)


PDF_COLUMNS_SCHEMA = (
    "media_id long, page_no int, layout string, n_spanners int, "
    "n_left int, n_right int, text string, n_chars int"
)


def pdf_columns(media: DataFrame) -> DataFrame:
    """PDF payload → per-page text in COLUMN-AWARE reading order: the
    full structural parse, then :func:`~webextract.functions.pdf.
    column_layout_order` — the two-column layout recovery of the
    reference's ``sorted_layout_boxes`` (ppstructure/recovery/
    recovery_to_doc.py:81-140; SURVEY §2 W2) — instead of the plain
    top-to-bottom sort. ``layout`` is ``'double'`` when both columns
    received fragments, else ``'single'``; spanner/column counts are
    reported so the classification itself is oracle-checkable. A NULL
    or malformed payload yields no pages."""

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        parsed = _parsed_pdf(payload, with_widths=True)
        if parsed is None:
            return []
        _, pages, _, _, widths = parsed
        out = []
        for p, frags in enumerate(pages):
            # classify against the page's ACTUAL MediaBox width
            # (A4 / landscape pages get their own quartiles,
            # like the reference passing the real image w)
            ordered = column_layout_order(frags, page_width=widths[p])
            sides = [side for _, side in ordered]
            n_left = sides.count("left")
            n_right = sides.count("right")
            joined = " ".join(f[2] for f, _ in ordered)
            layout = "double" if n_left and n_right else "single"
            out.append((mid, p + 1, layout, sides.count("single"),
                        n_left, n_right, joined, len(joined)))
        return out

    return map_rows(media, ["media_id", "payload"], PDF_COLUMNS_SCHEMA, rows)


ANY_EXTRACT_SCHEMA = (
    "media_id long, fmt string, n_pages int, text string, n_chars int"
)


def extract_any(media: DataFrame, cfg=None) -> DataFrame:
    """Single-pass multi-format content extraction — the complete
    ``check_and_read`` graft (ppocr/utils/utility.py:94-124, where ONE
    reader dispatches GIF/PDF/image per file): each payload is sniffed
    per element inside ONE Arrow stage and routed to the matching real
    parser. ``%PDF-`` → full structural PDF parse, reading-order page
    texts joined by blank lines (a malformed PDF is dropped); anything
    else, a NULL payload included, → the fused HTML block pipeline
    (charset decode → tokenize → score → span-merge,
    ``functions/extract.py::extract_page``). One JVM↔Python crossing
    for the whole mixed corpus — no per-format filter/union re-scan.
    """
    cfg = cfg or ExtractConfig()

    def rows(mid: int, payload: bytes | None) -> list[tuple]:
        b = payload or b""
        if not b.startswith(b"%PDF-"):
            text = extract_page(b, cfg)["text"]
            return [(mid, "html", 1, text, len(text))]
        parsed = _parsed_pdf(b)
        if parsed is None:
            return []
        pages = parsed[1]
        text = "\n\n".join(
            " ".join(t for _, _, t in reading_order(fr)) for fr in pages
        )
        return [(mid, "pdf", len(pages), text, len(text))]

    return map_rows(media, ["media_id", "payload"], ANY_EXTRACT_SCHEMA, rows)
