"""WARC (Web ARChive, ISO 28500) source: the on-disk format of
Common Crawl, the corpus the input contract models.

The reference ingests raster files through a format-sniffing reader
(``ppocr/utils/utility.py:94-124`` decides img/GIF/PDF per file and
fans records out of containers); the web analog of that container
walk is the WARC file: a concatenation of length-framed records
(``WARC/1.0`` header block, ``Content-Length`` octet framing, CRLF
CRLF record separator), usually as concatenated per-record gzip
members so byte ranges stay seekable.

Spark-first shape:

 * One WARC file (or synthesized segment) = ONE row carrying a binary
   payload. At 100 TB the caller reads that row set with
   ``spark.read.format("binaryFile")`` over ~1 GB ``.warc.gz`` objects
   — thousands of files spread across executors, no shuffle at all;
   parallelism is the file count (Common Crawl ships ~72k files per
   monthly snapshot, far above any executor count).
 * :func:`parse_warc` is ONE ``mapInArrow`` crossing on the partition
   loop extraction runs on (``operators.extract.map_rows``) — the
   per-record Python loop is amortized over the thousands of records
   inside each payload, exactly the batching argument of the
   extraction stage (SURVEY §2.10). Everything downstream (extract,
   dedup, quality) stays on the already-parallel (url, ts, html) rows.
 * Synthesis (:func:`synth_warc_segments`) is 100% JVM built-ins:
   record framing is string concat + ``octet_length`` arithmetic, and
   the per-segment byte blob is a sorted ``collect_list`` folded with
   ``F.aggregate`` — a single groupBy shuffle keyed on segment_id.

Fail-loud rule: a malformed record (bad framing, missing mandatory
header) raises rather than silently skipping bytes — at crawl scale a
silent resync hides systematic truncation.
"""

from __future__ import annotations

import calendar
import time
import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webextract.operators.extract import map_rows

_CRLF = "\r\n"
_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"  # Spark pattern
_DATE_FMT_PY = "%Y-%m-%dT%H:%M:%SZ"

PARSED_SCHEMA = "url string, ts_s long, html binary"


# ---------------------------------------------------------------------------
# synthesis (JVM-side): pages -> framed WARC segment blobs
# ---------------------------------------------------------------------------


def warc_record(url: Column, warc_ts: Column, html: Column) -> Column:
    """A single framed WARC/1.0 response record as a binary column.

    ``Content-Length`` frames the HTTP block in octets (html is binary,
    so ``F.length`` is already a byte count); the HTTP block carries
    its own ``Content-Length`` for the entity body, like a real crawl
    capture. Pure JVM concat — no Python.
    """
    html_len = F.length(html)
    http_head = F.concat(
        F.lit(
            "HTTP/1.1 200 OK" + _CRLF + "Content-Type: text/html; charset=UTF-8"
            + _CRLF + "Content-Length: "
        ),
        html_len.cast("string"),
        F.lit(_CRLF + _CRLF),
    )
    # HTTP block = headers + body; WARC Content-Length covers the block
    block_len = F.length(http_head) + html_len
    warc_head = F.concat(
        F.lit("WARC/1.0" + _CRLF + "WARC-Type: response" + _CRLF),
        F.lit("WARC-Target-URI: "),
        url,
        F.lit(_CRLF + "WARC-Date: "),
        F.date_format(warc_ts, _DATE_FMT),
        F.lit(_CRLF + "Content-Length: "),
        block_len.cast("string"),
        F.lit(_CRLF + _CRLF),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"),
        F.encode(http_head, "UTF-8"),
        html,
        F.encode(F.lit(_CRLF + _CRLF), "UTF-8"),
    )


def synth_warc_segments(pages: DataFrame, n_segments: int = 8) -> DataFrame:
    """pages(url, warc_ts, html, …) → (segment_id, payload) WARC blobs.

    Deterministic: records are bucketed by url hash and concatenated in
    url order inside each segment (``sort_array`` over structs), so the
    same input always yields byte-identical segments. One shuffle
    (groupBy segment_id); the fold is ``F.aggregate`` over the
    collected record list — no Python anywhere.
    """
    rec = warc_record(F.col("url"), F.col("warc_ts"), F.col("html"))
    seg = F.pmod(F.abs(F.xxhash64("url")), F.lit(n_segments))
    return (
        pages.select(seg.alias("segment_id"), F.struct(F.col("url"), rec.alias("rec")).alias("s"))
        .groupBy("segment_id")
        .agg(F.sort_array(F.collect_list("s")).alias("recs"))
        .select(
            "segment_id",
            F.aggregate(
                "recs",
                F.encode(F.lit(""), "UTF-8"),
                lambda acc, x: F.concat(acc, x["rec"]),
            ).alias("payload"),
        )
    )


# ---------------------------------------------------------------------------
# parsing (one mapInArrow crossing): WARC bytes -> (url, ts_s, html)
# ---------------------------------------------------------------------------


def _gunzip_members(buf: bytes) -> bytes:
    """Decompress concatenated gzip members (the Common-Crawl layout:
    one member per record). stdlib ``gzip.decompress`` stops after one
    member on some framings, so loop a raw decompressobj."""
    out = []
    while buf:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.append(d.decompress(buf))
        buf = d.unused_data
        if not d.eof:
            raise ValueError("truncated gzip member in WARC payload")
    return b"".join(out)


def _parse_warc_buffer(buf: bytes) -> Iterator[tuple[str, int, bytes]]:
    """Walk one WARC payload by Content-Length framing (never by
    searching for the next magic — html bodies may contain it).
    Yields (target_uri, epoch_seconds, html_bytes) for response
    records; skips warcinfo/request/metadata records."""
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    i = 0
    n = len(buf)
    while i < n:
        # tolerate inter-record CRLF padding
        while i < n and buf[i : i + 2] == b"\r\n":
            i += 2
        if i >= n:
            break
        eol = buf.find(b"\r\n", i)
        if eol < 0 or not buf[i:eol].startswith(b"WARC/"):
            raise ValueError(f"bad WARC record start at offset {i}")
        hdr_end = buf.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError(f"unterminated WARC header block at offset {i}")
        headers: dict[str, str] = {}
        for line in buf[eol + 2 : hdr_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii")] = v.strip().decode(
                "utf-8", "replace"
            )
        try:
            clen = int(headers["content-length"])
        except KeyError:
            raise ValueError(f"WARC record without Content-Length at offset {i}")
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError(f"Content-Length overruns payload at offset {i}")
        body = buf[body_start : body_start + clen]
        i = body_start + clen
        if headers.get("warc-type") == "response":
            uri = headers["warc-target-uri"]
            ts = calendar.timegm(
                time.strptime(headers["warc-date"], _DATE_FMT_PY)
            )
            p = body.find(b"\r\n\r\n")  # end of the HTTP header block
            if p < 0:
                raise ValueError(f"response record without HTTP block at {i}")
            yield uri, ts, body[p + 4 :]


def parse_warc(segments: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(…, payload binary) → (url, ts_s, html). One Arrow crossing
    through :func:`~webextract.operators.extract.map_rows`; plain or
    per-record-gzip payloads are auto-detected. A NULL payload fails
    the job with a ``ValueError`` naming the segment column."""

    def rows(payload: bytes | None) -> Iterator[tuple[str, int, bytes]]:
        if payload is None:
            raise ValueError(f"WARC segment with a NULL {payload_col!r} payload")
        return _parse_warc_buffer(payload)

    return map_rows(segments, [payload_col], PARSED_SCHEMA, rows)
