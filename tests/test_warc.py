"""WARC source: framing roundtrip, gzip members, fail-loud.

The format analog of the reference's container fan-out tests
(ppocr/utils/utility.py:94-124 GIF/PDF dispatch): records are
length-framed, synthesis is JVM-side, parsing is one Arrow crossing.
"""

from __future__ import annotations

import datetime as dt
import gzip

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from webextract.sources.warc import (
    _parse_warc_buffer,
    parse_warc,
    synth_warc_segments,
)

UTC = dt.timezone.utc


def _pages(spark, n=40):
    rows = [
        (
            f"https://host{i % 5}.example/doc/{i}",
            dt.datetime.fromtimestamp(1_704_067_200 + i, tz=UTC),
            f"<html><body><p>page {i} é&amp;</p></body></html>".encode(),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")


def test_warc_roundtrip(spark):
    pages = _pages(spark)
    segs = synth_warc_segments(pages, n_segments=4)
    assert segs.count() <= 4
    back = parse_warc(segs)
    got = {
        (r.url, r.ts_s, bytes(r.html))
        for r in back.collect()
    }
    want = {
        (r.url, int(r.warc_ts.replace(tzinfo=UTC).timestamp()), bytes(r.html))
        for r in pages.collect()
    }
    assert got == want


def test_warc_segments_deterministic(spark):
    pages = _pages(spark)
    a = {(r.segment_id, bytes(r.payload)) for r in synth_warc_segments(pages).collect()}
    b = {
        (r.segment_id, bytes(r.payload))
        for r in synth_warc_segments(pages.repartition(7)).collect()
    }
    assert a == b


def _record(url: str, ts: str, html: bytes, warc_type=b"response", ver=b"WARC/1.0"):
    http = b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n%s" % (len(html), html)
    head = (
        ver + b"\r\nWARC-Type: " + warc_type
        + b"\r\nWARC-Target-URI: " + url.encode()
        + b"\r\nWARC-Date: " + ts.encode()
        + b"\r\nContent-Length: %d\r\n\r\n" % len(http)
    )
    return head + http + b"\r\n\r\n"


def test_parse_skips_non_response_and_tolerates_warc11():
    info = b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nxyz\n\r\n\r\n"
    req = _record("https://a.example/", "2024-01-01T00:00:00Z", b"GET", b"request")
    resp = _record(
        "https://a.example/", "2024-01-01T00:00:07Z", b"<p>WARC/1.0</p>", ver=b"WARC/1.1"
    )
    out = list(_parse_warc_buffer(info + req + resp))
    # the html body containing the magic string must not desync framing
    assert out == [("https://a.example/", 1_704_067_207, b"<p>WARC/1.0</p>")]


def test_parse_gzip_members():
    recs = [
        _record(f"https://g.example/{i}", "2024-01-01T00:00:00Z", b"<i>%d</i>" % i)
        for i in range(5)
    ]
    buf = b"".join(gzip.compress(r) for r in recs)  # one member per record
    out = list(_parse_warc_buffer(buf))
    assert [u for u, _, _ in out] == [f"https://g.example/{i}" for i in range(5)]
    assert out[3][2] == b"<i>3</i>"


def test_parse_fail_loud_on_bad_framing(spark):
    r = _record("https://x.example/", "2024-01-01T00:00:00Z", b"<p>hi</p>")
    with pytest.raises(ValueError):
        list(_parse_warc_buffer(r[:-10]))  # truncated body
    with pytest.raises(ValueError):
        list(_parse_warc_buffer(b"GARBAGE\r\n\r\n" + r))
    no_len = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
    with pytest.raises(ValueError):
        list(_parse_warc_buffer(no_len))
    # a NULL segment payload fails the job and names the column
    null = spark.createDataFrame([(None,)], "content binary")
    with pytest.raises(PythonException, match="NULL 'content' payload"):
        parse_warc(null, payload_col="content").collect()
