"""Charset sniff/decode rules (frozen — byte-identity depends on them)."""

from webextract.functions.htmlnorm import decode_html, sniff_charset


def test_utf8_plain():
    assert decode_html("héllo".encode()) == "héllo"
    assert sniff_charset("héllo".encode()) == "utf-8"


def test_bom_stripped():
    assert decode_html(b"\xef\xbb\xbfabc") == "abc"
    assert sniff_charset(b"\xef\xbb\xbfabc") == "utf-8-bom"


def test_meta_charset_used_when_not_utf8():
    raw = b'<meta charset="iso-8859-1"><p>caf\xe9</p>'
    assert sniff_charset(raw) == "iso-8859-1"
    assert "café" in decode_html(raw)


def test_meta_content_attr_form():
    raw = b'<meta http-equiv="Content-Type" content="text/html; charset=windows-1252"><p>\x93q\x94</p>'
    assert sniff_charset(raw) == "windows-1252"
    assert "“q”" in decode_html(raw)


def test_mismatch_meta_utf8_with_latin1_bytes_replaces():
    raw = b'<meta charset="utf-8"><p>caf\xe9</p>'
    assert decode_html(raw) == '<meta charset="utf-8"><p>caf�</p>'


def test_unknown_meta_falls_back_latin1():
    raw = b'<meta charset="no-such-codec"><p>\xe9</p>'
    assert sniff_charset(raw) == "latin-1"
    assert decode_html(raw).endswith("<p>\xe9</p>")


def test_total_function_never_raises():
    assert decode_html(b"\xff\xfe\x00\x01garbage") != ""
    assert decode_html(b"") == ""


def _two_step_decode(raw: bytes) -> str:
    """The sniff-then-decode composition of the frozen rules."""
    cs = sniff_charset(raw)
    if cs == "utf-8-bom":
        return raw[3:].decode("utf-8", "replace")
    return raw.decode(cs, "replace")


def test_decode_equals_sniff_then_decode():
    import random

    from webextract.sources.pages import gen_fixture_pages

    pages = [p["html"] for p in gen_fixture_pages()]
    rng = random.Random(7)
    heads = [b"", b"\xef\xbb\xbf"] + [
        b'<meta charset="%s">' % cs
        for cs in (b"utf-8", b"iso-8859-1", b"windows-1252", b"shift_jis", b"no-such")
    ]
    alphabet = b"ab<>\xc3\xa9\xe9\x93\xff\x00 "
    for _ in range(2000):
        n = rng.randrange(0, 64)
        if rng.random() < 0.5:
            body = rng.randbytes(n)
        else:
            body = bytes(rng.choice(alphabet) for _ in range(n))
        pages.append(rng.choice(heads) + body)
    pages.append(b'<meta charset="utf-8"><p>caf\xe9</p>')
    pages.append(b"\xef\xbb\xbfcaf\xe9")
    for raw in pages:
        assert decode_html(raw) == _two_step_decode(raw), raw[:80]


def test_utf8_page_cut_inside_a_character_stays_utf8():
    # 64 bytes of "<p>" + 200 "é" end on the first byte of the 31st "é":
    # the cut character is dropped, the page does not turn latin-1
    from webextract.config import ExtractConfig
    from webextract.functions import extract_page

    cfg = ExtractConfig(max_html_bytes=64)
    r = extract_page(b"<p>" + "é".encode() * 200, cfg)
    assert r["truncated"] is True
    assert r["text"] == "é" * 30
    # a cut between characters was already fine and stays so
    assert extract_page(b"<p>a" + "é".encode() * 200, cfg)["text"] == "a" + "é" * 30


def test_cut_decode_drops_only_a_partial_last_character():
    from webextract.functions.htmlnorm import decode_cut_html

    assert decode_cut_html("aé".encode()[:-1]) == "a"
    assert decode_cut_html("a€".encode()[:-1]) == "a"
    assert decode_cut_html(b"\xef\xbb\xbf" + "é".encode() * 2 + b"\xc3") == "éé"
    # a lone lead byte at the end reads as a cut character, even on a
    # page that would otherwise fall to its META charset
    assert decode_cut_html(b'<meta charset="iso-8859-1">caf\xe9').endswith('">caf')
    # whole characters, or bytes that are not utf-8 before the end,
    # take the uncut rules
    assert decode_cut_html("aé".encode()) == decode_html("aé".encode())
    for raw in (b"caf\xe9 ok\xc3", b'<meta charset="iso-8859-1">caf\xe9 ok', b"ab\xff"):
        assert decode_cut_html(raw) == decode_html(raw)
