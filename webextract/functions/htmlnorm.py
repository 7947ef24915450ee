"""Charset sniffing + canonical decode of raw html bytes.

The analog of the reference's byte→ndarray decode step:
``img_decode`` (paddleocr.py:425-427) and ``DecodeImage``
(ppocr/data/imaug/operators.py:30-68). Determinism rules are FROZEN —
they define byte-identity of the extracted text (SURVEY.md §7).

Frozen decode rules, applied in order:
 1. UTF-8 BOM present → strip BOM, decode utf-8 (errors → U+FFFD).
 2. Bytes decode as strict utf-8 → utf-8.
 3. A ``<meta charset=...>`` / ``content=...charset=...`` declaration in
    the first 2048 bytes names a Python-known codec → that codec
    (errors → U+FFFD).
 4. Fallback: latin-1 (total function — never raises).

Bytes cut at a size limit (``ExtractConfig.max_html_bytes``) first
drop an incomplete utf-8 sequence at their very end when every byte
before it is strict utf-8: the cut, not the page, broke that last
character, so the page still takes rule 1 or 2 instead of falling to
rule 3 or 4 (:func:`decode_cut_html`). Any other cut bytes go to the
rules unchanged.
"""

from __future__ import annotations

import codecs
import re

_BOM = codecs.BOM_UTF8
# matches <meta charset="utf-8"> and <meta http-equiv=... content="text/html; charset=iso-8859-1">
_META_CHARSET = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]{2,32})""",
    re.IGNORECASE,
)


def _declared_charset(raw: bytes) -> str:
    """Rules 3–4 for bytes that are not strict utf-8: a Python-known
    META declaration, else latin-1."""
    m = _META_CHARSET.search(raw[:2048])
    if m:
        name = m.group(1).decode("ascii", "ignore").lower()
        try:
            codecs.lookup(name)
            return name
        except LookupError:
            pass
    return "latin-1"


def sniff_charset(raw: bytes) -> str:
    """Return the frozen charset decision for *raw* (name only)."""
    if raw.startswith(_BOM):
        return "utf-8-bom"
    try:
        raw.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        return _declared_charset(raw)


def decode_html(raw: bytes) -> str:
    """bytes → canonical unicode text (total; never raises). Applies the
    rules of :func:`sniff_charset`, but a valid utf-8 page is decoded
    once: rule 2's strict decode is the result."""
    if raw.startswith(_BOM):
        return raw[len(_BOM):].decode("utf-8", "replace")
    try:
        return raw.decode("utf-8", "strict")
    except UnicodeDecodeError:
        pass
    # "replace", not "strict": a META declaration may name utf-8 for
    # bytes that aren't valid utf-8
    return raw.decode(_declared_charset(raw), "replace")


def decode_cut_html(raw: bytes) -> str:
    """:func:`decode_html` for bytes cut at a size limit: an incomplete
    utf-8 sequence at the end is dropped first when the bytes before
    it are strict utf-8 (see the module rules)."""
    tail = codecs.getincrementaldecoder("utf-8")()
    try:
        tail.decode(raw, final=False)
    except UnicodeDecodeError:
        return decode_html(raw)
    return decode_html(raw[: len(raw) - len(tail.getstate()[0])])
