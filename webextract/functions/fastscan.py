"""Fast HTML event scanner: a drop-in front-end for the block
tokenizer that replaces ``html.parser``'s per-construct event loop with
ONE compiled-regex ``findall`` per page, while guaranteeing IDENTICAL
event streams.

Strategy (the analog of the reference's fused preprocess fast path,
SURVEY.md §4): the page is tokenized against a strict subset of HTML
whose html.parser events are unambiguous, and each token goes straight
to the sink. The grammar accepts

 * text runs, including a lone ``<`` not followed by a name start,
   ``/``, ``!`` or ``?`` (entities decoded only when the run holds
   ``&``);
 * start and self-closing tags: an ASCII name, then attributes that
   are each preceded by ASCII whitespace, named without quotes, ``<``
   or ``=``, and valued by one ``=`` and a quoted or a bare value. A
   bare value runs to whitespace or ``>`` and may end in ``/``, so
   ``<a href=x/>`` is a start tag, as html.parser reads it;
 * strict end tags (html.parser's ``endtagfind``);
 * comments, ``<!doctype ...>`` without ``[``, and ``<?...>``;
 * ``script``/``style`` elements through their strict close. Their
   content lies inside ``SKIP_TAGS``, so it emits no data;
 * leaves: ``<name ATTRS>text</name>``, an element whose whole content
   is one text run with no ``<``, closed by the same name in the same
   case (``\\s*`` before its ``>``, as ``endtagfind`` allows). A leaf is
   ONE event, ``sink.leaf(name, text)``, which must leave the sink
   exactly as ``starttag(name); data(text); endtag(name)`` would. It is
   tried before the start-tag alternative and never matches script or
   style; a self-closing tag, another case in the close, or a ``<`` in
   the text leaves the element to the separate events;
 * leaf runs: a leaf followed directly by same-name sibling leaves,
   each a bare ``<name>text</name>`` (no attributes, the name in the
   same case, nothing between the items, the close exact), is ONE token
   and ONE event, ``sink.leaves(name, texts)`` with the raw texts. It
   must leave the sink exactly as ``each_leaf`` does, a ``leaf`` per
   decoded text. One ``str.split`` at ``</name><name>`` cuts the run.
   Anything else after a leaf (whitespace, attributes, a spaced close)
   ends the run, and the next element is its own token.

Anything else (unicode whitespace inside a tag, ``a==b``, a bogus end
tag, a marked section, an unterminated construct) makes the last token
the catch-all, and the WHOLE page is parsed by the reference
``html.parser`` front-end instead. Byte-identity is therefore preserved
by construction on the bail-out path and verified by differential
fuzzing (tests/test_fastscan.py) on the fast path. Every repetition is
possessive, so no alternative backtracks: a page is one linear pass.

The event sink contract matches ``_BlockParser``:
``starttag(name) / endtag(name) / startendtag(name) / data(text)``
with lowercased names and entity-decoded text (convert_charrefs), plus
``leaf(name, text)`` and ``leaves(name, texts)``, which html.parser
never calls; ``leaves`` gets its texts raw, to decode only those that
hold ``&``. A sink without ``leaf`` gets a leaf as those three events
(``data`` only for non-empty text), and a sink without ``leaves`` gets a
run as ``each_leaf`` gives it, so any html.parser-shaped sink still
reads the fast path and sees the events it always saw.
"""

from __future__ import annotations

import re
from functools import partial
from html import unescape

_WS = r"[\t\n\r\f ]"  # html.parser's ``\s`` is unicode: other spaces bail
_ATTR = (
    r"""[^\s"'<=>/\x00]++"""
    rf"""(?:{_WS}*+={_WS}*+(?:"[^"]*+"|'[^']*+'|[^\s"'<=>\x00][^\s"'<>\x00]*+))?+"""
)
_ATTRS = rf"(?:{_WS}++{_ATTR})*+{_WS}*+"


def _ci(name: str) -> str:
    """ASCII-only case-insensitive pattern for ``name``."""
    return "".join(f"[{c}{c.upper()}]" for c in name)


def _raw_element(name: str) -> str:
    """``<name ...>`` through the first close html.parser's CDATA mode
    searches for (``</\\s*name\\s*>``, unicode-case-insensitive), which
    must then be the ASCII close its ``endtagfind`` accepts; or
    ``<name .../>``. Both give starttag then endtag: the content would
    be data inside ``SKIP_TAGS``, and the sink takes the pair exactly
    as the startendtag html.parser gives ``<name/>``."""
    return (
        rf"({_ci(name)})(?=[\t\n\r\f />]){_ATTRS}(?:/>|>"
        rf"(?:[^<]++|<(?!/\s*+(?i:{name})\s*+>))*+</\s*+{_ci(name)}\s*+>)"
    )


# one token per construct: the text run before it (group 1), then a
# leaf's tag name and text (groups 2, 3) and the run of same-name
# sibling leaves after it (group 4), the start tag name and its
# self-closing '/', the end tag name, the script or style element; a
# comment, doctype or PI sets no group. Group 10, the catch-all, takes
# the rest of the page from a '<' nothing else reads: the page bails. A
# trailing text run ends at \Z, and no token is empty.
_GRAMMAR = re.compile(
    r"(?!\Z)((?:[^<]++|<(?![a-zA-Z/!?]))*+)(?:<(?:"
    rf"(?!(?:{_ci('script')}|{_ci('style')})[\t\n\r\f />])"
    rf"(?:(?P<leaf>[a-zA-Z][-.:a-zA-Z0-9_]*+){_ATTRS}>([^<]*+)</(?P=leaf)\s*+>"
    rf"((?:<(?P=leaf)>[^<]*+</(?P=leaf)>)*+)"
    rf"|([a-zA-Z][-.:a-zA-Z0-9_]*+){_ATTRS}(/?)>)"
    r"|/\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>"
    rf"|{_raw_element('script')}|{_raw_element('style')}"
    r"|!--(?:[^-]++|-(?!-\s*+>))*+--\s*+>"
    rf"|!{_ci('doctype')}[^>\[]*+>"
    r"|\?[^>]*+>"
    r")|((?s:.+))|\Z)"
)


def _run_texts(name: str, first: str, run: str) -> list[str]:
    """The raw texts of the leaf run whose first text is ``first`` and
    whose tail of adjacent ``<name>text</name>`` items is ``run``."""
    texts = run[len(name) + 2 : -len(name) - 3].split(f"</{name}><{name}>")
    texts.insert(0, first)
    return texts


class _Bail(Exception):
    pass


def scan(s: str, sink) -> bool:
    """Drive ``sink`` with the html.parser-equivalent event stream for
    ``s``. Returns True on success; False if the document needs the
    reference parser (caller falls back)."""
    try:
        _scan(s, sink)
        return True
    except _Bail:
        return False


def _three_events(sink):
    """``sink.leaf`` for a sink that only takes html.parser's events."""

    def leaf(tag: str, text: str) -> None:
        sink.starttag(tag)
        if text:
            sink.data(text)
        sink.endtag(tag)

    return leaf


def each_leaf(leaf, tag: str, texts: list[str]) -> None:
    """A leaf run as per-item events: each raw text, decoded, as
    ``leaf(tag, text)``. ``sink.leaves`` must leave the sink as this
    does."""
    for text in texts:
        leaf(tag, unescape(text) if "&" in text else text)


def _scan(s: str, sink) -> None:
    tokens = _GRAMMAR.findall(s)
    if tokens and tokens[-1][9]:
        raise _Bail
    data, start, end = sink.data, sink.starttag, sink.endtag
    leaf = getattr(sink, "leaf", None) or _three_events(sink)
    leaves = getattr(sink, "leaves", None) or partial(each_leaf, leaf)
    for text, leaf_tag, leaf_text, run, tag, slash, etag, script, style, _ in tokens:
        if text:
            data(unescape(text) if "&" in text else text)
        if leaf_tag:
            if run:
                leaves(leaf_tag.lower(), _run_texts(leaf_tag, leaf_text, run))
            else:
                leaf(leaf_tag.lower(), unescape(leaf_text) if "&" in leaf_text else leaf_text)
        elif tag:
            if slash:
                sink.startendtag(tag.lower())
            else:
                start(tag.lower())
        elif etag:
            end(etag.lower())
        elif script or style:
            name = (script or style).lower()
            start(name)
            end(name)
