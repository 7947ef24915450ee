"""DOM block tokenizer: canonical html text → columnar block table.

The analog of the reference's detection stage: where PaddleOCR's DB
detector turns an image into K quadrilateral text regions
(tools/infer/predict_det.py:271-282), we turn an HTML document into K
text blocks with char-offset spans. Output is COLUMNAR (dict of
parallel lists) so the scorer can run vectorized numpy over it —
mirroring how the reference batches crops into one tensor
(tools/infer/predict_rec.py:480) but end-to-end.

Two interchangeable event front-ends drive ONE block state machine
(``_BlockSink``):

 * the REFERENCE front-end — stdlib ``html.parser`` (tolerant,
   battle-tested, defines the frozen semantics);
 * the FAST front-end — ``webextract.functions.fastscan``, one
   compiled-regex ``findall`` per page over a strict HTML grammar:
   text, start/self-closing tags with well-formed attributes, strict
   end tags, comments, doctypes without ``[``, ``<?...>`` and
   script/style elements through their strict close. A page holding
   anything else bails, whole, to the reference front-end.

The fast front-end also reads a leaf, ``<name ...>text</name>`` with no
``<`` in the text, as one event: ``_BlockSink.leaf(name, text)``, which
leaves the sink exactly as ``starttag; data; endtag`` would. A block
leaf outside a skip subtree flushes the enclosing block if it holds
text, appends its own row straight to the columns and restores the
enclosing block's fields; ``<a>`` counts one link whose text is link
text; another inline leaf is its text; spacing voids and ``SKIP_TAGS``
take the three events. Every block boundary (a block start, end, leaf
or run) calls ``_flush`` only when the enclosing block holds text;
otherwise it only resets the block's link count.

A run of adjacent same-name sibling leaves, ``<p>a</p><p>b</p>...``,
reaches the sink as one call, ``_BlockSink.leaves(name, texts)``, which
leaves the sink exactly as a ``leaf`` per text would. A run of a block
tag outside pre, link and skip state flushes the enclosing block once,
decodes only the texts holding ``&``, checks the canonical form once
over the space-joined texts and extends the seven columns with C-level
list operations; any other run takes the per-leaf calls. A page of
12,000 ``<p>`` paragraphs thus costs five sink calls instead of 12,004.

``tokenize_blocks(text)`` uses fast-with-fallback by default;
``engine="reference"`` forces the stdlib path (differential tests
compare the two on fixtures + fuzz, tests/test_fastscan.py).

Frozen canonicalization rules (byte-identity depends on them):
 * entities decoded (``convert_charrefs=True``): ``&amp;`` → ``&``,
   numeric refs → the codepoint;
 * within a non-``<pre>`` block, every run of unicode whitespace
   (including NBSP) collapses to one ASCII space; leading/trailing
   stripped. That is ``" ".join(s.split())``, which ``_canon`` skips
   when ``_is_canonical(s)``: ``s`` is printable, holds no ``"  "`` and
   neither starts nor ends with a space. The shortcut is exact: every
   ``isspace()`` character but U+0020 is in category Cc, Zs, Zl or Zp
   and so not printable (checked over all code points in
   tests/test_tokenizer.py), and ``split()`` then only cuts at single
   interior spaces, which the join puts back. An ASCII string of at
   least ``_NP_CANON_MIN`` characters takes the same check in one numpy
   pass over its bytes. It is exact because an ASCII character is
   printable exactly when its byte is in 0x20-0x7E (checked over all
   128 code points), so one ``min()`` and one ``max()`` decide
   printability; a ``0x2020`` in the uint16 views at even and at odd
   byte offsets is a double space. The floor exists because the numpy
   pass has a fixed cost of ~22 us against ~5 ns per character for the
   str methods (4-vCPU x86), so it breaks even near 5 KB; above the
   floor sit the giant page's runs, below it every bulk page's text;
 * within ``<pre>``, whitespace is verbatim except one leading and one
   trailing newline are stripped;
 * blocks that canonicalize to "" are dropped (the analog of the ≤3px
   box filter, predict_det.py:191-205);
 * content inside ``script/style/template/noscript/head/svg/iframe``
   and comments is excluded (hard-exclusion predicate, the analog of
   the out-of-region filter ppstructure/table/matcher.py:182-192);
 * ``doc_text`` = block texts joined by "\n"; block (start,end) are
   offsets into it.
"""

from __future__ import annotations

from collections.abc import Iterable
from html.parser import HTMLParser
from html import unescape
from typing import Any

import numpy as np

from webextract.config import BLOCK_TAGS, BOILER_TAGS, SKIP_TAGS
from webextract.functions import fastscan

# self-closing whitespace-ish tags: contribute a space, never open blocks
_SPACING_VOID = {"br", "wbr", "hr", "img"}
# tags whose leaf takes the three events: no shortcut pays for them
_EVENT_LEAF = frozenset(_SPACING_VOID | SKIP_TAGS)
# block tags whose leaf run outside pre, link and skip state goes
# straight into the columns
_RUN_BLOCK = BLOCK_TAGS - _EVENT_LEAF - {"pre"}


# the shortest ASCII text the numpy canonical check takes: above the
# ~5 KB crossover with the str methods (see the module docstring)
_NP_CANON_MIN = 8192


def _ascii_canonical(s: str) -> bool:
    """``_is_canonical`` for non-empty ASCII ``s``, in one numpy pass
    over its bytes."""
    if s[0] == " " or s[-1] == " ":
        return False
    a = np.frombuffer(s.encode("ascii"), np.uint8)
    if a.min() < 0x20 or a.max() > 0x7E:
        return False
    even = len(a) & ~1
    odd = (len(a) - 1) & ~1
    return not (
        (a[:even].view(np.uint16) == 0x2020).any()
        or (a[1 : 1 + odd].view(np.uint16) == 0x2020).any()
    )


def _is_canonical(s: str) -> bool:
    """True when ``s`` is printable, holds no ``"  "`` and neither
    starts nor ends with a space: then ``" ".join(s.split()) == s``."""
    if len(s) >= _NP_CANON_MIN and s.isascii():
        return _ascii_canonical(s)
    return s.isprintable() and "  " not in s and s[:1] != " " and s[-1:] != " "


def _canon(fragments: Iterable[str]) -> str:
    """Frozen whitespace canonicalization for non-pre blocks. Text that
    is already canonical is returned as joined: it is what the
    split/join gives."""
    s = "".join(fragments)
    if _is_canonical(s):
        return s
    return " ".join(s.split())


def _canon_pre(fragments: Iterable[str]) -> str:
    s = "".join(fragments)
    if s.startswith("\n"):
        s = s[1:]
    if s.endswith("\n"):
        s = s[:-1]
    return s


class _BlockSink:
    """The block state machine. Consumes the html.parser-equivalent
    event stream (starttag/endtag/startendtag/data) from either
    front-end and accumulates the columnar block table."""

    reference = False  # set by scan_blocks when html.parser drove the sink

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.open_counts: dict[str, int] = {}  # per-tag open count (O(1) membership)
        self.block_stack: list[str] = []       # open BLOCK_TAGS, innermost last
        self.skip_depth = 0          # >0 ⇒ inside a SKIP_TAGS subtree
        self.boiler_depth = 0        # >0 ⇒ inside a BOILER_TAGS subtree
        self.pre_depth = 0           # >0 ⇒ inside <pre>
        self.link_depth = 0          # >0 ⇒ inside <a>
        self.frags: list[str] = []
        self.link_frags: list[str] = []
        self.n_links_in_block = 0
        self.block_tag = "body"      # nearest enclosing block tag
        self.block_was_pre = False
        self.block_boiler = False
        self.block_depth = 0
        # columnar output
        self.tags: list[str] = []
        self.depths: list[int] = []
        self.texts: list[str] = []
        self.link_lens: list[int] = []
        self.n_links: list[int] = []
        self.boilers: list[bool] = []
        self.pres: list[bool] = []

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        """Emit the open block's row, if its text canonicalizes to
        anything, and start an empty block. The sink's block boundaries
        call it only when ``frags`` holds text."""
        if self.block_was_pre:
            text = _canon_pre(self.frags)
        else:
            text = _canon(self.frags)
        if text:
            self.tags.append(self.block_tag)
            self.depths.append(self.block_depth)
            self.texts.append(text)
            self.link_lens.append(
                len(_canon(self.link_frags)) if self.link_frags else 0
            )
            self.n_links.append(self.n_links_in_block)
            self.boilers.append(self.block_boiler)
            self.pres.append(self.block_was_pre)
        self.frags = []
        self.link_frags = []
        self.n_links_in_block = 0

    def _begin_block(self, tag: str) -> None:
        if self.frags:
            self._flush()
        else:                        # link_frags is empty when frags is
            self.n_links_in_block = 0
        self.block_tag = tag
        self.block_depth = len(self.stack)
        self.block_boiler = self.boiler_depth > 0
        self.block_was_pre = self.pre_depth > 0

    # -- event stream ----------------------------------------------------
    def starttag(self, tag: str) -> None:
        if tag in _SPACING_VOID:
            if not self.skip_depth:
                self.frags.append(" ")
                if self.link_depth:
                    self.link_frags.append(" ")
            return
        self.stack.append(tag)
        self.open_counts[tag] = self.open_counts.get(tag, 0) + 1
        if tag in SKIP_TAGS:
            self.skip_depth += 1
        if tag in BOILER_TAGS:
            self.boiler_depth += 1
        if tag == "pre":
            self.pre_depth += 1
        if tag == "a":
            self.link_depth += 1
            if not self.skip_depth:
                self.n_links_in_block += 1
        if tag in BLOCK_TAGS:
            self.block_stack.append(tag)
            if not self.skip_depth:
                self._begin_block(tag)

    def endtag(self, tag: str) -> None:
        if tag in _SPACING_VOID:
            return
        # tolerant unwinding for malformed html: pop to nearest match
        if self.open_counts.get(tag, 0) > 0:
            while self.stack:
                t = self.stack.pop()
                self.open_counts[t] -= 1
                if t in SKIP_TAGS:
                    self.skip_depth -= 1
                if t in BOILER_TAGS:
                    self.boiler_depth -= 1
                if t == "pre":
                    self.pre_depth -= 1
                if t == "a":
                    self.link_depth -= 1
                if t in BLOCK_TAGS:
                    self.block_stack.pop()
                if t == tag:
                    break
        if tag in BLOCK_TAGS and not self.skip_depth:
            # closing a block flushes it; enclosing block tag resumes
            if self.frags:
                self._flush()
            else:
                self.n_links_in_block = 0
            self.block_tag = self.block_stack[-1] if self.block_stack else "body"
            self.block_depth = len(self.stack)
            self.block_boiler = self.boiler_depth > 0
            self.block_was_pre = self.pre_depth > 0

    def startendtag(self, tag: str) -> None:
        self.starttag(tag)
        if tag not in _SPACING_VOID:  # starttag pushed it
            self.endtag(tag)

    def data(self, d: str) -> None:
        if self.skip_depth or not d:
            return
        self.frags.append(d)
        if self.link_depth:
            self.link_frags.append(d)

    def leaf(self, tag: str, text: str) -> None:
        """``starttag(tag); data(text); endtag(tag)`` in one call, for an
        element whose whole content is one text run: the state after it
        is exactly the state after the three events."""
        if tag in _EVENT_LEAF:
            self.starttag(tag)
            self.data(text)
            self.endtag(tag)
            return
        # a push and its pop leave the tag's count as it was, key present
        self.open_counts.setdefault(tag, 0)
        if tag == "a":
            if not self.skip_depth:
                self.n_links_in_block += 1
                if text:
                    self.frags.append(text)
                    self.link_frags.append(text)
        elif tag in BLOCK_TAGS:
            if self.skip_depth:
                return
            # the leaf's own block, between the enclosing block's flush
            # and its resumption (BOILER_TAGS and pre are block tags),
            # goes straight into the columns
            if self.frags:
                self._flush()
            else:
                self.n_links_in_block = 0
            boiler = self.boiler_depth > 0
            was_pre = self.pre_depth > 0
            pre = was_pre or tag == "pre"
            block_text = _canon_pre((text,)) if pre else _canon((text,))
            if block_text:
                self.tags.append(tag)
                self.depths.append(len(self.stack) + 1)
                self.texts.append(block_text)
                # link text is measured non-pre, even in a pre block
                self.link_lens.append(
                    (len(_canon((text,))) if pre else len(block_text))
                    if self.link_depth else 0
                )
                self.n_links.append(0)
                self.boilers.append(boiler or tag in BOILER_TAGS)
                self.pres.append(pre)
            self.block_tag = self.block_stack[-1] if self.block_stack else "body"
            self.block_depth = len(self.stack)
            self.block_boiler = boiler
            self.block_was_pre = was_pre
        else:
            self.data(text)

    def leaves(self, tag: str, texts: list[str]) -> None:
        """A run of same-name sibling leaves in one call:
        ``fastscan.each_leaf(self.leaf, tag, texts)``, where ``texts``
        are the n >= 2 raw leaf texts. The state after it is exactly the
        state after those calls."""
        if tag not in _RUN_BLOCK or self.skip_depth or self.pre_depth or self.link_depth:
            fastscan.each_leaf(self.leaf, tag, texts)
            return
        blob = " ".join(texts)
        if "&" in blob:
            texts = [unescape(t) if "&" in t else t for t in texts]
            blob = " ".join(texts)
        self.open_counts.setdefault(tag, 0)
        if self.frags:
            self._flush()
        else:
            self.n_links_in_block = 0
        # with n >= 2 an empty text leaves a double or edge space in the
        # blob, so a canonical blob means every text is canonical and
        # non-empty
        if not _is_canonical(blob):
            texts = [c for t in texts if (c := _canon((t,)))]
        n = len(texts)
        boiler = self.boiler_depth > 0
        zeros = [0] * n
        self.tags += [tag] * n
        self.depths += [len(self.stack) + 1] * n
        self.texts += texts
        self.link_lens += zeros
        self.n_links += zeros
        self.boilers += [boiler or tag in BOILER_TAGS] * n
        self.pres += [False] * n
        self.block_tag = self.block_stack[-1] if self.block_stack else "body"
        self.block_depth = len(self.stack)
        self.block_boiler = boiler
        self.block_was_pre = False


class _BlockParser(HTMLParser):
    """Reference front-end: stdlib html.parser delegating to the sink."""

    def __init__(self, sink: _BlockSink) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = sink

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        self.sink.starttag(tag)

    def handle_endtag(self, tag: str) -> None:
        self.sink.endtag(tag)

    def handle_startendtag(self, tag: str, attrs: Any) -> None:
        self.sink.startendtag(tag)

    def handle_data(self, data: str) -> None:
        self.sink.data(data)


def _run_reference(html_text: str) -> _BlockSink:
    sink = _BlockSink()
    p = _BlockParser(sink)
    try:
        p.feed(html_text)
        p.close()
    except AssertionError:
        # malformed-input tolerance: html.parser's only signal for a
        # declaration it cannot parse (e.g. ``<![foo[``); whatever
        # flushed so far stands. A bug in the sink still raises.
        pass
    return sink


def _check_engine(fn: str, engine: str) -> None:
    if engine not in ("auto", "reference"):
        raise ValueError(f"{fn}: unknown engine {engine!r}")


def scan_blocks(html_text: str, engine: str = "auto") -> _BlockSink:
    """Canonical html text → the flushed block sink. Its parallel lists
    ``tags, depths, texts, link_lens, n_links, boilers, pres`` are the
    page's block columns; the batch extraction path appends them to
    batch-level columns directly. ``sink.reference`` is True when the
    page took the reference path.

    ``engine``: "auto" (fast scanner, reference fallback) or
    "reference" (stdlib html.parser only — the frozen semantics).
    """
    _check_engine("scan_blocks", engine)
    sink = _BlockSink()
    if engine == "reference" or not fastscan.scan(html_text, sink):
        sink = _run_reference(html_text)
        sink.reference = True
    if sink.frags:
        sink._flush()
    return sink


def block_offsets(
    texts: list[str], offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(start, text_len)`` int64 arrays of a block table of several
    pages, page p being blocks ``offsets[p]:offsets[p+1]``: block i's
    length and its start in its page's ``doc_text`` (the page's block
    texts joined by "\\n"). One prefix sum of (length + joiner) over
    the table, minus each page's base; a trailing page with no blocks
    still indexes inside the sums."""
    sizes = offsets[1:] - offsets[:-1]
    text_len = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    before = np.zeros(len(texts) + 1, dtype=np.int64)
    np.add.accumulate(text_len + 1, out=before[1:])
    start = before[:-1] - np.repeat(before[offsets[:-1]], sizes)
    return start, text_len


def tokenize_blocks(html_text: str, engine: str = "auto") -> dict[str, list]:
    """Canonical html text → columnar block table.

    Returns a dict of parallel lists with keys ``block_id, tag, depth,
    text, start, end, text_len, link_text_len, n_links, is_boiler,
    is_pre``. ``start/end`` index into ``doc_text`` (block texts joined
    by "\\n"), returned under key ``doc_text``. ``engine`` as in
    :func:`scan_blocks`.
    """
    _check_engine("tokenize_blocks", engine)
    sink = scan_blocks(html_text, engine)
    n = len(sink.texts)
    start, text_len = block_offsets(sink.texts, np.array([0, n]))
    return {
        "block_id": list(range(n)),
        "tag": sink.tags,
        "depth": sink.depths,
        "text": sink.texts,
        "start": start.tolist(),
        "end": (start + text_len).tolist(),
        "text_len": text_len.tolist(),
        "link_text_len": sink.link_lens,
        "n_links": sink.n_links,
        "is_boiler": sink.boilers,
        "is_pre": sink.pres,
        "doc_text": "\n".join(sink.texts),
    }
