"""Tokenizer unit tests: offsets, exclusions, canonicalization.

Direct per-operator tests — a discipline the reference lacks
(SURVEY.md §5.3); its correctness rides on e2e goldens only.
"""

import pytest

from webextract.functions.tokenizer import tokenize_blocks


def test_offsets_slice_doc_text():
    b = tokenize_blocks("<body><p>alpha beta</p><p>gamma</p><div>delta</div></body>")
    doc = b["doc_text"]
    for i in range(len(b["block_id"])):
        assert doc[b["start"][i] : b["end"][i]] == b["text"][i]
    assert b["text"] == ["alpha beta", "gamma", "delta"]
    assert doc == "alpha beta\ngamma\ndelta"


def test_script_style_head_comments_excluded():
    b = tokenize_blocks(
        "<head><title>T</title><style>p{}</style></head>"
        "<body><script>x=1;</script><!-- gone --><template><p>ghost</p></template>"
        "<noscript>nope</noscript><p>visible</p></body>"
    )
    assert b["text"] == ["visible"]


def test_whitespace_collapse_and_entities():
    b = tokenize_blocks("<p>a\r\n  b\t\tc &amp; d &#x2014; e &nbsp; f</p>")
    assert b["text"] == ["a b c & d — e f"]


def test_pre_preserved_verbatim():
    b = tokenize_blocks("<pre>\nline  one\n  indented\n</pre>")
    assert b["text"] == ["line  one\n  indented"]
    assert b["is_pre"] == [True]


def test_empty_blocks_dropped():
    b = tokenize_blocks("<p>   </p><div></div><p>x</p>")
    assert b["text"] == ["x"]


def test_inline_tags_do_not_split():
    b = tokenize_blocks("<p>one <b>two</b> <a href='/'>three</a> four</p>")
    assert b["text"] == ["one two three four"]
    assert b["link_text_len"] == [len("three")]
    assert b["n_links"] == [1]


def test_links_in_skipped_subtree_are_not_counted(spark):
    """An ``<a>`` under a SKIP_TAGS element drops its text and so is no
    link of the enclosing block: fast scanner, reference engine and the
    Spark block facts all count 0 links."""
    from webextract.functions import fastscan
    from webextract.functions.tokenizer import _BlockSink
    from webextract.operators.layout import block_facts

    page = (
        "<p>plain words here <noscript><a href=x>hidden</a>"
        "<a href=y>h2</a></noscript> more</p>"
    )
    assert fastscan.scan(page, _BlockSink())  # no bail: the fast path runs
    for engine in ("auto", "reference"):
        b = tokenize_blocks(page, engine)
        assert b["text"] == ["plain words here more"]
        assert (b["n_links"], b["link_text_len"]) == ([0], [0])
    pages = spark.createDataFrame([("u", page.encode())], ["url", "html"])
    assert [r.n_links for r in block_facts(pages).collect()] == [0]


def test_br_contributes_space():
    b = tokenize_blocks("<p>one<br>two</p>")
    assert b["text"] == ["one two"]


def test_boiler_ancestry_flag():
    b = tokenize_blocks("<nav><div>menu</div></nav><p>content</p>")
    flags = dict(zip(b["text"], b["is_boiler"]))
    assert flags["menu"] is True
    assert flags["content"] is False


def test_malformed_does_not_raise():
    b = tokenize_blocks("<div><p>one<div>two</p></div></span></p>")
    assert "one" in b["text"] and "two" in b["text"]
    # html.parser raises AssertionError on ``<![foo[``: the blocks
    # flushed before the declaration stand
    page = "<body><p>kept before</p><![foo[ x ]]><p>after</p></body>"
    for engine in ("auto", "reference"):
        assert tokenize_blocks(page, engine)["text"][0] == "kept before"


def test_nested_block_tags_flush():
    b = tokenize_blocks("<div>outer head<p>inner</p>outer tail</div>")
    assert b["text"] == ["outer head", "inner", "outer tail"]
    assert b["tag"] == ["div", "p", "div"]


def test_depth_recorded():
    b = tokenize_blocks("<div><div><div><p>deep</p></div></div></div>")
    assert b["depth"][0] == 4


# -- sink bookkeeping invariants (the O(1) refactor's contract) -------------

from hypothesis import example, given, settings
from hypothesis import strategies as st

from webextract.config import BLOCK_TAGS
from webextract.functions import tokenizer
from webextract.functions.tokenizer import (
    _NP_CANON_MIN, _BlockSink, _SPACING_VOID, _canon, _is_canonical,
)

_EVT_TAGS = ["div", "p", "td", "tr", "table", "a", "pre", "script",
             "nav", "span", "b", "br", "ul", "li", "body"]
_events = st.lists(
    st.tuples(st.sampled_from(["start", "end", "startend", "data", "leaf"]),
              st.sampled_from(_EVT_TAGS)),
    max_size=60,
)


@given(_events)
@settings(max_examples=400, deadline=None)
def test_sink_bookkeeping_matches_stack(events):
    """open_counts and block_stack must mirror `stack` after EVERY
    event — the O(1) lookups are only correct if they never diverge
    from the structures they replaced."""
    sink = _BlockSink()
    for kind, tag in events:
        if kind == "start":
            sink.starttag(tag)
        elif kind == "end":
            sink.endtag(tag)
        elif kind == "startend":
            sink.startendtag(tag)
        elif kind == "leaf":
            sink.leaf(tag, "x ")
        else:
            sink.data("x ")
        # invariant 1: open_counts is exactly the multiset of stack —
        # compared BOTH ways (a stack entry missing from open_counts
        # must fail too)
        from collections import Counter
        nonzero = {t: n for t, n in sink.open_counts.items() if n}
        assert nonzero == dict(Counter(sink.stack)), (kind, tag, sink.stack)
        # invariant 2: block_stack is the BLOCK_TAGS subsequence of stack
        assert sink.block_stack == [t for t in sink.stack if t in BLOCK_TAGS]
        # invariant 3: depth counters never go negative
        assert sink.skip_depth >= 0 and sink.boiler_depth >= 0
        assert sink.pre_depth >= 0 and sink.link_depth >= 0
    sink._flush()  # and the sink can always flush


def _replay(events) -> _BlockSink:
    sink = _BlockSink()
    for kind, tag in events:
        if kind == "leaf":
            sink.leaf(tag, "x ")
        elif kind == "data":
            sink.data("x ")
        else:
            getattr(sink, {"start": "starttag", "end": "endtag",
                           "startend": "startendtag"}[kind])(tag)
    return sink


# every kind of leaf: block, boiler block, pre, link, inline, spacing
# void (hr is also a block tag), skip subtree, unknown
_LEAF_TAGS = _EVT_TAGS + ["h1", "header", "footer", "hr", "img", "noscript",
                          "head", "title", "i", "o:p"]
_LEAF_TEXTS = ["", "t", "  two words ", "\nline\n", "\xa0", " "]


@given(_events, st.sampled_from(_LEAF_TAGS), st.sampled_from(_LEAF_TEXTS))
@example(events=[("start", "a")], tag="pre", text="  two words ")
@settings(max_examples=600, deadline=None)
def test_leaf_is_start_data_end(events, tag, text):
    """From any state an event prefix builds, ``leaf(tag, text)`` leaves
    every field of the sink (stack, open_counts, block_stack, the four
    depths, frags, link_frags, the block fields and the seven output
    lists) exactly as ``starttag; data; endtag`` does, and so does the
    final flush."""
    one, three = _replay(events), _replay(events)
    one.leaf(tag, text)
    three.starttag(tag)
    three.data(text)
    three.endtag(tag)
    assert vars(one) == vars(three)
    one._flush()
    three._flush()
    assert vars(one) == vars(three)


# raw leaf texts as the scanner passes them (entities not yet decoded)
_RUN_TEXTS = _LEAF_TEXTS + ["x  y", "a &amp; b", "&nbsp;", "&nbsp;x&lt;", "long text."]


@given(
    _events,
    st.sampled_from(_LEAF_TAGS),
    st.lists(st.sampled_from(_RUN_TEXTS), min_size=2, max_size=6),
)
@example(events=[("start", "pre")], tag="p", texts=["a ", " b"])
@example(events=[("start", "script")], tag="li", texts=["a", "b"])
@example(events=[("start", "a")], tag="p", texts=["a", "b"])
@example(events=[("start", "nav")], tag="li", texts=["a", "b"])
@example(events=[("start", "div"), ("data", "div")], tag="p", texts=["a", "b"])
@example(events=[("start", "p")], tag="a", texts=["x", "&amp;y", ""])
@example(events=[("start", "a")], tag="a", texts=["x", "y"])
@example(events=[], tag="p", texts=["a &amp; b", "&nbsp;x"])
@example(events=[], tag="p", texts=["", " ", "x  y"])
@example(events=[], tag="td", texts=["", "x"])
# joined runs past the numpy floor: canonical, a double space, an edge
# space, an entity and a control character
@example(events=[], tag="p", texts=["ab cd" * 900, "ef gh" * 900])
@example(events=[], tag="p", texts=["ab cd" * 900, "ef  gh" * 900])
@example(events=[], tag="li", texts=["ab cd" * 900, "ef gh" * 900 + " "])
@example(events=[], tag="p", texts=[" ab cd" * 900, "ef gh" * 900])
@example(events=[], tag="p", texts=["a &amp; b" * 600, "ef gh" * 900])
@example(events=[], tag="td", texts=["ab cd" * 900, "ef\x01gh" * 900])
@settings(max_examples=600, deadline=None)
def test_leaves_is_the_per_leaf_events(events, tag, texts):
    """From any state an event prefix builds, ``leaves(tag, texts)``
    leaves every field of the sink exactly as ``leaf`` on each decoded
    text does; and so does the final flush."""
    from html import unescape

    one, per = _replay(events), _replay(events)
    one.leaves(tag, texts)
    for text in texts:
        per.leaf(tag, unescape(text))
    assert vars(one) == vars(per)
    one._flush()
    per._flush()
    assert vars(one) == vars(per)


@given(_events)
@settings(max_examples=200, deadline=None)
def test_sink_spacing_voids_never_enter_stack(events):
    sink = _BlockSink()
    for kind, tag in events:
        if kind == "start":
            sink.starttag(tag)
        elif kind == "end":
            sink.endtag(tag)
    assert not any(t in _SPACING_VOID for t in sink.stack)


# -- the canonical fast check in _canon ------------------------------------

def test_only_the_ascii_space_is_printable_whitespace():
    """The premise of ``_canon``'s shortcut: a printable string's only
    whitespace is U+0020, so ``split()`` cuts nowhere else."""
    assert [
        hex(c) for c in range(0x110000)
        if chr(c).isspace() and chr(c).isprintable() and c != 0x20
    ] == []


# pieces heavy in the whitespace split() cuts at and the check must
# send to the slow path: unprintable spaces, double and edge spaces
_SPACEY = st.lists(
    st.sampled_from(
        [" ", "  ", "\xa0", "\u2028", "\u2003", "\u3000", "\x85", "\x1c",
         "\t", "\n", "a", "bc", "\u00e9", "\u200b", "x y"]
    ),
    max_size=30,
).map("".join)


def _planted(fill: str, piece: str, at: int) -> str:
    s = fill * (_NP_CANON_MIN // len(fill) + 1)
    return s[:at] + piece + s[at:]


# text at least the numpy floor long: a short drawn text repeated past
# the floor, with one drawn piece planted at a drawn offset
_LONG = st.builds(
    _planted,
    st.one_of(st.text(min_size=1, max_size=12), st.sampled_from(["ab cd", "x", "w "])),
    st.one_of(st.text(max_size=4), _SPACEY),
    st.integers(0, _NP_CANON_MIN),
)


@given(st.one_of(st.text(), _SPACEY, _LONG))
@example(" edge")
@example("edge ")
@example("two  spaces")
@example("")
@settings(max_examples=1000, deadline=None)
def test_canon_equals_split_join(s):
    assert _canon([s]) == " ".join(s.split())


def _str_check(s: str) -> bool:
    return s.isprintable() and "  " not in s and s[:1] != " " and s[-1:] != " "


def test_is_canonical_every_ascii_code_point(monkeypatch):
    """The numpy branch's premise: an ASCII character is printable
    exactly when its byte is in 0x20-0x7E. Every ASCII code point, and
    three non-ASCII ones, planted at the start, middle and end of text
    one short of, at and one past the floor, gives the str check's
    answer; ASCII text takes the numpy branch from the floor on."""
    assert [c for c in range(128) if chr(c).isprintable()] == list(range(0x20, 0x7F))
    numpy_check = tokenizer._ascii_canonical
    lengths: list[int] = []
    monkeypatch.setattr(
        tokenizer, "_ascii_canonical", lambda s: lengths.append(len(s)) or numpy_check(s)
    )
    for n in (_NP_CANON_MIN - 1, _NP_CANON_MIN, _NP_CANON_MIN + 1):
        fill = ("abc d" * (n // 5 + 1))[:n]
        del lengths[:]
        assert _is_canonical(fill) and _str_check(fill)
        assert lengths == ([] if n < _NP_CANON_MIN else [n])
        for c in [chr(i) for i in range(128)] + ["\xa0", "\x85", "\u00e9"]:
            for at in (0, n // 2, n - 1):
                s = fill[:at] + c + fill[at + 1 :]
                assert len(s) == n
                assert _is_canonical(s) == _str_check(s), (n, hex(ord(c)), at)


def test_is_canonical_double_space_at_even_and_odd_offsets():
    """A ``"  "`` is caught whichever byte alignment it has: the uint16
    views at even and at odd offsets each see half the pairs."""
    for n in (_NP_CANON_MIN, _NP_CANON_MIN + 1):
        fill = ("abcdefg" * (n // 7 + 1))[:n]
        assert _is_canonical(fill)
        for at in (1, 2, 3, n // 2, n // 2 + 1, n - 4, n - 3):
            s = fill[:at] + "  " + fill[at + 2 :]
            assert len(s) == n and s.index("  ") == at
            assert not _is_canonical(s), (n, at)
        one = fill[:100] + " " + fill[101:]  # a single interior space
        assert _is_canonical(one)


def test_numpy_check_branch_by_workload(monkeypatch):
    """Ratchet on the floor: the giant fixture page reaches the numpy
    check exactly once (its paragraph run), no other fixture page
    reaches it, nor does a bulk benchmark page of the most words of the
    longest vocabulary word, and the check's answers are those of the
    str check."""
    from perfbench.inputs import BODY_REPEAT, VOCAB, page_html
    from webextract.functions.htmlnorm import decode_html
    from webextract.sources.pages import gen_fixture_pages

    seen: list[int] = []
    numpy_check = tokenizer._ascii_canonical

    def spy(s):
        seen.append(len(s))
        got = numpy_check(s)
        assert got == _str_check(s)
        return got

    monkeypatch.setattr(tokenizer, "_ascii_canonical", spy)
    reached = {}
    for p in gen_fixture_pages():
        del seen[:]
        tokenize_blocks(decode_html(p["html"]))
        reached[p["case"]] = len(seen)
    assert reached.pop("giant_page") == 1
    assert set(reached.values()) == {0}
    del seen[:]
    # documents hold 10 to 100 words: the longest is 100 of the longest
    longest = max(VOCAB, key=len)
    for words in (10, 100):
        body = " ".join([longest] * words)
        html = page_html(0, "src0", "</p><p>".join([body] * BODY_REPEAT))
        tokenize_blocks(decode_html(html))
    assert seen == []


def test_block_boundaries_never_flush_an_empty_block(monkeypatch):
    """Ratchet: a block start, end or leaf calls ``_flush`` only when
    the enclosing block holds text, on every fixture page and bulk
    template page and on both engines."""
    from webextract.functions import tokenizer
    from webextract.functions.htmlnorm import decode_html
    from webextract.sources.pages import (
        _TPL_HEAD, _TPL_MID, _TPL_TAIL, gen_fixture_pages,
    )

    pages = [decode_html(p["html"]) for p in gen_fixture_pages()]
    body = "alpha beta gamma delta epsilon zeta eta theta"
    pages += [
        f"{_TPL_HEAD}Document {i} from src{i}{_TPL_MID}"
        f"{'</p><p>'.join([body[: 10 + 4 * i]] * 8)}{_TPL_TAIL}"
        for i in range(8)
    ]
    flushes = {"empty": 0, "full": 0}
    flush = tokenizer._BlockSink._flush

    def counted(self):
        flushes["full" if self.frags else "empty"] += 1
        flush(self)

    monkeypatch.setattr(tokenizer._BlockSink, "_flush", counted)
    for engine in ("auto", "reference"):
        for page in pages:
            tokenize_blocks(page, engine)
    assert flushes["empty"] == 0
    assert flushes["full"] > 0


def test_sink_bug_propagates_from_reference_path(monkeypatch):
    # only html.parser's AssertionError is tolerated: a bug in the sink
    # must not silently truncate the page
    from webextract.functions import tokenizer

    def broken(self, d):
        raise KeyError(d)

    monkeypatch.setattr(tokenizer._BlockSink, "data", broken)
    with pytest.raises(KeyError):
        tokenize_blocks("<body><p>text</p></body>", engine="reference")
