"""Differential tests: the fast scanner front-end must produce a
block table IDENTICAL to the reference html.parser front-end on every
input — fixtures, the synthesized corpus, and adversarial fuzz aimed
at the constructs where html.parser's tolerant behavior is subtle
(quotes in tags, self-closing ambiguity, bogus endtags, CDATA,
comments, declarations). Divergence on ANY input is a bug: either the
scanner mis-parses, or it failed to bail."""

import string
import time

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract.functions import fastscan
from webextract.functions.tokenizer import _BlockSink, tokenize_blocks
from webextract.sources.pages import gen_fixture_pages
from webextract.functions.htmlnorm import decode_html


def assert_same(text: str) -> None:
    fast = tokenize_blocks(text, engine="auto")
    ref = tokenize_blocks(text, engine="reference")
    assert fast == ref, f"divergence on: {text!r}"


# -- corpus-level ------------------------------------------------------------

def test_fixture_pages_identical():
    for page in gen_fixture_pages():
        assert_same(decode_html(page["html"]))


def _synthesized_pages() -> list[str]:
    rows = duckdb.sql(
        "SELECT text, source, doc_id FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    ).fetchall()
    head = (
        '<html><head><meta charset="utf-8"><title>doc </title></head><body>'
        '<header><nav><a href="/">Home</a></nav></header><article><h1>'
    )
    tail = "</p></article></body></html>"
    return [f"{head}Document {d} from {s}</h1><p>{t}{tail}" for (t, s, d) in rows]


def test_synthesized_corpus_identical():
    for page in _synthesized_pages():
        assert_same(page)


def test_corpus_pages_take_the_fast_path():
    # the bail-rate ratchet: a grammar too narrow for real pages passes
    # every differential test while sending pages to the slow path
    pages = [decode_html(p["html"]) for p in gen_fixture_pages()]
    pages += _synthesized_pages()
    assert len(pages) > 500
    assert [i for i, p in enumerate(pages) if not fastscan.scan(p, _BlockSink())] == []


# -- adversarial fuzz --------------------------------------------------------

_tags = ["p", "div", "a", "b", "script", "style", "pre", "nav", "br", "A", "xx"]
_adversarial = st.sampled_from(
    [
        # quote/slash/equals soup inside tags
        '<a href="x>y">', "<a href='>'>", "<a href=x/>", "<a checked/>",
        "<a />", "<a/>", "<a / >", "<a foo=1/ >", '<a "junk">', "<a 'j'>",
        '<a x="1"y>', "<a x=1,y=2>", "<a =x>", "<a x=>", "<a x==1>",
        "<a@b>", '<a"b>', "<a\x00b>", "<a\tx=1>",
        # end tags
        "</a>", "</ a>", "</a >", "</a b>", "</a/>", "</>", "</3>", "</",
        "</a", "</ >",
        # comments / decls / PIs / marked sections
        "<!-- c -->", "<!--->", "<!-- -- >", "<!--", "<!>", "<!x>",
        "<!doctype html>", "<!DOCTYPE html [ ]>", "<![CDATA[x]]>",
        "<![if x]>", "<?php x ?>", "<?x", "<? >",
        # cdata content
        "<script>var x = '</div>';</script>", "<script></scripty></script>",
        "<script></script x></script>", "<script>a<b</script>",
        "<style>p{}</style>", "<script>", "<style>unterminated",
        # entity edges
        "&amp;", "&amp", "&#65;", "&#x41;", "&#xzz;", "&bogus;", "&", "&&amp;;",
        "&lt;p&gt;",
        # plain structure
        "<p>", "</p>", "<pre>", "</pre>", "text", " ", "\n", "<", ">", "<3",
        "<p", "x>y",
        # the fast grammar's edges: unicode whitespace in tags (html.parser's
        # \s is unicode), namespaced names, self-closing vs bare values,
        # raw-text closes, == attributes, PIs, '<' in text
        "<p\xa0x>", "<a\x0bhref=x>", "<a href=x\xa0y>", "<a\u2003b=1>",
        "</a\xa0>", "<o:p>", "</o:p>", '<a href="x"/>', "<br />", "<br/>",
        "<a href=x/ >", "</SCRIPT >", "</ script>", "<script/>", "<style/>",
        "<script src=x/>", "<style></styles></style>", "</scr\u0130pt>",
        "</\u017fcript>", "<a b == c>", "<a b==c>", '<?xml version="1.0"?>',
        "1 < 2", "<3", "<<p>", "<!DOCTYPE x [", "<!-- a -- b -->", "<!---->",
    ]
)
_chunk = st.one_of(
    st.text(alphabet=string.ascii_letters + " .,&;<>/='\"!?-", max_size=12),
    _adversarial,
    st.sampled_from([f"<{t}>" for t in _tags]),
    st.sampled_from([f"</{t}>" for t in _tags]),
)


@given(st.lists(_chunk, min_size=0, max_size=40).map("".join))
@settings(max_examples=2000, deadline=None)
def test_fuzz_differential(soup: str) -> None:
    assert_same(soup)


@given(st.text(max_size=300))
@settings(max_examples=500, deadline=None)
def test_fuzz_arbitrary_text(soup: str) -> None:
    assert_same(soup)


# tag bodies built from the grammar's own pieces, joined by ASCII or
# unicode whitespace, so near-misses of the strict grammar are common
_spaces = st.sampled_from([" ", "\t", "\n", "\r", "\f", "\x0b", "\xa0", "\x85",
                           "\u2003", "\x1c", ""])
_pieces = st.sampled_from(["a", "href", "o:p", "=", "==", '"x>y"', "'q'", "x/",
                           "/", "script", "style", "SCRIPT", "\x00", "b-c", "<"])
_tag_soup = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(["<", "</", "<!", "<?"]),
            st.lists(st.tuples(_spaces, _pieces).map("".join), max_size=5).map("".join),
            st.sampled_from([">", "/>", " >", ""]),
        ).map("".join),
        _adversarial,
        st.text(alphabet="ab &;<>\xa0", max_size=6),
    ),
    max_size=25,
).map("".join)


# pages of leaf runs: same-name siblings, bare or with attributes, in
# either case, apart or with whitespace, comments or other tags between
def _element(name: str, attrs: str, text: str, close: str | None) -> str:
    return f"<{name}{attrs}>{text}" + ("" if close is None else f"</{name}{close}>")


_run_piece = st.one_of(
    st.builds(
        _element,
        st.sampled_from(["p", "P", "li", "td", "a", "pre", "b", "hr", "noscript"]),
        st.sampled_from(["", "", "", " class=x", ' href="/"']),
        st.text(alphabet="ab &;\xa0\n", max_size=5),
        st.sampled_from(["", "", "", " ", "\n", None]),
    ),
    st.sampled_from(["", " ", "\n", "\t \r\n", "<!-- c -->", "<div>", "</div>",
                     "<pre>", "</pre>", "<a>", "</a>", "<nav>", "<script></script>"]),
)


@given(st.lists(_run_piece, max_size=30).map("".join))
@settings(max_examples=1500, deadline=None)
def test_fuzz_leaf_runs(soup: str) -> None:
    assert_same(soup)


@given(_tag_soup)
@settings(max_examples=1500, deadline=None)
def test_fuzz_grammar_edges(soup: str) -> None:
    assert_same(soup)


class _CallCounter:
    """A sink that only counts the events the scanner sends it."""

    def __init__(self) -> None:
        self.calls = 0

    def _count(self, *args) -> None:
        self.calls += 1

    starttag = endtag = startendtag = data = leaf = _count


def test_giant_page_takes_one_sink_call_per_block():
    # the leaf-rate ratchet: the differential tests cannot see the leaf
    # path switch off (the events still match, three calls per block)
    giant = next(p for p in gen_fixture_pages() if p["case"] == "giant_page")
    page = decode_html(giant["html"])
    counter = _CallCounter()
    assert fastscan.scan(page, counter)
    blocks = len(tokenize_blocks(page)["text"])
    assert blocks == 12_000
    # one leaf per <p>, plus <html><body> ... </body></html>
    assert counter.calls == blocks + 4


class _RunCounter(_CallCounter):
    """A counting sink that also takes a leaf run in one call."""

    leaves = _CallCounter._count


def test_giant_page_takes_a_handful_of_sink_calls():
    # the run-rate ratchet: <html><body>, one run of 12,000 paragraphs,
    # </body></html>
    giant = next(p for p in gen_fixture_pages() if p["case"] == "giant_page")
    counter = _RunCounter()
    assert fastscan.scan(decode_html(giant["html"]), counter)
    assert counter.calls <= 5


class _EventsOnly:
    """An html.parser-shaped sink: the four events, no ``leaf``."""

    def __init__(self) -> None:
        self.sink = _BlockSink()

    def starttag(self, tag): self.sink.starttag(tag)
    def endtag(self, tag): self.sink.endtag(tag)
    def startendtag(self, tag): self.sink.startendtag(tag)
    def data(self, d):
        assert d, "html.parser never sends empty data"
        self.sink.data(d)


def test_sink_without_leaf_gets_the_three_events():
    # a caller's sink may know only html.parser's four events: a leaf
    # reaches it as starttag, data, endtag, and the page does not bail
    pages = [decode_html(p["html"]) for p in gen_fixture_pages()]
    pages += ["<p>x</p>", "<p></p>", "<a href=x/>t</a>", "<nav><p>t</p></nav>"]
    for page in pages:
        full, events = _BlockSink(), _EventsOnly()
        fast = fastscan.scan(page, full)
        assert fastscan.scan(page, events) == fast
        if fast:
            full._flush()
            events.sink._flush()
            assert vars(full) == vars(events.sink), page[:80]


def test_attribute_soup_is_linear():
    # ~1 MB start tag that never closes: every repetition in the grammar
    # is possessive, so failing it is one pass, not a backtracking search
    soup = "<p>x</p><a" + " b" * 500_000
    t0 = time.perf_counter()
    assert not fastscan.scan(soup, _BlockSink())
    assert time.perf_counter() - t0 < 2.0
    assert_same(soup)


@pytest.mark.parametrize(
    "case",
    [
        "<a checked/>x",
        "<a href=x/>y",          # html.parser: STARTtag with value 'x/'
        "<script>alert('</p>')</script><p>after</p>",
        "<script></SCRIPT ><p>x</p>",      # not strict close
        "<script></script\t></p>",
        "<p>a<!-- <p>hidden</p> -->b</p>",
        "<p>x</p  >tail",
        "<A HREF=1>T</A>",
        "<div title='a>b'>in</div>",
        "<!doctype html><p>x</p>",
        "<p>&amp;&#x2014;&bogus;&</p>",
        "<pre>\n a \n</pre>",
        "<p>x<br/>y</p>",
        "<p>x</p><3</p>",
        # bare quoted runs in tag bodies: html.parser only honors
        # quotes in values after '=', so the first '>' ends the tag
        '<a "x>y">hello</a>',
        "<a 'x>y'>hello</a>",
        '<a b "c>d" e>t</a>',
        '<div class"x>y">in</div>',
        '<a href = "x>y">q</a>',
        # the fast grammar's edges
        "<p\xa0x>in</p\xa0x>t",
        "<p><a\x0bhref=x>l</a></p>",
        "<p><a href=x\xa0y>l</a></p>",
        "<p>a<o:p>b</o:p>c</p>",
        '<p><a href=x/>1</a><a href="x"/>2<br />3</p>',
        "<script>x</SCRIPT ><p>after</p>",
        "<script>x</ script><p>after</p>",
        "<script/><p>after</p>",
        "<p>a<script>x</scr\u0130pt><p>hidden</p></script>b</p>",
        "<p>a<script>x</\u017fcript><p>hidden</p></script>b</p>",
        "<style>p{}</styles>q</style><p>after</p>",
        "<p><a b == c>x</a></p>",
        '<?xml version="1.0"?><p>x</p>',
        "<p>1 < 2 and <3</p>",
        "<p>a &amp <3 &lt;</p>",
        # leaves: one text run between a start tag and its own close
        "<P>x</p>",                  # close in another case: three events
        "<p>x</p >",
        "<p>a&amp;b</p>",
        "<pre>\nx\n</pre>",
        "<a href=x/>t</a>",          # a start tag, so a leaf
        "<br>t</br>",
        "<nav><p>t</p></nav>",
        "<a><p>t</p></a>",
        "<noscript><p>t</p></noscript>",
        "<p></p>",
        "<title>t</title>",
        # leaf runs: adjacent bare same-name siblings after a leaf are
        # one token; whitespace between items ends a run
        "<P>x</P><p>y</p><p>z</p>",  # a change of case ends a run
        "<p>a</p> <p>b</p>\n<p>c</p>\t\r\n <p>d</p>",
        "<ul>\n<li>a</li>\n<li>b</li>\n</ul>",
        "<table><tr><td>1</td><td>2</td><td>3</td></tr></table>",
        "<pre><p>a</p>\n<p> b </p></pre>",
        "<pre>x<a>1</a>\n<a>2</a></pre>",
        "<a href=x><p>a</p> <p>b</p></a>",
        "<noscript><p>a</p><p>b</p></noscript>",
        "<p>a</p><!-- c --><p>b</p><p>c</p>",
        "<div>x</div><p>a</p><p>b</p>",  # a run at the end of the page
        "<p>t <a>x</a> <a>y</a><a></a> u</p>",
        "<p>a</p><p class=x>b</p><p>c</p><p>d</p>",  # attributes end a run
        "<p class=x>a</p><p>b</p>",
        "<p>a</p ><p>b</p><p>c</p >",  # a spaced close ends a run
        "<p>a</p><p>b</p\n>\n<p>c</p>",
        "<p>&amp;</p><p>&nbsp;</p><p>a&lt;b</p>",
        "<p></p><p> </p><p>x  y</p>",
        "<li>a</li><li>b</li><li>c",
        "<hr></hr><hr></hr>",
        "<p>a<p>b</p><p>c</p></p>",
        "<nav><li>a</li><li>b</li></nav><li>c</li><li>d</li>",
    ],
)
def test_known_subtleties(case: str) -> None:
    assert_same(case)


def test_scanner_bug_is_not_swallowed(monkeypatch) -> None:
    # only the scanner's own bail selects the reference parser; any
    # other exception is a fast-path bug and must surface
    from webextract.functions import fastscan

    def broken(s, sink):
        raise RuntimeError("scanner bug")

    monkeypatch.setattr(fastscan, "_scan", broken)
    with pytest.raises(RuntimeError, match="scanner bug"):
        tokenize_blocks("<p>x</p>")
