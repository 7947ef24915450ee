"""Differential tests: the fast scanner front-end must produce a
block table IDENTICAL to the reference html.parser front-end on every
input — fixtures, the synthesized corpus, and adversarial fuzz aimed
at the constructs where html.parser's tolerant behavior is subtle
(quotes in tags, self-closing ambiguity, bogus endtags, CDATA,
comments, declarations). Divergence on ANY input is a bug: either the
scanner mis-parses, or it failed to bail."""

import string

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract.functions.tokenizer import tokenize_blocks
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


def test_synthesized_corpus_identical():
    rows = duckdb.sql(
        "SELECT text, source, doc_id FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    ).fetchall()
    head = (
        '<html><head><meta charset="utf-8"><title>doc </title></head><body>'
        '<header><nav><a href="/">Home</a></nav></header><article><h1>'
    )
    tail = "</p></article></body></html>"
    for (t, s, d) in rows:
        assert_same(f"{head}Document {d} from {s}</h1><p>{t}{tail}")


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
