"""Link-graph operators: outlink extraction, host graph, PageRank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webextract.operators.links import extract_links, host_graph, pagerank

SF = "/root/testdata/sf0.001"


def test_extract_links_absolute_only(spark):
    html = (
        '<html><body><nav><a href="/about">rel</a></nav>'
        '<p><a href="https://a.example/x">one</a> '
        '<a href="http://b.example/y?z=1">two</a> '
        '<a href="mailto:x@y.z">mail</a></p></body></html>'
    ).encode()
    df = spark.createDataFrame([("https://src.example/p", html)], ["url", "html"])
    hrefs = sorted(r.href for r in extract_links(df).collect())
    # relative and mailto links are not edges
    assert hrefs == ["http://b.example/y?z=1", "https://a.example/x"]


def test_host_of_pathless_url(spark):
    """Absolute links without a path ('https://example.com') must
    yield the host, not '' (a '' node would silently absorb rank)."""
    links = spark.createDataFrame(
        [("https://s.example/1", "https://bare.example")], ["url", "href"]
    )
    g = host_graph(links).collect()
    assert g[0].dst_host == "bare.example"


def test_host_graph_weights(spark):
    rows = [
        ("https://s.example/1", "https://t.example/a"),
        ("https://s.example/2", "https://t.example/b"),
        ("https://s.example/1", "https://u.example/c"),
    ]
    links = spark.createDataFrame(rows, ["url", "href"])
    g = {(r.src_host, r.dst_host): r.weight for r in host_graph(links).collect()}
    assert g == {("s.example", "t.example"): 2, ("s.example", "u.example"): 1}


def test_pagerank_two_node_exact(spark):
    """Hand-computable 2-node cycle: symmetric graph stays uniform at
    every iteration, so rank = 0.5 exactly for both nodes."""
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], ["src_host", "dst_host", "weight"]
    )
    r = {row.host: row.rank for row in pagerank(edges, n_iter=5).collect()}
    assert abs(r["a"] - 0.5) < 1e-6 and abs(r["b"] - 0.5) < 1e-6


def test_pagerank_mass_and_ordering(spark):
    """Sink-free graph conserves rank mass (Σ=1 up to the DECIMAL
    quantization) and a node with every inlink outranks the others."""
    edges = spark.createDataFrame(
        [
            ("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1),
            ("hub", "a", 1), ("a", "b", 1), ("b", "c", 1), ("c", "a", 1),
        ],
        ["src_host", "dst_host", "weight"],
    )
    rows = pagerank(edges, n_iter=10).collect()
    ranks = {r.host: r.rank for r in rows}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    # 'a' receives the hub's ENTIRE rank (its only outlink) plus half
    # of c's → a > hub > b > c
    assert ranks["a"] > ranks["hub"] > ranks["b"] > ranks["c"]
    # determinism: rerun gives identical bits
    again = {r.host: r.rank for r in pagerank(edges, n_iter=10).collect()}
    assert ranks == again


def test_pagerank_over_fixture_graph(spark):
    from webextract.sources.pages import pages_with_links

    edges = host_graph(extract_links(pages_with_links(spark, SF)))
    r = pagerank(edges, n_iter=5)
    rows = r.collect()
    assert len(rows) == 37  # hosts 0..36
    total = sum(row.rank for row in rows)
    assert abs(total - 1.0) < 1e-3
    # the multiplicative link formulas spread rank roughly uniformly
    # (host0's big self-weight is divided by its equally big
    # out-degree): every host stays within 50% of 1/37, no runaway hub
    assert all(abs(row.rank - 1 / 37) < 0.5 / 37 for row in rows)
    # determinism: identical bits on rerun (the oracle-match property)
    again = {(row.host, row.rank) for row in
             pagerank(edges, n_iter=5).collect()}
    assert again == {(row.host, row.rank) for row in rows}


def test_extract_anchors_pairs(spark):
    from webextract.operators.links import extract_anchors

    html = (
        '<p><a href="https://a.example/x">first ref</a> '
        '<a href="/rel">skip</a> '
        '<a href="https://b.example/y" rel="nofollow">second</a></p>'
    ).encode()
    df = spark.createDataFrame([("https://src.example/p", html)], ["url", "html"])
    got = sorted((r.href, r.anchor) for r in extract_anchors(df).collect())
    assert got == [
        ("https://a.example/x", "first ref"),
        ("https://b.example/y", "second"),
    ]


def test_anchor_summary_top_anchor_deterministic(spark):
    from webextract.operators.links import anchor_summary

    rows = [
        # t.example: 'good' twice, 'meh' once; two distinct src hosts
        ("https://s1.example/1", "https://t.example/a", "good"),
        ("https://s1.example/2", "https://t.example/b", "good"),
        ("https://s2.example/3", "https://t.example/c", "meh"),
        # u.example: tie 1-1 → lexicographic min wins
        ("https://s1.example/4", "https://u.example/d", "zz"),
        ("https://s1.example/5", "https://u.example/e", "aa"),
    ]
    df = spark.createDataFrame(rows, ["url", "href", "anchor"])
    got = {r.dst_host: r for r in anchor_summary(df).collect()}
    t = got["t.example"]
    assert (t.n_inlinks, t.n_src_hosts, t.top_anchor, t.top_anchor_n) == (3, 2, "good", 2)
    u = got["u.example"]
    assert (u.top_anchor, u.top_anchor_n) == ("aa", 1)


def test_anchor_fixture_profile(spark):
    """The link fixture's anchor words cycle with (src+target) % 4, so
    every host's profile is statable — spot-check global invariants."""
    from webextract.operators.links import anchor_summary, extract_anchors
    from webextract.sources.pages import pages_with_links

    res = anchor_summary(extract_anchors(pages_with_links(spark, SF))).collect()
    assert len(res) == 37                       # hosts 0..36
    assert sum(r.n_inlinks for r in res) == 3 * 500
    words = {"ref", "see also", "source", "details"}
    assert all(r.top_anchor in words for r in res)
