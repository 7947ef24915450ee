"""Link-graph operators: outlink extraction → host graph → PageRank.

The web-scale companion to extraction: the same crawl table that feeds
the content pipeline also carries the hyperlink structure, and the
canonical derived artifacts are the host-level link graph and a
centrality score over it. The reference has no graph stage (its DAG is
per-image); the closest analog is the det→rec handoff where one
stage's output keys the next (tools/infer/predict_system.py:67-120) —
here the handoff is extraction → graph.

Scale design:
 * outlink extraction is ONE codegen stage (``regexp_extract_all`` on
   the decoded html + ``explode``) — fuses into the page scan, no
   Python worker;
 * the host graph is a (src_host, dst_host) partial+final count — the
   word-count shape;
 * PageRank runs a FIXED number of synchronous iterations as DataFrame
   joins (contribution join + per-target sum), ``localCheckpoint`` per
   round to truncate lineage — the same iterative discipline as
   ``dedup.connected_components``. Per-edge contributions are single
   IEEE ops in a frozen order and per-target sums go through
   DECIMAL(38,6) (order-insensitive exact), so a DuckDB oracle with
   the iterations unrolled reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# absolute links only (the host graph wants cross-site structure;
# relative template links are navigation, not edges)
HREF_RE = r'href="(https?://[^"]+)"'


def host_of(url: Column) -> Column:
    # no trailing-slash requirement: '<a href="https://example.com">'
    # (path-less, common in the wild) must yield the host, not '' —
    # and the authority also ends at '?' or '#' (https://ex.com?x=1)
    return F.regexp_extract(url, "^https?://([^/?#]+)", 1)


def extract_links(pages: DataFrame) -> DataFrame:
    """pages(url, html) → one row per absolute outlink (url, href).
    Pure codegen: decode + regexp_extract_all + explode."""
    html = F.decode(F.col("html"), "UTF-8")
    hrefs = F.regexp_extract_all(html, F.lit(HREF_RE), 1)
    return pages.select("url", F.explode(hrefs).alias("href"))


# whole <a ...>text</a> element with an absolute href and tag-free
# anchor text (nested markup in the anchor is out of the fixture's and
# this extractor's scope; the DOM tokenizer handles the general case)
ANCHOR_RE = r'<a href="(https?://[^"]+)"[^>]*>([^<]*)</a>'


def extract_anchors(pages: DataFrame) -> DataFrame:
    """pages(url, html) → (url, href, anchor): one row per absolute
    link WITH its anchor text.

    Same fusion story as :func:`extract_links` — decode +
    ``regexp_extract_all`` of the whole element + explode + two
    per-element group extracts, all inside codegen (Spark's
    ``regexp_extract_all`` returns one capture group, so the element
    is matched whole and the groups re-extracted per row; the regex
    engine re-runs on a short string, not the page).

    Anchor-text aggregation is the classic web-graph signal (what the
    web *calls* a page beats what the page calls itself) — the crawl
    analog of the reference attaching recognized text to detected
    boxes (``predict_system.py:67-120``).
    """
    html = F.decode(F.col("html"), "UTF-8")
    elems = F.regexp_extract_all(html, F.lit(ANCHOR_RE), 0)
    return pages.select("url", F.explode(elems).alias("elem")).select(
        "url",
        F.regexp_extract("elem", ANCHOR_RE, 1).alias("href"),
        F.regexp_extract("elem", ANCHOR_RE, 2).alias("anchor"),
    )


def anchor_summary(anchors: DataFrame) -> DataFrame:
    """Per-target-host anchor-text profile: (dst_host, n_inlinks,
    n_src_hosts, top_anchor, top_anchor_n).

    ``top_anchor`` is the modal anchor text with a frozen tie-break
    (count desc, then anchor asc) so the result is deterministic and
    SQL-statable. The page-derived anchor stream is reduced ONCE to a
    (dst_host, src_host, anchor, n) table — the host_graph cardinality
    with an anchor dimension — and checkpointed, so the expensive
    upstream (page scan + regex explode) runs a single time; both the
    per-anchor mode and the host rollup are then aggs over that small
    table. Hot hosts are absorbed by the map-side partial agg, the
    same skew posture as :func:`host_graph`.
    """
    by_host = anchors.select(
        host_of(F.col("url")).alias("src_host"),
        host_of(F.col("href")).alias("dst_host"),
        "anchor",
    )
    g = (
        by_host.groupBy("dst_host", "src_host", "anchor")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    per_anchor = g.groupBy("dst_host", "anchor").agg(F.sum("n").alias("n"))
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("anchor").asc()
    )
    top = (
        per_anchor.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "dst_host",
            F.col("anchor").alias("top_anchor"),
            F.col("n").alias("top_anchor_n"),
        )
    )
    totals = g.groupBy("dst_host").agg(
        F.sum("n").alias("n_inlinks"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    return totals.join(top, "dst_host").select(
        "dst_host", "n_inlinks", "n_src_hosts", "top_anchor", "top_anchor_n"
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Outlinks → weighted host-level edges (src_host, dst_host,
    weight). One shuffle (partial+final count)."""
    return (
        links.select(
            host_of(F.col("url")).alias("src_host"),
            host_of(F.col("href")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("weight"))
    )


def pagerank(
    edges: DataFrame, n_iter: int = 5, damping: float = 0.85
) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, weight), a FIXED
    ``n_iter`` synchronous iterations → (host, rank).

    Determinism contract (what makes the unrolled-SQL oracle match
    bit-for-bit): every per-edge contribution is evaluated as
    ``rank * weight / out_w`` (left-associative, double), per-target
    sums run in DECIMAL(38,6) (exact, order-insensitive), and the
    update is ``(1-d)/N + d * sum``. The node count N is one aggregate
    over the (small) node table — it is the teleport mass the
    algorithm itself requires, not an extra corpus pass; at web scale
    the host table is ~1e8 rows next to 1e12 pages.

    Fixed iterations (not convergence-tested) keep the oracle statable
    and the job count deterministic; five rounds is the classic
    demo depth — production would iterate to an L1 tolerance with the
    same per-round plan.
    """
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    out_w = edges.groupBy("src_host").agg(F.sum("weight").alias("out_w"))
    # edges ⋈ out-weight is loop-invariant: compute once, reuse per round
    ew = (
        edges.join(out_w, "src_host")
        .select("src_host", "dst_host", "weight", "out_w")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0) / F.lit(n))
    for _ in range(n_iter):
        contrib = ew.join(
            ranks.select(F.col("host").alias("src_host"), "rank"), "src_host"
        ).select(
            F.col("dst_host").alias("host"),
            (F.col("rank") * F.col("weight") / F.col("out_w")).alias("c"),
        )
        sums = contrib.groupBy("host").agg(
            F.sum(F.col("c").cast("decimal(38,6)")).cast("double").alias("s")
        )
        ranks = (
            nodes.join(sums, "host", "left")
            .select(
                "host",
                (
                    F.lit(1.0 - damping) / F.lit(n)
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
