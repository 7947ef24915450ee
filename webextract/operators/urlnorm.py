"""URL canonicalization + canonical-url dedup.

The crawl-side analog of the reference's filename-keyed result
identity (``predict_system.py:204-215`` keys results by image path):
at 10^12 documents the same page arrives under many url spellings, so
the pipeline needs one frozen canonical form BEFORE content dedup.

Frozen rules (applied in order; every rule is a JVM built-in column
expression, mirrored 1:1 in the DuckDB oracle):
 1. fragment (``#...``) dropped;
 2. scheme and host lowercased;
 3. default ports stripped (``:80`` for http, ``:443`` for https);
 4. empty path → ``/``; a trailing slash on a non-root path dropped;
 5. ``utm_*`` tracking params dropped; an emptied query loses its
    ``?``; surviving params keep their original order.

Whole pipeline is ``regexp_extract``/``filter``/``concat`` inside
codegen — no UDF, no shuffle; the dedup itself is one groupBy on the
canonical string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATHQ_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$"


def _strip_suffix(col: Column, n: int) -> Column:
    return F.substring(col, F.lit(1), F.length(col) - n)


def canonical_url(url: Column) -> Column:
    """Canonical form of *url* per the frozen rules. Total: a string
    with no ``scheme://`` prefix passes through unchanged."""
    no_frag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(no_frag, _HOST_RE, 1))
    host = (
        F.when((scheme == "http") & hostport.endswith(":80"), _strip_suffix(hostport, 3))
        .when((scheme == "https") & hostport.endswith(":443"), _strip_suffix(hostport, 4))
        .otherwise(hostport)
    )
    path_q = F.regexp_extract(no_frag, _PATHQ_RE, 1)
    raw_path = F.regexp_extract(path_q, r"^([^?]*)", 1)
    query = F.regexp_extract(path_q, r"^[^?]*\?(.*)$", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"), _strip_suffix(path, 1)
    ).otherwise(path)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (~p.startswith("utm_")) & (p != ""),
    )
    qtail = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), host, path, qtail)
    )


def dedup_by_url(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical-url dedup survey: one row per canonical url with the
    keeper (lexicographic min raw spelling) and the spelling count."""
    canon = canonical_url(F.col(url_col))
    return (
        pages.select(F.col(url_col).alias("raw_url"), canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("raw_url").alias("keeper"),
            F.count("*").alias("n_spellings"),
        )
    )


# the page's own canonical declaration (absolute href only — a
# relative canonical needs base-url resolution, which the frozen
# fixture never emits; extend with a resolver when a source does)
CANONICAL_LINK_RE = r'<link rel="canonical" href="(https?://[^"]+)"'


def declared_canonical(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → (url, group_url): the dedup key each
    page DECLARES. A ``<link rel="canonical">`` in the html wins;
    pages that declare nothing fall back to their own url. Both
    branches are normalized through :func:`canonical_url`, so rule-
    level spellings of the declared target still collapse.

    This is the second, orthogonal crawl-dedup signal: URL RULES
    collapse spellings of one address; the canonical LINK collapses
    *different* addresses (print views, mobile urls, pagination,
    A/B slugs) that the site itself maps to one page. Map-only
    codegen (one regexp over the decoded html) — fuses into the scan.
    """
    href = F.regexp_extract(
        F.decode(F.col("html"), "UTF-8"), CANONICAL_LINK_RE, 1
    )
    declared = F.when(href == "", F.col("url")).otherwise(href)
    return pages.select(
        "url", canonical_url(declared).alias("group_url")
    )


def dedup_by_canonical_link(pages: DataFrame) -> DataFrame:
    """Canonical-link dedup survey: one row per declared group with
    the keeper (lexicographic-min member url) and the member count.
    Same single-groupBy shape as :func:`dedup_by_url`; group sizes are
    bounded by a site's alias fan-out (no skew story)."""
    return (
        declared_canonical(pages)
        .groupBy("group_url")
        .agg(
            F.min("url").alias("keeper"),
            F.count("*").alias("n_members"),
        )
    )


# page-declared robots policy (meta tag form; the crawler-side
# robots.txt protocol is a fetch-time concern, out of a table engine's
# scope — the meta tag is what survives INTO the crawl table)
META_ROBOTS_RE = r'<meta name="robots" content="([^"]*)"'


def page_policies(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → (url, noindex, nofollow): the page's
    declared robots policy, parsed from ``<meta name="robots">``.
    Directive matching is token-exact after lowercasing and whitespace
    strip (``content="noindex, nofollow"``), not substring — so a
    hypothetical ``no-noindex`` never false-positives. Pages without
    the tag are (false, false) — indexable by default, per the robots
    meta convention.

    The compliance gate of a training-data pipeline: pages that opt
    out of indexing should not enter the corpus. Map-only codegen
    (one regexp + array ops) that fuses into the scan; compose with a
    ``filter(~noindex)`` before extraction so the pruned pages never
    pay the Arrow crossing.
    """
    content = F.lower(
        F.regexp_extract(F.decode(F.col("html"), "UTF-8"), META_ROBOTS_RE, 1)
    )
    toks = F.split(F.regexp_replace(content, r"\s+", ""), ",")
    return pages.select(
        "url",
        F.array_contains(toks, "noindex").alias("noindex"),
        F.array_contains(toks, "nofollow").alias("nofollow"),
    )


def latest_snapshot(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Latest-crawl-wins per url: keep exactly the newest snapshot row
    of every url (the CDX "latest capture" semantics a recrawled
    Common-Crawl-style table needs before any content stage), plus the
    snapshot count → input columns + ``n_snapshots``.

    One shuffle on the url: ``row_number`` over (url ORDER BY warc_ts
    DESC, then all remaining columns' tiebreak hash) picks the keeper
    and a windowed count rides the same exchange — Catalyst plans both
    window functions over ONE sort/shuffle. Urls are near-unique keys
    (a url recurs once per recrawl, bounded by crawl count), so there
    is no skew story; at 10^12 rows this is the same single-exchange
    shape as :func:`dedup_by_url`.

    Tie-break: equal-timestamp duplicates (same url fetched twice in
    one crawl) rank by ``md5(text)`` then text so the keeper is
    deterministic and oracle-statable.
    """
    w = Window.partitionBy(url_col).orderBy(
        F.col("warc_ts").desc(),
        F.md5(F.col("text")).asc(),
        F.col("text").asc(),
    )
    return (
        pages.withColumn("rn", F.row_number().over(w))
        .withColumn("n_snapshots", F.count("*").over(Window.partitionBy(url_col)))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def crawl_diff(
    new: DataFrame,
    old: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-crawl diff: classify every url across two crawl
    snapshots as ``new`` (url absent from the old crawl), ``deleted``
    (absent from the new one), ``changed`` (present in both, content
    fingerprint differs) or ``unchanged`` → (url, status, fp_new,
    fp_old). The CDC step that lets a recrawl reprocess ONLY changed
    content instead of re-running extraction over 10^12 unchanged
    pages — the corpus analog of the reference resuming from a
    checkpoint instead of retraining (tools/program.py:218-224).

    Scale design: each side is reduced to its 32-byte ``(url,
    md5(text))`` projection AT THE SCAN (column pruning keeps html
    out of the shuffle entirely), then ONE url equi-shuffle feeds the
    full outer join; status is a codegen CASE over null-ness and
    fingerprint equality. Urls are near-unique join keys, so there is
    no skew story, and the output is a thin routing table the
    downstream pipeline joins back against the new crawl to select
    work.
    """
    n = new.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(text_col)).alias("fp_new"),
        F.lit(True).alias("in_new"),
    )
    o = old.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(text_col)).alias("fp_old"),
        F.lit(True).alias("in_old"),
    )
    # presence is decided by which SIDE produced the row, never by
    # fingerprint null-ness: a url present in both crawls with NULL
    # text on one side has a NULL fp but is still 'changed', not
    # 'new'/'deleted' (null-safe fp equality covers both-NULL)
    fp_new, fp_old = F.col("fp_new"), F.col("fp_old")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("new"))
        .when(F.col("in_new").isNull(), F.lit("deleted"))
        .when(fp_new.eqNullSafe(fp_old), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return n.join(o, "url", "full_outer").select(
        "url", status.alias("status"), "fp_new", "fp_old"
    )


# Frozen domain blocklist (the UT1/Dolma-style domain gate analog).
# Tiny on purpose: broadcast as literals into the plan, not a join —
# a production list of ~10^6 entries would swap the literal array for
# a broadcast-joined table keyed on the same suffix explode.
BLOCKED_DOMAINS: tuple[str, ...] = ("host3.example", "host7.example")


def canonical_host(url: Column) -> Column:
    """The DOMAIN-matching canonicalization of a url's authority:
    ASCII tab/LF/CR stripped FIRST (the WHATWG URL parser removes them
    anywhere in the input, so a raw newline smuggled into an href must
    not defeat the later anchors), lowercase, userinfo stripped
    greedily (the WHATWG standard — what browsers implement — delimits
    userinfo at the LAST '@'; '^[^@]*@' would leave 'b@bad.example'
    from 'a@b@bad.example'), port stripped including the empty ':'
    form browsers accept, trailing dot removed. Pure codegen. Used
    where hosts are compared as DOMAINS (blocklists);
    :func:`canonical_url` intentionally keeps userinfo and non-default
    ports because they are part of URL identity."""
    from webextract.operators.links import host_of

    raw = F.regexp_replace(F.lower(host_of(url)), "[\\t\\n\\r]", "")
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(raw, "^.*@", ""), ":[0-9]*$", ""),
        r"\.$",
        "",
    )


def domain_blocklist(
    pages: DataFrame,
    blocked: tuple[str, ...] = BLOCKED_DOMAINS,
    url_col: str = "url",
) -> DataFrame:
    """Domain blocklist gate with subdomain semantics: a url is blocked
    when ANY dot-suffix of its host ('a.b.example.com' →
    'a.b.example.com', 'b.example.com', 'example.com', 'com') is on
    the list — how UT1-category and Dolma domain blocklists actually
    match, where C4's token blocklist matches words
    (:func:`webextract.operators.vocab.blocklist_filter` is the token
    side of the same gate).

    → (url, host, blocked_domain, keep): ``blocked_domain`` is the
    LONGEST (most specific) matching suffix, NULL when clean. The
    suffix chain is built in-row (``transform`` over ``sequence`` +
    ``slice`` + ``array_join``) and matched against the literal list —
    pure codegen, zero shuffles, no UDF; prune-before-extract order at
    10^12 docs (this gate runs on the url column alone, so it goes
    BEFORE any html ever crosses to Python).

    The authority is CANONICALIZED before matching via
    :func:`canonical_host` — lowercased, userinfo and port (even an
    empty ':') stripped, trailing dot removed — so
    'https://a@b@BAD.example.:443/' cannot sidestep a 'bad.example'
    entry. This is deliberately STRICTER than :func:`canonical_url`
    (which preserves non-default ports and userinfo because they are
    part of url identity): a blocklist matches the DOMAIN, not the
    url. ``host`` in the output is the canonical form actually
    matched.
    """
    host = canonical_host(F.col(url_col))
    parts = F.split(host, r"\.")

    def suffix(i: Column) -> Column:
        return F.array_join(F.slice(parts, i, F.size(parts) - i + 1), ".")

    suffixes = F.transform(F.sequence(F.lit(1), F.size(parts)), suffix)
    hits = F.filter(suffixes, lambda s: s.isin(*blocked))
    # suffixes run longest → shortest, so the first hit is the most
    # specific listed domain
    blocked_domain = F.get(hits, 0)
    return pages.select(
        F.col(url_col).alias("url"),
        host.alias("host"),
        blocked_domain.alias("blocked_domain"),
        blocked_domain.isNull().alias("keep"),
    )

