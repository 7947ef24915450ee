"""URL canonicalization rules (frozen; the oracle for q:url_dedup
states ground truth, these tests pin each individual rule)."""

import pytest
from pyspark.sql import functions as F

from webextract.operators.urlnorm import canonical_url, dedup_by_url

CASES = [
    # (raw, expected canonical)
    ("https://Host.Example/doc/1", "https://host.example/doc/1"),
    ("HTTPS://HOST.EXAMPLE/doc/1", "https://host.example/doc/1"),
    ("https://host.example/doc/1#frag", "https://host.example/doc/1"),
    ("https://host.example:443/doc/1", "https://host.example/doc/1"),
    ("http://host.example:80/doc/1", "http://host.example/doc/1"),
    ("http://host.example:8080/doc/1", "http://host.example:8080/doc/1"),
    ("https://host.example/doc/1/", "https://host.example/doc/1"),
    ("https://host.example/", "https://host.example/"),
    ("https://host.example", "https://host.example/"),
    ("https://host.example/doc?utm_source=x", "https://host.example/doc"),
    ("https://host.example/doc?a=1&utm_medium=m&b=2",
     "https://host.example/doc?a=1&b=2"),
    ("https://host.example/doc?a=1#f", "https://host.example/doc?a=1"),
    ("not a url", "not a url"),                       # passthrough
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    for (raw, want), g in zip(CASES, got):
        assert g == want, f"{raw!r} -> {g!r}, want {want!r}"


def test_canonical_url_idempotent(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    once = df.select(canonical_url(F.col("url")).alias("url"))
    twice = once.select(canonical_url(F.col("url")).alias("url"))
    assert [r[0] for r in once.collect()] == [r[0] for r in twice.collect()]


def test_dedup_by_url_groups_spellings(spark):
    rows = [
        ("https://a.example/p",),
        ("https://A.Example/p/",),
        ("https://a.example/p#x",),
        ("https://b.example/q",),
    ]
    df = spark.createDataFrame(rows, ["url"])
    got = {r.canon_url: (r.keeper, r.n_spellings)
           for r in dedup_by_url(df).collect()}
    assert got["https://a.example/p"] == ("https://A.Example/p/", 3)
    assert got["https://b.example/q"] == ("https://b.example/q", 1)


def test_latest_snapshot_keeps_newest(spark):
    from datetime import datetime, timezone

    from webextract.operators.urlnorm import latest_snapshot

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        ("https://a.example/1", ts(100), "old", "en"),
        ("https://a.example/1", ts(200), "new", "en"),
        ("https://b.example/2", ts(150), "only", "de"),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text", "lang"])
    got = {r.url: (r.text, r.n_snapshots) for r in latest_snapshot(df).collect()}
    assert got == {
        "https://a.example/1": ("new", 2),
        "https://b.example/2": ("only", 1),
    }


def test_latest_snapshot_equal_ts_tiebreak_deterministic(spark):
    """Same-timestamp duplicates pick a frozen keeper (md5 order)."""
    from datetime import datetime, timezone

    from webextract.operators.urlnorm import latest_snapshot

    t = datetime.fromtimestamp(500, tz=timezone.utc).replace(tzinfo=None)
    rows = [
        ("https://a.example/1", t, "alpha", "en"),
        ("https://a.example/1", t, "beta", "en"),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text", "lang"])
    first = latest_snapshot(df).collect()
    again = latest_snapshot(df).collect()
    assert first == again and len(first) == 1
    assert first[0].n_snapshots == 2


def _page(url, html):
    return (url, html.encode("utf-8"))


def test_declared_canonical_falls_back_to_self(spark):
    from webextract.operators.urlnorm import declared_canonical

    rows = [
        _page("https://s.example/a",
              '<head><link rel="canonical" href="https://s.example/main">'
              "</head>"),
        _page("https://s.example/b", "<head></head>"),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r.url: r.group_url for r in declared_canonical(df).collect()}
    assert got["https://s.example/a"] == "https://s.example/main"
    assert got["https://s.example/b"] == "https://s.example/b"


def test_declared_canonical_normalizes_target(spark):
    """The declared href runs through the url rules (fragment, port,
    trailing slash), so messy spellings of one target still collapse."""
    from webextract.operators.urlnorm import dedup_by_canonical_link

    rows = [
        _page("https://s.example/p1",
              '<link rel="canonical" href="https://s.example:443/main#x">'),
        _page("https://s.example/p2",
              '<link rel="canonical" href="https://s.example/main/">'),
        _page("https://s.example/main", "<head></head>"),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r.group_url: (r.keeper, r.n_members)
           for r in dedup_by_canonical_link(df).collect()}
    assert got == {
        "https://s.example/main": ("https://s.example/main", 3),
    }


def test_page_policies_token_exact(spark):
    from webextract.operators.urlnorm import page_policies

    rows = [
        _page("u1", '<meta name="robots" content="noindex, nofollow">'),
        _page("u2", '<meta name="robots" content=" NOINDEX ">'),
        _page("u3", '<meta name="robots" content="no-noindex">'),
        _page("u4", '<meta name="robots" content="index, follow">'),
        _page("u5", "<head>no tag at all</head>"),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r.url: (r.noindex, r.nofollow) for r in page_policies(df).collect()}
    assert got == {
        "u1": (True, True),
        "u2": (True, False),   # case + padding normalized
        "u3": (False, False),  # token-exact, not substring
        "u4": (False, False),
        "u5": (False, False),  # indexable by default
    }
