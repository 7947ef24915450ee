"""Corpus-shaping operators: per-host quota, chunk packing, crawl diff.

The q:host_quota / q:pack_chunks / q:crawl_diff oracles pin the exact
values at sf0.01; these tests pin the algorithmic claims the oracles
cannot see — two-phase == one-window equality, partitioning
invariance, and the per-shard stream invariants.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from webextract.operators.sampling import host_quota, pack_chunks
from webextract.operators.urlnorm import crawl_diff


def _pages(spark, n=400):
    # planted skew: half of all rows on host 0, the rest spread thin
    return spark.range(n).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 7)
        .alias("host"),
    )


def test_host_quota_matches_single_window(spark):
    """The two-phase salted plan must equal the naive one-window
    semantics exactly (the phase-1 prune never drops a keeper)."""
    pages = _pages(spark)
    got = host_quota(pages, cap=5, n_salts=4).collect()
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col("url")).asc(), F.col("url").asc()
    )
    want = (
        pages.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= 5)
        .collect()
    )
    assert sorted(got) == sorted(want)


def test_host_quota_cap_and_determinism(spark):
    pages = _pages(spark)
    a = host_quota(pages, cap=3).collect()
    caps = {}
    for r in a:
        caps[r.host] = max(caps.get(r.host, 0), r.quota_rank)
    assert all(v <= 3 for v in caps.values())
    assert caps[0] == 3  # the hot host is actually capped
    # physical partitioning must not change the selection
    b = host_quota(pages.repartition(13), cap=3).collect()
    assert sorted(a) == sorted(b)


def test_pack_chunks_stream_invariants(spark):
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        # token counts 1..13 varying per doc
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.col("id") % 13), lambda i: i)
        ).alias("text"),
    )
    rows = pack_chunks(docs, ctx=16, n_shards=4).collect()
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard_rows in by_shard.values():
        offset = 0
        for r in shard_rows:
            assert r.start_tok == offset  # contiguous concatenation
            assert r.first_chunk == r.start_tok // 16
            assert r.last_chunk == (r.start_tok + r.n_tokens - 1) // 16
            assert r.chunk_offset == r.start_tok % 16
            assert r.n_tokens >= 1
            offset += r.n_tokens


def test_stream_offsets_exact_under_any_partitioning(spark):
    """The two-phase prefix sum must equal the naive per-shard running
    sum for EVERY physical layout — including a pre-shuffled input and
    a skewed one-shard stream (the 100 TB shape the rework exists
    for)."""
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.col("id") % 7), lambda i: i)
        ).alias("text"),
    )
    # n_shards=1: the whole corpus is ONE stream — the naive window's
    # worst case, and the layout where boundary placement matters most
    for df in (docs, docs.repartition(17)):
        rows = pack_chunks(df, ctx=16, n_shards=1).collect()
        offset = 0
        for r in sorted(rows, key=lambda r: r.doc_id):
            assert r.start_tok == offset
            offset += r.n_tokens


def test_pack_chunks_plan_has_no_whole_shard_window(spark):
    """The scale fix: the only running-sum window must partition on
    (shard, run) — never on shard alone — and the offsets table comes
    back as a broadcast join."""
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c").alias("text"),
    )
    df = pack_chunks(docs, ctx=16, n_shards=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, plan  # the local cumulative-sum window exists
    for spec in specs:
        # every running-sum spec carries the run id alongside shard
        assert "_p" in spec or "shard" not in spec, spec
    assert "BroadcastHashJoin" in plan


def test_crawl_diff_statuses(spark):
    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone")], ["url", "text"]
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u4", "fresh")], ["url", "text"]
    )
    got = {r.url: r.status for r in crawl_diff(new, old).collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "deleted",
        "u4": "new",
    }


def test_crawl_diff_fingerprints_roundtrip(spark):
    """fp columns are present exactly on the sides where the url
    exists (the thin routing table downstream joins against)."""
    old = spark.createDataFrame([("u1", "x")], ["url", "text"])
    new = spark.createDataFrame([("u2", "y")], ["url", "text"])
    rows = {r.url: r for r in crawl_diff(new, old).collect()}
    assert rows["u1"].fp_new is None and rows["u1"].fp_old is not None
    assert rows["u2"].fp_new is not None and rows["u2"].fp_old is None


def test_crawl_diff_null_text_is_presence_not_fp(spark):
    """A url present in BOTH crawls with NULL text on one side has a
    NULL fingerprint — presence must come from the join side, so it is
    'changed', never 'new'/'deleted'; NULL on both sides compares
    null-safe equal → 'unchanged'."""
    old = spark.createDataFrame(
        [("u1", "x"), ("u2", None), ("u3", None)], "url string, text string"
    )
    new = spark.createDataFrame(
        [("u1", None), ("u2", "y"), ("u3", None)], "url string, text string"
    )
    got = {r.url: r.status for r in crawl_diff(new, old).collect()}
    assert got == {"u1": "changed", "u2": "changed", "u3": "unchanged"}


def test_lang_rebalance_flattens_and_is_deterministic(spark):
    from webextract.operators.sampling import lang_rebalance

    rows = [(i, "en" if i % 10 < 8 else "mi") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = lang_rebalance(docs).cache()
    kept = {
        r.lang: r.n for r in
        out.filter("kept").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # α=0.5: expected kept ∝ sqrt(n_l) → 800-doc en and 200-doc mi
    # end up within 2.2x of each other instead of 4x
    assert kept["en"] < 2.2 * kept["mi"]
    # minority language keeps a HIGHER fraction than the head language
    assert kept["mi"] / 200 > kept["en"] / 800
    # deterministic under physical layout changes
    again = lang_rebalance(docs.repartition(13))
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_lang_rebalance_budget_divisor_scales_keep_rate(spark):
    from webextract.operators.sampling import lang_rebalance

    docs = spark.createDataFrame(
        [(i, "aa" if i % 3 else "bb") for i in range(600)],
        "doc_id long, lang string",
    )
    n2 = lang_rebalance(docs, budget_divisor=2).filter("kept").count()
    n4 = lang_rebalance(docs, budget_divisor=4).filter("kept").count()
    assert 0 < n4 < n2 < 600
    # halved budget ≈ halved keeps (hash-uniform sampling)
    assert abs(n4 * 2 - n2) < 0.2 * n2


def test_split_assign_partitions_and_is_stable(spark):
    from webextract.operators.sampling import split_assign

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = split_assign(docs)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # ~98/1/1 with hash noise
    assert counts["train"] > 1900
    assert 1 <= counts["val"] <= 60 and 1 <= counts["test"] <= 60

    # assignment is a pure function of the key: repartitioning (and by
    # extension retries / different cluster layouts) cannot move a doc
    again = split_assign(docs.repartition(7))
    joined = out.select("doc_id", F.col("split").alias("a")).join(
        again.select("doc_id", F.col("split").alias("b")), "doc_id")
    assert joined.filter(F.col("a") != F.col("b")).count() == 0


def test_split_assign_respects_custom_thresholds(spark):
    from webextract.operators.sampling import split_assign

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = split_assign(docs, thresholds=(("a", 500), ("b", 1000)))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == {"a", "b"}
    # bucket < 500 maps to a, rest to b — verify against the bucket col
    bad = out.filter(
        ((F.col("bucket") < 500) & (F.col("split") != "a"))
        | ((F.col("bucket") >= 500) & (F.col("split") != "b"))
    ).count()
    assert bad == 0


def test_host_skew_report_values(spark):
    from webextract.operators.sampling import host_skew_report
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [(f"https://big.example/{i}",) for i in range(30)]
        + [(f"https://small.example/{i}",) for i in range(10)],
        ["url"],
    )
    rows = {r.host: r for r in host_skew_report(pages, rows_per_task=8).collect()}
    big, small = rows["big.example"], rows["small.example"]
    assert big.n_pages == 30 and big.share_permille == 750
    assert big.salt_factor == 4            # ceil(30/8)
    assert small.salt_factor == 2 and small.share_permille == 250


def test_host_skew_partial_aggregation(spark):
    from webextract.operators.sampling import host_skew_report
    from webextract.sources.pages import pages_from_documents

    report = host_skew_report(pages_from_documents(spark, "/root/testdata/sf0.001"))
    plan = report._jdf.queryExecution().executedPlan().toString()
    # the corpus pass is checkpointed: both branches (total + output)
    # read the materialized host-count table, not the pages scan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # and the PRODUCTION corpus pass collapses map-side (skew-immune):
    # _host_counts is the exact subtree host_skew_report checkpoints
    from webextract.operators.sampling import _host_counts

    counts_plan = (
        _host_counts(pages_from_documents(spark, "/root/testdata/sf0.001"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in counts_plan


def test_chunk_texts_stitches_across_docs(spark):
    from webextract.operators.sampling import chunk_texts

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (2, "f g"), (4, "h i j k")],  # one shard (all even)
        ["doc_id", "text"],
    )
    rows = {r.chunk: r for r in chunk_texts(docs, ctx=4, n_shards=2).collect()}
    # stream: a b c d | e f g h | i j k
    assert rows[0].chunk_text == "a b c d" and rows[0].n_docs == 1
    assert rows[1].chunk_text == "e f g h" and rows[1].n_docs == 3
    assert rows[2].chunk_text == "i j k" and rows[2].n_tokens == 3  # partial tail


def test_chunk_texts_roundtrips_the_stream(spark):
    from webextract.operators.sampling import chunk_texts
    from pyspark.sql import functions as F

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.col("id") % 7), lambda i: i)
        ).alias("text"),
    )
    rows = chunk_texts(docs, ctx=8, n_shards=4).collect()
    # rebuilding each shard's stream from its chunks in order must equal
    # the direct concatenation of its docs in doc_id order
    got = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.chunk)):
        got[r.shard] = (got.get(r.shard, "") + " " + r.chunk_text).strip()
    want = {
        s: " ".join(
            r.text for r in docs.filter(F.col("doc_id") % 4 == s)
            .orderBy("doc_id").collect()
        )
        for s in range(4)
    }
    assert got == want


def test_count_min_overestimates_only_and_is_tight_when_sparse(spark):
    """CM property: est >= true for every key; with far fewer keys
    than cells the estimate is exact (no collisions possible to
    force, so overestimate == 0 for all three hosts here)."""
    from webextract.operators.sampling import count_min_hosts

    rows = [(f"https://h{i % 3}.com/p{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, ["url"])
    got = {r.host: r for r in count_min_hosts(df).collect()}
    assert len(got) == 3
    for r in got.values():
        assert r.est_n >= r.true_n
        assert r.overestimate == r.est_n - r.true_n
    assert sum(r.true_n for r in got.values()) == 30
    assert all(r.overestimate == 0 for r in got.values())
