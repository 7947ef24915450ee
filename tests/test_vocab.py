"""Corpus vocabulary statistics (operators/vocab.py)
and page-metadata extraction (operators/pagemeta.py)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from webextract.operators import pagemeta, vocab

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(rows)]
    )


def test_vocab_topk_counts_and_rank_ties(spark):
    docs = _docs(spark, ["b b a", "a b", "c A"])
    out = {r["word"]: r for r in vocab.vocab_topk(docs, k=10).collect()}
    assert out["b"]["n_occurrences"] == 3 and out["b"]["n_docs"] == 2
    assert out["a"]["n_occurrences"] == 3 and out["a"]["n_docs"] == 3
    # tie on n_occurrences=3 breaks alphabetically: a before b
    assert out["a"]["rank"] == 1 and out["b"]["rank"] == 2
    assert out["c"]["rank"] == 3


def test_vocab_topk_limits_to_k(spark):
    docs = _docs(spark, ["a b c d e f"])
    assert vocab.vocab_topk(docs, k=3).count() == 3


def test_tfidf_ranks_rare_words_first(spark):
    docs = _docs(spark, ["shared zebra", "shared", "shared", "shared"])
    top = {
        r["doc_id"]: r["word"]
        for r in vocab.tfidf_keywords(docs, k=1).collect()
    }
    # in doc 0, 'zebra' (df=1) outranks 'shared' (df=4) at equal tf
    assert top[0] == "zebra"
    assert top[1] == "shared"


def test_tfidf_tf_breaks_idf_and_word_breaks_score(spark):
    docs = _docs(spark, ["big big small", "big small"])
    rows = vocab.tfidf_keywords(docs, k=2).filter(F.col("doc_id") == 0).collect()
    by_rank = {r["rank"]: r for r in rows}
    # both words have df=2 → equal idf; tf=2 for 'big' wins rank 1
    assert by_rank[1]["word"] == "big" and by_rank[1]["tf"] == 2
    assert by_rank[2]["word"] == "small"
    rows1 = vocab.tfidf_keywords(docs, k=2).filter(F.col("doc_id") == 1).collect()
    # doc 1: identical tf and df → alphabetical tie-break
    assert [r["word"] for r in sorted(rows1, key=lambda r: r["rank"])] == [
        "big",
        "small",
    ]


def test_blocklist_is_token_exact_not_substring(spark):
    docs = _docs(spark, ["duplicate rows here", "dup dup here", "clean text"])
    out = {r["doc_id"]: r for r in vocab.blocklist_filter(docs).collect()}
    assert out[0]["n_blocked"] == 0 and out[0]["keep"]       # 'duplicate' != 'dup'
    assert out[1]["n_blocked"] == 2 and not out[1]["keep"]
    assert out[2]["n_blocked"] == 0 and out[2]["keep"]


def test_blocklist_case_folds(spark):
    docs = _docs(spark, ["SPAM Casino DUP"])
    assert vocab.blocklist_filter(docs).first()["n_blocked"] == 3


def _pages(spark, htmls):
    return spark.createDataFrame(
        [Row(url=f"u{i}", html=h.encode()) for i, h in enumerate(htmls)]
    )


def test_page_meta_extracts_all_fields(spark):
    html = (
        '<html><head><title lang="en">My\nTitle</title>'
        '<meta name="description" content="A summary."></head>'
        '<body><h1 class="x">Head <em>one</em></h1>'
        '<a href="/1">x</a><a>y</a><abbr>not a link</abbr></body></html>'
    )
    r = pagemeta.page_meta(_pages(spark, [html])).first()
    assert r["title"] == "My\nTitle"                 # DOTALL across newline
    assert r["meta_description"] == "A summary."
    assert r["h1"] == "Head <em>one</em>"            # stops at first </h1>
    assert r["n_links"] == 2                         # <abbr doesn't count


def test_page_meta_missing_fields_are_null(spark):
    r = pagemeta.page_meta(_pages(spark, ["<html><body>no head</body></html>"])).first()
    assert r["title"] is None
    assert r["meta_description"] is None
    assert r["h1"] is None
    assert r["n_links"] == 0


def test_page_meta_first_match_wins(spark):
    html = "<title>first</title><title>second</title><h1>a</h1><h1>b</h1>"
    r = pagemeta.page_meta(_pages(spark, [html])).first()
    assert r["title"] == "first" and r["h1"] == "a"


def _outline(spark, html):
    rows = pagemeta.document_outline(_pages(spark, [html])).collect()
    return sorted(
        [(r["pos"], r["level"], r["heading"], r["parent_pos"]) for r in rows]
    )


def test_outline_nesting_and_level_skip(spark):
    html = (
        "<h1>A</h1><p>x</p><h2>B</h2><h4>C</h4>"  # h4 skips h3 → parent h2
        "<h2>D</h2><h3>E</h3><h1>F</h1><h3>G</h3>"
    )
    assert _outline(spark, html) == [
        (0, 1, "A", None),
        (1, 2, "B", 0),
        (2, 4, "C", 1),
        (3, 2, "D", 0),
        (4, 3, "E", 3),
        (5, 1, "F", None),
        (6, 3, "G", 5),   # parent is the NEW h1, not stale earlier h2s
    ]


def test_outline_orphan_and_empty(spark):
    assert _outline(spark, "<h3>lost</h3><h1>root</h1>") == [
        (0, 3, "lost", None),
        (1, 1, "root", None),
    ]
    assert _outline(spark, "<p>no headings</p>") == []


def test_outline_attrs_and_inline_markup(spark):
    html = '<h2 id="s1" class="big">Hi <em>there</em></h2>'
    assert _outline(spark, html) == [(0, 2, "Hi <em>there</em>", None)]


def test_ngram_counts_occurrences_not_distinct(spark):
    from webextract.operators.vocab import ngram_counts

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    rows = {r.gram: r for r in ngram_counts(docs, n=2, k=10).collect()}
    # 'a b' occurs 3x in doc1 (occurrences, NOT per-doc distinct) + 1x in doc2
    assert rows["a b"].n_occurrences == 4 and rows["a b"].n_docs == 2
    assert rows["b a"].n_occurrences == 2 and rows["b a"].n_docs == 1
    assert rows["a b"].rank == 1


def test_ngram_counts_short_docs_and_topk_plan(spark):
    from webextract.operators.vocab import ngram_counts

    docs = spark.createDataFrame([(1, "solo"), (2, "x y")], ["doc_id", "text"])
    rows = ngram_counts(docs, n=2, k=5).collect()
    assert [r.gram for r in rows] == ["x y"]  # 1-token doc contributes nothing
    plan = ngram_counts(docs, n=2, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "partial_count" in plan
