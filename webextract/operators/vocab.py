"""Corpus vocabulary statistics over ``documents(doc_id, text, ...)``.

The LLM-training-data companions to textstats: corpus-level word
frequency (the tokenizer-vocabulary build step), word-n-gram counts,
per-document TF-IDF keywords, and a C4-style blocklist gate. The
corpus-frequency table is the web-scale analog of the reference's
character-dict construction — the frozen token inventory every
downstream decode step indexes into
(ppocr/postprocess/rec_postprocess.py:29-55 loads the dict;
ppocr/utils/dict/*.txt are its artifacts) — rebuilt here from the
corpus itself, the way a BPE/unigram tokenizer's vocab is cut from a
frequency table.

Every operator is 100% JVM built-ins (no Python UDFs) and every float
ordering is replaced by exact-integer ordering (the quantized-idf
trick, same rationale as lm.py's integer bit costs): ranks are
hash-portable to the DuckDB oracle where raw ln()-based scores are
not.

Scale notes (10^12 docs):
- word-grid aggregations partial-combine before their shuffle
  (groupBy word / (doc_id, word) — plan-asserted partial aggs);
- per-document top-k keywords use a per-doc row_number window
  (Spark 4 inserts WindowGroupLimit, so the sort prunes early);
- the doc-frequency table joins back to the grid on ``word`` — an
  equi-shuffle both sides; the corpus size N enters as a 1-row
  broadcast aggregate, never a driver-side ``count()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# lowercase-alpha word pieces (mirrored verbatim in the oracle SQL)
WORD_REGEX = "[a-z]+"

# Frozen C4-style blocklist (the "bad words" gate: C4 dropped any doc
# containing a blocklisted token — arxiv:1910.10683 §2.2). Tiny on
# purpose: broadcast as literals into the plan, not a join.
BLOCKLIST: tuple[str, ...] = ("dup", "spam", "casino")

# idf quantization: idf_milli = (1000 * n_docs) DIV df — exact integer
# division in BOTH engines (Spark `DIV`, DuckDB `//`), so rank order is
# bit-portable where tf * ln(N/df) doubles are not.
IDF_SCALE = 1000


def _words(col: str = "text") -> Column:
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(WORD_REGEX), 0)


def word_grid(docs: DataFrame) -> DataFrame:
    """(doc_id, word, tf) — per-document term frequencies; ONE shuffle
    with map-side partial counts. The base relation every operator
    below derives from."""
    return (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )


def _ranked_topk(totals, key_col: str, k: int):
    """Distributed top-k + rank: orderBy+limit compiles to
    TakeOrderedAndProject (never a global window over the full table);
    rank is then a row_number over the ≤k survivors, whose window key
    is a column-DERIVED constant (``coalesce(substring(col,0,0),'')``)
    because a literal partition key constant-folds away and Spark
    re-warns about a partitionless window."""
    order = [F.col("n_occurrences").desc(), F.col(key_col).asc()]
    top = totals.orderBy(*order).limit(k)
    w = Window.partitionBy(
        F.coalesce(F.substring(F.col(key_col), 0, 0), F.lit(""))
    ).orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", key_col, "n_occurrences", "n_docs"
    )


def vocab_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus vocabulary: top-k words by total occurrences with doc
    frequencies — the frequency table a BPE/unigram vocab cut reads.

    Two-level aggregation — (doc_id, word) grid first, then word — so
    both shuffles partial-combine; top-k is a distributed
    TakeOrderedAndProject (never a global window over the full
    vocabulary), rank added over the ≤k survivors.
    """
    totals = word_grid(docs).groupBy("word").agg(
        F.sum("tf").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    return _ranked_topk(totals, "word", k)


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by quantized TF-IDF:
    ``score = tf * ((IDF_SCALE * n_docs) DIV df)`` — exact integers,
    so the rank order hash-matches the oracle (a raw ``ln`` double
    would not; same integer-quantization rationale as lm.py's bit
    costs). Ties break on word.

    Returns (doc_id, rank, word, tf, df). n_docs is a 1-row broadcast
    aggregate (no driver count); the df join is an equi-shuffle on
    ``word``; the final top-k-per-doc window prunes early via
    WindowGroupLimit.
    """
    grid = word_grid(docs)
    df_tbl = grid.groupBy("word").agg(F.count("*").alias("df"))
    n_tbl = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    scored = (
        grid.join(df_tbl, "word")
        .crossJoin(n_tbl)
        .withColumn(
            "score",
            F.col("tf").cast("decimal(38,0)")
            * F.expr(f"({IDF_SCALE} * n_docs) DIV df").cast("decimal(38,0)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "tf", "df")
    )


def blocklist_filter(
    docs: DataFrame, blockwords: tuple[str, ...] = BLOCKLIST
) -> DataFrame:
    """C4-style blocklist gate: per doc, the count of blocklisted
    token occurrences (token-exact after lowercasing, not substring —
    'duplicate' does not trip 'dup') and the keep verdict. One
    codegen-only pass, no shuffle at all."""
    words = tuple(blockwords)
    hits = F.filter(_words(), lambda t: t.isin(*words))
    return docs.select(
        "doc_id",
        F.size(hits).alias("n_blocked"),
        (F.size(hits) == 0).alias("keep"),
    )


def ngram_counts(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus word-n-gram statistics: top-k n-grams by total
    occurrences with doc frequencies — the count table an n-gram LM
    (or a contamination/memorization audit) reads. Generalizes
    :func:`vocab_topk` (n=1 on split tokens) to phrases; unlike
    ``dedup.shingles`` the grams are NOT per-doc-distinct — counts are
    occurrence totals, the LM quantity.

    Shape: the gram array is built in-row (``transform`` over
    ``sequence`` — codegen), then the same two-level aggregation as
    the vocabulary build: (doc_id, gram) grid with map-side partial
    counts, then gram totals + doc frequencies, then a distributed
    TakeOrderedAndProject for the top-k (never a global sort).
    """
    from webextract.operators.dedup import shingle_array

    grams = shingle_array(_words(), n)
    grid = (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("tf"))
    )
    totals = grid.groupBy("gram").agg(
        F.sum("tf").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    return _ranked_topk(totals, "gram", k)
