"""Byte-pair-encoding merge learning over ``documents(doc_id, text)``.

The tokenizer-TRAINING step the vocab module's frequency table feeds:
learn the top-``n_merges`` BPE merges from the corpus (Sennrich et al.
2016, arXiv:1508.07909 — the neural-MT subword algorithm every modern
LLM tokenizer descends from). The reference's analog is its frozen
character dict (ppocr/utils/dict/*.txt, loaded by
ppocr/postprocess/rec_postprocess.py:29-55): a fixed symbol inventory
every decode step indexes into. Here the inventory is LEARNED from the
corpus — the web-scale pipeline builds its tokenizer from the data it
just cleaned.

Distributed shape (the Sennrich trick):
- The corpus is scanned ONCE into a word-frequency table
  (``word_freq``). Everything iterative happens on that table — at
  10^12 pages the distinct-word vocabulary is ~10^7-10^8 rows, so the
  per-merge work is vocabulary-sized, not corpus-sized.
- Each distributed merge round (the large-vocabulary path below) is:
  adjacent-pair counts (explode + partial-agg groupBy — one
  vocabulary-sized shuffle), a 1-row argmax via ``orderBy().limit(1)``
  (TakeOrderedAndProject — never a global window), and a broadcast of
  that single row into a JVM higher-order ``aggregate`` fold that
  rewrites each word's symbol string. No Python UDFs anywhere; no
  driver-side pair tables.
- ``localCheckpoint`` truncates lineage each round (the
  links.pagerank pattern) so the plan stays O(1) per round.

Training paths (one decision, made from the input): a real tokenizer
wants 3·10^4-10^5 merges, and one driver-coordinated Spark round per
merge is days of scheduler latency no matter how big the cluster is.
:func:`bpe_train` therefore checkpoints the word-frequency table once
and reads at most ``LOCAL_VOCAB_MAX + 1`` of its rows:
- the table fits (the production path, any merge count): the merge
  loop runs on the driver over that vocabulary-sized table with
  incremental pair-stat maintenance, the standard single-node trainer
  shape — ONE Spark round however many merges; the trained vocabulary
  is re-derived distributed by replaying the frozen merges;
- the table does not fit (a noisy crawl's 10^8-word tail): the
  collect-free rounds above run over the same checkpoint, one merge
  and one driver row per round.
Both paths give identical artifacts (pytest-pinned against each other
and the plain-Python reference).

Determinism contract (what makes the unrolled recursive-CTE oracle
match bit-for-bit):
- Symbols start as the ``[a-z]`` characters of each ``[a-z]+`` word
  (vocab.WORD_REGEX), joined by single spaces. Symbols therefore never
  contain spaces or regex metacharacters, so plain string matching on
  the space-padded form is symbol-exact.
- Pair counts sum corpus word counts over ALL adjacent positions
  (overlapping: "aaa" contributes 2 to (a,a)) — the same enumeration
  Sennrich's reference ``get_stats`` does.
- The winning pair is max count, ties broken (left, right) ascending.
- Merge application is LEFT-TO-RIGHT GREEDY non-overlapping: Spark
  folds the symbol array with ``F.aggregate``; the oracle iterates a
  first-occurrence ``regexp_replace`` of the padded pattern
  `` l r `` → `` lr `` to fixpoint in a recursive CTE. Both are the
  same function: re-scanning from the string start after a
  first-match replace can never create an earlier match (the replaced
  prefix no longer contains the pattern), so the fixpoint equals the
  single greedy left-to-right pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webextract.operators.vocab import WORD_REGEX

# symbol alphabet: single [a-z] chars (each word's character split).
SYM_REGEX = "[a-z]"


def word_freq(docs: DataFrame) -> DataFrame:
    """(syms, cnt): corpus word frequencies with each word pre-split
    into its space-joined character symbols — the ONE corpus-sized
    scan; every merge iteration runs on this table's ~|V| rows.
    Distinct words have distinct character sequences, and merging
    only ever concatenates adjacent symbols, so ``syms`` stays a key
    through every round."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_REGEX), 0)
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.array_join(
                F.regexp_extract_all(F.col("word"), F.lit(SYM_REGEX), 0), " "
            ).alias("syms"),
            "cnt",
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, pair_cnt): adjacent-symbol pair counts weighted by word
    frequency. explode + groupBy partial-combines before its shuffle;
    the pair space is bounded by total symbols in the vocabulary."""
    chars = F.split(F.col("syms"), " ")
    pairs = F.zip_with(
        F.slice(chars, F.lit(1), F.size(chars) - 1),
        F.slice(chars, F.lit(2), F.size(chars) - 1),
        _pair_struct,
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("pair_cnt"))
    )


def _pair_struct(a: Column, b: Column) -> Column:
    # closure-free named lambda: PySpark introspects arity, so no
    # default args (oracle-portability rule)
    return F.struct(a.alias("l"), b.alias("r"))


def _apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every word's symbol string with the winning merge: a
    broadcast join of the 1-row (l, r) argmax, then a JVM
    ``aggregate`` fold over the symbol array — exact left-to-right
    greedy, whole-stage codegen, no shuffle. LEFT join on purpose: if
    the corpus has run out of pairs the argmax is EMPTY, l/r come
    back NULL, every fold condition is NULL→false, and the vocabulary
    passes through unchanged (a cross join would silently erase it)."""
    merged = vocab.join(F.broadcast(best.select("l", "r")), F.lit(True), "left")
    return merged.select(
        F.aggregate(
            F.split(F.col("syms"), " "),
            F.lit(""),
            _fold_step_for(F.col("l"), F.col("r")),
        ).alias("syms"),
        "cnt",
    )


def _fold_step_for(l: Column, r: Column):
    """Greedy left-to-right single-merge fold step, parameterized over
    the (l, r) pair source — a plain column for the training join, an
    outer-lambda struct field for the frozen replay. Closure factory
    (not default args) because PySpark introspects lambda arity."""

    def step(acc: Column, y: Column) -> Column:
        # last symbol of the accumulated string (acc itself if no space)
        last = F.substring_index(acc, " ", -1)
        prefix = F.left(acc, F.length(acc) - F.length(last))
        return (
            F.when(acc == "", y)
            .when((last == l) & (y == r), F.concat(prefix, l, r))
            .otherwise(F.concat(acc, F.lit(" "), y))
        )

    return step


def _replay_merges(syms: Column, ms: Column) -> Column:
    """Apply a FROZEN ordered merge list (``ms``: array<struct<l,r>> in
    learning order) to one space-joined symbol string — merge-order
    replay, each merge greedy left-to-right: exactly the function
    training applied to every vocabulary word, so a word that WAS in
    the training corpus replays to its trained tokenization, and an
    unseen word gets the tokenization it would have received had it
    been present (with zero count). This is deliberately the
    train-consistent convention; the rank-priority apply order used by
    some tokenizer libraries coincides with it on every word the
    training corpus contains.

    Two nested JVM ``aggregate`` folds (outer over merges, inner over
    the word's symbols) — RUNTIME loops, so the compiled expression
    stays constant-size no matter how many merges (the heading_paths
    lesson). No Python crosses the boundary."""

    def one_merge(acc: Column, m: Column) -> Column:
        return F.aggregate(
            F.split(acc, " "), F.lit(""), _fold_step_for(m["l"], m["r"])
        )

    return F.aggregate(ms, syms, one_merge)


def _learn_rounds(
    vocab: DataFrame, n_merges: int
) -> tuple[list[DataFrame], DataFrame]:
    """The collect-free fallback over the checkpointed word-frequency
    table ``vocab``: → ([per-step 1-row argmax frames in learning
    order], final vocabulary). Each round's argmax row is eagerly
    localCheckpoint-ed (it is ONE row) so the merge-table union and
    the next round's fold both reuse it without recomputing the pair
    aggregation, and the vocabulary is checkpointed per round to keep
    lineage O(1)."""
    bests = []
    for _ in range(n_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .localCheckpoint()
        )
        bests.append(best)
        vocab = _apply_merge(vocab, best).localCheckpoint(eager=False)
    return bests, vocab


_MERGES_SCHEMA = (
    "step INT, left_sym STRING, right_sym STRING, "
    "merged STRING, pair_cnt BIGINT"
)


def _merge_table(bests: list[DataFrame]) -> DataFrame:
    """Step-numbered merge table from the per-round argmax rows →
    (step, left_sym, right_sym, merged, pair_cnt), step 1-based."""
    steps = [
        best.select(
            F.lit(step).alias("step"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.concat("l", "r").alias("merged"),
            "pair_cnt",
        )
        for step, best in enumerate(bests, start=1)
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.union(s)
    return out


def _merges_from_rows(docs: DataFrame, rows: list[tuple]) -> DataFrame:
    """(step, left_sym, right_sym, merged, pair_cnt) tuples → the
    merge-table DataFrame (empty input keeps the schema)."""
    return docs.sparkSession.createDataFrame(rows, _MERGES_SCHEMA)


def _local_merge_loop(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, str, int]]:
    """Pure-Python Sennrich merge loop with incremental pair-stat
    maintenance (the standard single-node trainer shape: a pair→words
    index so each merge touches only the words containing it, never
    the whole vocabulary). Identical semantics to the distributed
    rounds: overlapping pair counts, (count desc, l, r) argmax,
    greedy left-to-right application. → [(l, r, merged, pair_cnt)]
    in learning order."""
    from collections import Counter, defaultdict

    words: list[list] = [[syms.split(" "), cnt] for syms, cnt in word_counts]
    stats: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for wi, (parts, cnt) in enumerate(words):
        for pair in zip(parts, parts[1:]):
            stats[pair] += cnt
            index[pair].add(wi)
    merges = []
    for _ in range(n_merges):
        if not stats:
            break
        (l, r), best_cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, l + r, best_cnt))
        # the index may hold stale word ids (words rewritten since) —
        # harmless: subtract-old/add-new cancels for a word that no
        # longer contains the pair, and stats stays exact throughout
        for wi in index.pop((l, r), set()):
            parts, cnt = words[wi]
            for pair in zip(parts, parts[1:]):
                stats[pair] -= cnt
                if stats[pair] <= 0:
                    del stats[pair]
            new_parts, i = [], 0
            while i < len(parts):
                if i + 1 < len(parts) and parts[i] == l and parts[i + 1] == r:
                    new_parts.append(l + r)
                    i += 2
                else:
                    new_parts.append(parts[i])
                    i += 1
            words[wi][0] = new_parts
            for pair in zip(new_parts, new_parts[1:]):
                stats[pair] += cnt
                index[pair].add(wi)
    return merges


# Driver budget of the local merge loop. Measured on 46k and 175k
# distinct random [a-z] words of length 2-12 with 200 merges
# (tracemalloc peak over the collected Rows plus _local_merge_loop):
# 1.3-1.4 KB of driver Python heap per distinct word. Assuming a 1 GiB
# driver-heap budget, 500k words take ~0.7 GB, leaving headroom for
# longer real-corpus words; larger vocabularies take the rounds.
LOCAL_VOCAB_MAX = 500_000


def bpe_train(
    docs: DataFrame, n_merges: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Train once, return BOTH tokenizer artifacts: the merge table
    (what :func:`bpe_learn` returns) and the trained vocabulary (the
    word-frequency table after all merges, ``(syms, cnt)``). A
    deployment persists these two tables and tokenizes every later
    crawl with :func:`bpe_apply` — training never reruns on held-out
    data.

    The corpus is reduced ONCE to the checkpointed word-frequency
    table, and at most ``LOCAL_VOCAB_MAX + 1`` of its rows reach the
    driver. If the table fits, :func:`_local_merge_loop` learns every
    merge there (one Spark round for any merge count) and the trained
    vocabulary is re-derived distributed by replaying the frozen
    merges over the checkpoint — a map-only job, so the artifact never
    rides through the driver. If it does not fit,
    :func:`_learn_rounds` runs over the same checkpoint, one merge per
    Spark round and one driver row per round. Both give identical
    artifacts.

    ``n_merges=0`` is legal (characters-only tokenizer): the merge
    table comes back empty with the usual schema."""
    wf = word_freq(docs).localCheckpoint(eager=False)
    rows = wf.limit(LOCAL_VOCAB_MAX + 1).collect()
    if len(rows) > LOCAL_VOCAB_MAX:
        bests, vocab = _learn_rounds(wf, n_merges)
        merges = _merge_table(bests) if bests else _merges_from_rows(docs, [])
        return merges, vocab
    learned = _local_merge_loop([(r["syms"], r["cnt"]) for r in rows], n_merges)
    merges = _merges_from_rows(
        docs,
        [(i, l, r, m, c) for i, (l, r, m, c) in enumerate(learned, start=1)],
    )
    ms_row = merge_table_array(merges).localCheckpoint()
    vocab = wf.crossJoin(F.broadcast(ms_row)).select(
        _replay_merges(F.col("syms"), F.col("ms")).alias("syms"), "cnt"
    )
    return merges, vocab


def bpe_learn(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Learn ``n_merges`` BPE merges → (step, left_sym, right_sym,
    merged, pair_cnt), step 1-based in learning order."""
    merges, _ = bpe_train(docs, n_merges)
    return merges


def bpe_vocab(docs: DataFrame, n_merges: int = 8, k: int = 20) -> DataFrame:
    """The symbol inventory AFTER ``n_merges`` learned merges:
    top-``k`` symbols by corpus occurrence → (rank, sym,
    n_occurrences). Evidences merge APPLICATION (the encode side),
    not just learning; rank ties break symbol-ascending and top-k is
    a distributed TakeOrderedAndProject."""
    _, vocab = bpe_train(docs, n_merges)
    totals = (
        vocab.select(F.explode(F.split("syms", " ")).alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").alias("n_occurrences"))
    )
    top = totals.orderBy(
        F.desc("n_occurrences"), F.asc("sym")
    ).limit(k)
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        F.coalesce(F.substring(F.col("sym"), 0, 0), F.lit(""))
    ).orderBy(F.desc("n_occurrences"), F.asc("sym"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "sym", "n_occurrences"
    )


def merge_table_array(merges: DataFrame) -> DataFrame:
    """The merge table as ONE row ``(ms: array<struct<l,r>>)`` in step
    order — the broadcastable frozen-tokenizer artifact
    :func:`_replay_merges` folds. ``array_sort`` on the (step, l, r)
    struct orders by step (lexicographic struct compare, step first
    and unique), driver-free; empty merge tables become an empty
    array (replay = identity)."""
    sorted_steps = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("step").alias("step"),
                F.col("left_sym").alias("l"),
                F.col("right_sym").alias("r"),
            )
        )
    )
    return merges.agg(sorted_steps.alias("ms_s")).select(
        F.transform(
            F.col("ms_s"), lambda m: F.struct(m["l"].alias("l"), m["r"].alias("r"))
        ).alias("ms")
    )


def bpe_apply(
    docs: DataFrame, merges: DataFrame, vocab: DataFrame | None = None
) -> DataFrame:
    """Tokenize a corpus with a FROZEN tokenizer — the inference-side
    apply the reference performs by loading a fixed dict and decoding
    against it (ppocr/postprocess/rec_postprocess.py:29-55): the
    merge table ``merges`` (a :func:`bpe_learn` / :func:`bpe_train`
    output, possibly trained on LAST month's crawl) is applied to
    ``docs`` without any retraining. Output per document: word count,
    BPE token count, tokens_per_word (one IEEE division of exact
    ints).

    Totality: every distinct corpus word gets a token count. Words in
    the optional trained ``vocab`` (the ``(syms, cnt)`` table from
    :func:`bpe_train`) resolve by a LEFT equi-join — stripping the
    spaces from a merged symbol string recovers the word, so the
    vocabulary IS the word→tokenization map. Words the training
    corpus never saw (the join's NULL side) fall back to
    :func:`_replay_merges`: the merge list replayed in learning order
    over the word's character symbols — the identical function
    training applied, so the two paths agree on every in-vocab word
    (pinned by test). With ``vocab=None`` every word takes the replay
    path.

    Scale shape: the corpus reduces to (doc_id, word, k) by a
    partial-agg groupBy, then to DISTINCT words before any expensive
    work — the replay fold and the vocabulary join both run on
    vocabulary-sized tables (~10^7-10^8 rows at 10^12 pages), never
    on word instances. The merge array broadcasts as one row; the
    replay is a constant-size compiled expression with runtime loops
    (n_merges × word length), and ``coalesce`` short-circuits it for
    every word the vocabulary join already resolved — at production
    merge counts the fold runs only over the OOV tail. Hot words
    ("the") make (word) a skewed join key — the pre-aggregation caps
    that at one row per (document, word), and AQE's skew-join split
    handles the residual imbalance; no window, no collect, no
    Python."""
    ms_row = merge_table_array(merges).localCheckpoint()
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_REGEX), 0)
        ).alias("word"),
    )
    # feeds the distinct-word table AND the final join: checkpoint so
    # the corpus explode+agg runs once, not per branch
    per_doc_word = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)
    )
    dw = per_doc_word.select("word").distinct()
    if vocab is not None:
        mapping = vocab.select(
            F.replace(F.col("syms"), F.lit(" "), F.lit("")).alias("word"),
            F.size(F.split("syms", " ")).alias("n_syms_v"),
        )
        dw = dw.join(mapping, "word", "left")
    else:
        dw = dw.withColumn("n_syms_v", F.lit(None).cast("int"))
    char_syms = F.array_join(
        F.regexp_extract_all(F.col("word"), F.lit(SYM_REGEX), 0), " "
    )
    replayed_n = F.size(F.split(_replay_merges(char_syms, F.col("ms")), " "))
    word_tok = dw.crossJoin(F.broadcast(ms_row)).select(
        "word", F.coalesce(F.col("n_syms_v"), replayed_n).alias("n_syms")
    )
    joined = per_doc_word.join(word_tok, "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_words"),
            F.sum(F.col("k") * F.col("n_syms")).alias("n_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.col("n_tokens").cast("double") / F.col("n_words"),
        )
    )


def bpe_encode(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Apply the learned tokenizer to its OWN training corpus — the
    encode pass a training-data pipeline runs right after training
    (the reference analog is the per-image dict lookup in
    ppocr/postprocess/rec_postprocess.py:55-88: a trained inventory
    applied row-by-row at inference). One shared run of the merge
    rounds produces both artifacts; the application is
    :func:`bpe_apply` with the trained vocabulary covering every
    corpus word (the replay fallback compiles in but short-circuits).
    Output per document: word count, BPE token count under the
    ``n_merges``-merge tokenizer, and tokens_per_word — the
    hash-portable compression ratio the sampling/packing operators
    consume as a cost signal."""
    merges, vocab = bpe_train(docs, n_merges)
    return bpe_apply(docs, merges, vocab=vocab)
