"""BPE merge learning (operators/bpe.py) — the tokenizer-training op.

The q:bpe_merges / q:bpe_vocab oracles pin the full iteration chain
against an unrolled recursive-CTE restatement at sf0.01; these tests
pin the algorithm itself against a plain-Python Sennrich reference
(get_stats / merge) on small corpora, plus the greedy-application
equivalence the oracle's fixpoint-replace argument relies on.
"""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from webextract.operators.bpe import bpe_learn, bpe_vocab


def _ref_word_freq(texts):
    import re
    from collections import Counter

    freq = Counter()
    for t in texts:
        for w in re.findall("[a-z]+", t.lower()):
            freq[" ".join(w)] += 1
    return dict(freq)


def _ref_stats(vocab):
    from collections import Counter

    stats = Counter()
    for syms, cnt in vocab.items():
        parts = syms.split(" ")
        for a, b in zip(parts, parts[1:]):
            stats[(a, b)] += cnt
    return stats


def _ref_merge(vocab, pair):
    # left-to-right greedy non-overlapping, the Sennrich semantics
    out = {}
    a, b = pair
    for syms, cnt in vocab.items():
        parts = syms.split(" ")
        merged, i = [], 0
        while i < len(parts):
            if i + 1 < len(parts) and parts[i] == a and parts[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(parts[i])
                i += 1
        out[" ".join(merged)] = cnt
    return out


def _ref_learn(texts, n_merges):
    vocab = _ref_word_freq(texts)
    merges = []
    for step in range(1, n_merges + 1):
        stats = _ref_stats(vocab)
        if not stats:
            break
        # max count, ties (l, r) ascending — the frozen tie-break
        (l, r), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l, r, l + r, cnt))
        vocab = _ref_merge(vocab, (l, r))
    return merges, vocab


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_bpe_learn_matches_reference(spark):
    texts = [
        "the cat sat on the mat",
        "the mats that the cats sat on",
        "that cat, that hat!",
    ]
    expected, _ = _ref_learn(texts, 6)
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_cnt)
        for r in bpe_learn(_docs(spark, texts), n_merges=6)
        .orderBy("step")
        .collect()
    ]
    assert got == expected


def test_bpe_learn_overlap_and_greedy():
    # the classic traps, pinned on the reference first: overlapping
    # pair counting ("aaaa" has 3 (a,a) positions) and left-to-right
    # greedy application ("a a a a" -> "aa aa", not "aa a a")
    merges, vocab = _ref_learn(["aaaa aaaa b"], 1)
    assert merges[0][1:] == ("a", "a", "aa", 6)
    assert "aa aa" in vocab


def test_bpe_learn_greedy_on_spark(spark):
    # same trap through the Spark fold
    rows = bpe_learn(_docs(spark, ["aaaa aaaa b"]), n_merges=2).collect()
    by_step = {r.step: r for r in sorted(rows, key=lambda r: r.step)}
    assert (by_step[1].left_sym, by_step[1].right_sym, by_step[1].pair_cnt) == (
        "a",
        "a",
        6,
    )
    # after "a a"->"aa", each "aaaa" is "aa aa": pair (aa, aa) count 2
    assert (by_step[2].left_sym, by_step[2].right_sym, by_step[2].pair_cnt) == (
        "aa",
        "aa",
        2,
    )


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=12
    )
)
@settings(max_examples=20, deadline=None)
def test_bpe_learn_property(spark, words):
    # tiny alphabet forces heavy merge collisions; the whole 4-step
    # learning trace must match the Python reference exactly
    texts = [" ".join(words)]
    expected, _ = _ref_learn(texts, 4)
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_cnt)
        for r in bpe_learn(_docs(spark, texts), n_merges=4)
        .orderBy("step")
        .collect()
    ]
    # if the corpus runs dry before 4 merges, BOTH sides stop short:
    # the reference breaks out of its loop, the Spark argmax is empty
    # and emits no step row (and the left join leaves vocab intact)
    assert got == expected


def test_bpe_vocab_matches_reference(spark):
    texts = [
        "lower lowest newer newest wider widest",
        "low new wide lower newer",
    ]
    _, vocab = _ref_learn(texts, 5)
    from collections import Counter

    totals = Counter()
    for syms, cnt in vocab.items():
        for s in syms.split(" "):
            totals[s] += cnt
    expected = sorted(
        totals.items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    expected = [
        (i + 1, sym, n) for i, (sym, n) in enumerate(expected)
    ]
    got = [
        (r.rank, r.sym, r.n_occurrences)
        for r in bpe_vocab(_docs(spark, texts), n_merges=5, k=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected


def test_bpe_encode_matches_reference(spark):
    """The encode pass (word join + weighted sums) reproduces a
    plain-Python apply of the reference-learned tokenizer per doc."""
    import re

    from webextract.operators.bpe import bpe_encode

    texts = [
        "the cat sat on the mat",
        "the mats that the cats sat on",
        "that cat, that hat!",
    ]
    _, final_vocab = _ref_learn(texts, 6)
    n_syms = {s.replace(" ", ""): len(s.split(" ")) for s in final_vocab}
    expected = {}
    for i, t in enumerate(texts):
        words = re.findall("[a-z]+", t.lower())
        toks = sum(n_syms[w] for w in words)
        expected[i] = (len(words), toks, toks / len(words))
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.tokens_per_word)
        for r in bpe_encode(_docs(spark, texts), n_merges=6).collect()
    }
    assert got == expected


def _ref_apply(word, merges):
    """Frozen apply, Python reference: replay the learned merges in
    order, each greedy left-to-right — the train-consistent
    convention bpe._replay_merges implements."""
    vocab = {" ".join(word): 1}
    for _, l, r, _, _ in merges:
        vocab = _ref_merge(vocab, (l, r))
    (syms,) = vocab
    return syms.split(" ")


def _ref_encode(texts, merges):
    import re

    out = {}
    for i, t in enumerate(texts):
        words = re.findall("[a-z]+", t.lower())
        toks = sum(len(_ref_apply(w, merges)) for w in words)
        out[i] = (len(words), toks, toks / len(words))
    return out


TRAIN = [
    "the cat sat on the mat",
    "the mats that the cats sat on",
    "that cat, that hat!",
]
# held-out docs with OOV words by construction (zebra, quokka, ...)
HELD = [
    "the zebra sat on that quokka",
    "chatty cats chat that chattel",
    "a lone unseeable xylophone",
]


def test_bpe_apply_heldout_matches_reference(spark):
    """A tokenizer FROZEN on the training slice, applied to held-out
    text containing words training never saw, matches the Python
    merge-order replay word for word."""
    from webextract.operators.bpe import bpe_apply, bpe_train

    ref_merges, _ = _ref_learn(TRAIN, 6)
    merges, vocab = bpe_train(_docs(spark, TRAIN), n_merges=6)
    expected = _ref_encode(HELD, ref_merges)
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.tokens_per_word)
        for r in bpe_apply(_docs(spark, HELD), merges, vocab=vocab).collect()
    }
    assert got == expected


def test_bpe_apply_vocab_and_replay_paths_agree(spark):
    """The LEFT-join vocabulary path and the merge-replay fallback are
    the same function: encoding held-out text with and without the
    trained vocabulary gives identical results (in-vocab words take
    different code paths in the two runs)."""
    from webextract.operators.bpe import bpe_apply, bpe_train

    merges, vocab = bpe_train(_docs(spark, TRAIN), n_merges=6)
    held = _docs(spark, HELD + TRAIN)  # both OOV and trained words
    with_vocab = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_apply(held, merges, vocab=vocab).collect()
    }
    replay_only = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_apply(held, merges, vocab=None).collect()
    }
    assert with_vocab == replay_only


def test_bpe_apply_empty_merge_table(spark):
    """Zero learned merges → every word tokenizes to its characters
    (the replay over an empty merge array is the identity)."""
    from webextract.operators.bpe import bpe_apply, bpe_train

    merges, vocab = bpe_train(_docs(spark, ["q x"]), n_merges=0)
    got = {
        r.doc_id: r.n_tokens
        for r in bpe_apply(_docs(spark, ["abc de f"]), merges).collect()
    }
    assert got == {0: 6}


def _table(df):
    return sorted(tuple(r) for r in df.collect())


def _train_counting_jobs(spark, texts, n_merges):
    """bpe_train + reading its merge table, inside one job group →
    (merge rows in step order, Spark jobs the group ran)."""
    from webextract.operators.bpe import bpe_train

    sc = spark.sparkContext
    group = f"bpe{n_merges}"
    sc.setJobGroup(group, "driver-path training")
    try:
        merges, _ = bpe_train(_docs(spark, texts), n_merges=n_merges)
        got = [
            (r.step, r.left_sym, r.right_sym, r.merged, r.pair_cnt)
            for r in merges.orderBy("step").collect()
        ]
    finally:
        sc.setJobGroup(None, None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bpe_train_local_64_merges_few_spark_rounds(spark):
    """The production-merge-count criterion: 64 merges learned on the
    driver path match the sequential Python reference exactly, and the
    whole training (including materializing the merge table) runs in
    at most 64/4 = 16 Spark jobs — the per-merge scheduler round-trip
    is gone."""
    texts = [t * 2 + " " + h for t in TRAIN for h in HELD] + [
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "sphinx of black quartz judge my vow",
    ]
    expected, _ = _ref_learn(texts, 64)
    got, n_jobs = _train_counting_jobs(spark, texts, 64)
    assert got == expected
    assert 0 < n_jobs <= 16, f"driver-path training used {n_jobs} Spark jobs"


def test_bpe_train_rounds_fallback_matches_local(spark, monkeypatch):
    """A word-frequency table larger than LOCAL_VOCAB_MAX takes the
    collect-free rounds instead of the driver loop, and both paths
    give the same merge table and the same trained vocabulary."""
    from webextract.operators import bpe

    calls = []
    learn_rounds = bpe._learn_rounds

    def spy(vocab, n_merges):
        calls.append(n_merges)
        return learn_rounds(vocab, n_merges)

    monkeypatch.setattr(bpe, "_learn_rounds", spy)
    docs = _docs(spark, TRAIN + HELD)
    local = bpe.bpe_train(docs, n_merges=6)
    assert calls == []
    monkeypatch.setattr(bpe, "LOCAL_VOCAB_MAX", 2)
    rounds = bpe.bpe_train(docs, n_merges=6)
    assert calls == [6]
    expected, _ = _ref_learn(TRAIN + HELD, 6)
    assert _table(rounds[0]) == _table(local[0]) == sorted(expected)
    assert _table(rounds[1]) == _table(local[1])


def test_bpe_train_1000_merges_few_spark_jobs(spark):
    """A production-sized merge count on a seeded random corpus: 1,000
    merges match the sequential Python reference exactly, and training
    plus reading the merge table stays within the 64-merge test's
    16-job bound — the job count does not grow with the merge count."""
    import random

    rng = random.Random(1000)
    texts = [
        " ".join(
            "".join(rng.choice("abcdefgh") for _ in range(rng.randint(2, 9)))
            for _ in range(30)
        )
        for _ in range(60)
    ]
    expected, _ = _ref_learn(texts, 1000)
    assert len(expected) == 1000
    got, n_jobs = _train_counting_jobs(spark, texts, 1000)
    assert got == expected
    assert 0 < n_jobs <= 16, f"driver-path training used {n_jobs} Spark jobs"


def test_bpe_artifacts_survive_parquet_roundtrip(spark, tmp_path):
    """The deployment story: persist the two trained artifacts as
    parquet, reload them in a 'later' job, and encode held-out text —
    identical to encoding with the in-memory artifacts."""
    from webextract.operators.bpe import bpe_apply, bpe_train

    merges, vocab = bpe_train(_docs(spark, TRAIN), n_merges=6)
    mp, vp = str(tmp_path / "merges.parquet"), str(tmp_path / "vocab.parquet")
    merges.write.parquet(mp)
    vocab.write.parquet(vp)
    held = _docs(spark, HELD)
    direct = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_apply(held, merges, vocab=vocab).collect()
    }
    reloaded = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_apply(
            held, spark.read.parquet(mp), vocab=spark.read.parquet(vp)
        ).collect()
    }
    assert direct == reloaded


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=10
    ),
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=10
    ),
)
@settings(max_examples=10, deadline=None)
def test_bpe_apply_property(spark, train_words, held_words):
    """Random tiny-alphabet corpora (heavy merge collisions, heavy
    OOV): frozen apply to held-out text matches the Python replay."""
    from webextract.operators.bpe import bpe_apply, bpe_train

    train_texts = [" ".join(train_words)]
    held_texts = [" ".join(held_words)]
    ref_merges, _ = _ref_learn(train_texts, 4)
    merges, vocab = bpe_train(_docs(spark, train_texts), n_merges=4)
    expected = _ref_encode(held_texts, ref_merges)
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.tokens_per_word)
        for r in bpe_apply(
            _docs(spark, held_texts), merges, vocab=vocab
        ).collect()
    }
    assert got == expected
