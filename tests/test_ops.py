"""Unit/integration tests for the training-data-pipeline operators:
dedup family, embedding near-dup pairs, text stats. Correctness-by-
construction cases on tiny hand-made frames + invariants on the driver
testdata."""

import pytest
from pyspark.sql import functions as F

from webextract.operators import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# -- dedup ------------------------------------------------------------------

def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        ["doc_id", "text"],
    )
    res = {r["keeper"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert res == {1: 2, 3: 1}


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "x1 x2 x3 x4 x5")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(dedup.MINHASH_K))
            for r in dedup.minhash_signatures(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_lsh_pairs_catch_near_duplicates(spark):
    base = "the cat sat on the mat and looked out of the window today"
    near = base + " quietly"         # one extra word → high shingle overlap
    far = "completely different words compose this other document here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.parametrize("k,bands", [(10, 3), (10, 0)])
def test_band_count_must_divide_signature(spark, k, bands):
    """k=10, bands=3 would silently drop mh9 from every band; the check
    is a ValueError (not an assert) so it holds under ``python -O``."""
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_band_table(df, k=k, bands=bands)


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles of "a b c d" (3-grams): {a b c, b c d} ; doc2: "a b c e": {a b c, b c e}
    # inter=1, union=3 → jaccard 1/3
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    rows = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0]["jaccard"] - 1 / 3) < 1e-12


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    # 'x' appears in all 3 docs (df=3 > max_df=2) → its contribution is
    # dropped from the intersection join, unions stay full-size
    df = spark.createDataFrame(
        [(1, "x a"), (2, "x a"), (3, "x b")], ["doc_id", "text"]
    )
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, n=1, threshold=0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, n=1, threshold=0.0, max_df=2
        ).collect()
    }
    assert full[(1, 2)] == 1.0
    # only 'a' survives the index: inter=1, union stays 2+2-1=3
    assert abs(capped[(1, 2)] - 1 / 3) < 1e-12
    assert (1, 3) in full and (1, 3) not in capped  # shared only 'x'


def test_contamination_overlap_known_values(spark):
    """Doc 1 contains benchmark doc 10's full 3-gram span; doc 2
    shares only one 3-gram (below min_shared); doc 3 shares none."""
    corpus = spark.createDataFrame(
        [
            (1, "p q r s t u"),     # 3-grams: pqr qrs rst stu (4 shingles)
            (2, "p q r x y z"),     # shares only 'p q r'
            (3, "m n o m n o"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(10, "p q r s t")], ["doc_id", "text"])
    rows = dedup.contamination_overlap(corpus, bench, n=3, min_shared=2).collect()
    assert len(rows) == 1
    r = rows[0]
    # doc1 shingles: 4; shared with bench (pqr qrs rst): 3
    assert (r.doc_id, r.bench_id, r.n_shared) == (1, 10, 3)
    assert abs(r.overlap - 3 / 4) < 1e-12


def test_contamination_overlap_benchmark_broadcast(spark):
    """The benchmark side must reach the join as a broadcast (no
    shuffle of the corpus shingle stream for the join)."""
    corpus = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "a b c d e f g h")], ["doc_id", "text"])
    df = dedup.contamination_overlap(corpus, bench)
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained


# -- similarity -------------------------------------------------------------

def test_embedding_near_dup_pairs_planted(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.embedding_near_dup_pairs(df, 4, threshold=0.99).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(1, 2)}


def _rand_emb(spark, n, dim, seed=0):
    import numpy as np

    rs = np.random.RandomState(seed)
    vecs = rs.standard_normal((n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )


def test_near_dup_planes_scale_linearly(spark):
    """The scale contract: planes derived from corpus size keep the
    bucketed self-join's candidate count ~linear in n. 4× corpus with
    planes_for_corpus → candidate ratio ~4 (quadratic would be 16).
    Each count is also EXACT: with one band, the candidates are the
    pairs with identical sketches, recomputed here in numpy."""
    import numpy as np

    dim, target = 16, 64
    counts = {}
    for n in (600, 2400):
        df = _rand_emb(spark, n, dim)
        p = similarity.planes_for_corpus(n, target)
        # threshold=-1 keeps every candidate → counts the join output
        counts[n] = similarity.embedding_near_dup_pairs(
            df, dim, threshold=-1.0, n_planes=p
        ).count()
        vecs = np.random.RandomState(0).standard_normal((n, dim))
        q = np.floor(vecs * float(1 << similarity.QUANT_BITS)).astype(np.int64)
        bits = (q @ similarity._planes(dim, p).T) > 0
        _, sizes = np.unique(bits, axis=0, return_counts=True)
        assert counts[n] == int((sizes * (sizes - 1) // 2).sum())
    assert similarity.planes_for_corpus(2400, target) > \
        similarity.planes_for_corpus(600, target)
    ratio = counts[2400] / max(counts[600], 1)
    assert ratio < 8, f"candidate growth {ratio} looks quadratic"
    # and the catalog-stat default path derives the same width
    assert similarity.planes_for_corpus(10**12) == 32


def test_wide_sketch_uses_long_bits(spark):
    """Sketches past 31 planes must keep every plane: the 10^12 design
    point is 32 planes (planes_for_corpus), which overflows an int32
    sketch — plane 32's weight would vanish mod 2^32 and bit 31 would
    sign-corrupt band extraction."""
    df = _rand_emb(spark, 40, 8, seed=3)
    sk = similarity.lsh_sketch(df, 8, n_planes=33)
    rows = sk.collect()
    assert all(r.sketch >= 0 for r in rows)
    # some vector exercises the high planes (weights ≥ 2^31)
    assert any(r.sketch >> 31 for r in rows)
    # banded near-dup at a >32-plane width stays functional
    pairs = similarity.embedding_near_dup_pairs(
        df, 8, threshold=-1.0, n_planes=33, n_bands=3
    )
    assert pairs.count() > 0
    with pytest.raises(ValueError):
        similarity.lsh_sketch(df, 8, n_planes=63)


def test_banded_near_dup_recall_survives_wide_sketch(spark):
    """Banding the sketch (simhash-style) keeps recall as planes grow:
    every pair the monolithic bucket finds is still found, and noisy
    planted dups that straddle 1-2 hyperplanes come back too."""
    import numpy as np

    dim, n, n_dups = 16, 200, 40
    rs = np.random.RandomState(7)
    base = rs.standard_normal((n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    # noisy copies of vec 0..39: cosine ~0.96-0.99, a few sign flips
    for i in range(n_dups):
        noisy = base[i] + 0.18 * rs.standard_normal(dim)
        rows.append((1000 + i, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def found(pairs_df):
        return {
            (r.vec_a, r.vec_b)
            for r in pairs_df.collect()
            if r.vec_b >= 1000 and r.vec_a == r.vec_b - 1000
        }

    mono = found(
        similarity.embedding_near_dup_pairs(
            df, dim, threshold=0.9, n_planes=12, n_bands=1
        )
    )
    banded = found(
        similarity.embedding_near_dup_pairs(
            df, dim, threshold=0.9, n_planes=12, n_bands=3
        )
    )
    assert banded >= mono
    assert len(banded) >= 0.9 * n_dups
    with pytest.raises(ValueError):
        similarity.embedding_near_dup_pairs(df, dim, n_planes=10, n_bands=3)


# -- span / table eval metrics ----------------------------------------------

def test_span_eval_known_values(spark):
    """Hand-checkable det-IoU analog: 3 pred vs 3 gold spans on one
    url — one exact match, one partial overlap above the bar, one
    below it; plus an unmatched span on each side."""
    from webextract.operators.metrics import span_eval

    pred = spark.createDataFrame(
        [
            ("u", 0, 10),     # exact match
            ("u", 20, 30),    # overlap [24,30) = 6, union 14 → IoU 3/7 < 1/2
            ("u", 50, 60),    # no gold → false positive
            ("v", 0, 8),      # overlap [2,8) = 6, union 10 → IoU 3/5 ≥ 1/2
        ],
        ["url", "start", "end"],
    )
    gold = spark.createDataFrame(
        [
            ("u", 0, 10),
            ("u", 24, 34),
            ("u", 80, 90),    # never predicted → recall miss
            ("v", 2, 12),
        ],
        ["url", "start", "end"],
    )
    row = span_eval(pred, gold).first()
    assert row.n_pred == 4 and row.n_gold == 4
    assert row.n_pred_matched == 2 and row.n_gold_matched == 2
    assert row.prec == 0.5 and row.recall == 0.5 and row.hmean == 0.5


def test_span_eval_boundary_is_exact_integer(spark):
    """IoU exactly 1/2 must MATCH (≥, decided as 2·inter ≥ union in
    ints): spans [0,10) and [5,15) → inter 5, union 15 → 1/3 no;
    [0,10) vs [0,5): inter 5, union 10 → exactly 1/2 yes."""
    from webextract.operators.metrics import span_eval

    pred = spark.createDataFrame([("u", 0, 10)], ["url", "start", "end"])
    gold = spark.createDataFrame([("u", 0, 5)], ["url", "start", "end"])
    assert span_eval(pred, gold).first().n_gold_matched == 1
    gold2 = spark.createDataFrame([("u", 5, 15)], ["url", "start", "end"])
    assert span_eval(pred, gold2).first().n_gold_matched == 0


def test_span_eval_zero_match_corpus(spark):
    from webextract.operators.metrics import span_eval

    pred = spark.createDataFrame([("u", 0, 5)], ["url", "start", "end"])
    gold = spark.createDataFrame([("u", 90, 95)], ["url", "start", "end"])
    row = span_eval(pred, gold).first()
    assert row.prec == 0.0 and row.recall == 0.0 and row.hmean == 0.0


def test_table_similarity_known_values(spark):
    """TEDS-lite Dice: table A perfect (1.0); table B has 4 pred
    cells vs 3 gold with 2 agreeing → 2·2/(4+3) = 4/7."""
    from webextract.operators.metrics import table_similarity

    pred = spark.createDataFrame(
        [
            ("a", 0, 0, 0, "x"), ("a", 0, 0, 1, "y"),
            ("b", 0, 0, 0, "p"), ("b", 0, 0, 1, "q"),
            ("b", 0, 1, 0, "r"), ("b", 0, 1, 1, "s"),
        ],
        ["url", "table_id", "row_id", "col_id", "cell_text"],
    )
    gold = spark.createDataFrame(
        [
            ("a", 0, 0, 0, "x"), ("a", 0, 0, 1, "y"),
            ("b", 0, 0, 0, "p"), ("b", 0, 0, 1, "WRONG"),
            ("b", 0, 1, 0, "r"),
        ],
        ["url", "table_id", "row_id", "col_id", "cell_text"],
    )
    row = table_similarity(pred, gold).first()
    assert row.n_tables == 2 and row.n_perfect == 1
    assert abs(row.mean_similarity - (1.0 + 4 / 7) / 2) < 1e-6


# -- textstats --------------------------------------------------------------

def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            # lines: [x, y, x] → 1 dup; bigrams of "a b a b a":
            # "a b"×2, "b a"×2 → n=4, max=2
            (1, "a b a b a. y y. a b a b a"),
            (2, "unique words only here"),
            (3, "x"),  # single token → no bigrams
        ],
        ["doc_id", "text"],
    )
    r = {row.doc_id: row for row in textstats.repetition_stats(df).collect()}
    assert r[1].n_lines == 3 and r[1].n_dup_lines == 1
    assert abs(r[1].dup_line_frac - 1 / 3) < 1e-12
    assert r[2].n_dup_lines == 0 and r[2].max_bigram_cnt == 1
    assert r[3].n_bigrams == 0 and r[3].top_bigram_frac is None
    # doc 1 bigram side: lines count as tokens too ('a. y' etc. are
    # whitespace tokens) — just pin the invariant max ≤ sum
    assert r[1].max_bigram_cnt <= r[1].n_bigrams


def test_redact_pii_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org and call 555-123-4567 ok"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.io and 999-888-7777x not a phone end"),
        ],
        ["doc_id", "text"],
    )
    r = {row.doc_id: row for row in textstats.redact_pii(df).collect()}
    assert r[1].clean_text == "mail <EMAIL> and call <PHONE> ok"
    assert (r[1].n_emails, r[1].n_phones) == (1, 1)
    assert r[2].clean_text == "no pii here at all"
    assert (r[2].n_emails, r[2].n_phones) == (0, 0)
    assert r[3].n_emails == 2
    # trailing char breaks the \b word boundary → not a phone
    assert r[3].n_phones == 0 and "999-888-7777x" in r[3].clean_text


def test_redact_pii_counts_match_replacements(spark):
    """A digit run swallowed by an email match is NOT reported as a
    phone: counts reflect the replacements actually performed."""
    df = spark.createDataFrame(
        [(1, "reach 555-123-4567@corp.example.org now")], ["doc_id", "text"]
    )
    r = textstats.redact_pii(df).first()
    assert r.clean_text == "reach <EMAIL> now"
    assert (r.n_emails, r.n_phones) == (1, 0)


def test_token_stats_known_values(spark):
    df = spark.createDataFrame([(1, "ab cd 12 x!")], ["doc_id", "text"])
    r = textstats.token_stats(df).first()
    assert r["n_tokens"] == 4
    assert r["n_pieces"] == 5          # ab, cd, 12, x, !
    assert r["n_chars_obs"] == 11


def test_length_quantiles_matches_sorted_pick(spark):
    """Histogram quantiles == the direct sorted-list pick
    lens[ceil(q*n/1000) - 1], per language, including duplicates."""
    import math

    rows, lens_by_lang = [], {}
    for i in range(37):
        lang = "en" if i % 3 else "de"
        text = "x" * ((i * 7) % 11 + 1)  # duplicate lengths on purpose
        rows.append((i, lang, text))
        lens_by_lang.setdefault(lang, []).append(len(text))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        (r.lang, r.q_permille): (r.len, r.n_docs)
        for r in textstats.length_quantiles(df).collect()
    }
    for lang, lens in lens_by_lang.items():
        lens.sort()
        for q in (500, 900, 990):
            expected = lens[math.ceil(q * len(lens) / 1000) - 1]
            assert got[(lang, q)] == (expected, len(lens))


def test_quality_scores_known_values(spark):
    df = spark.createDataFrame([(1, "the cat sat")], ["doc_id", "text"])
    r = textstats.quality_scores(df).first()
    assert r["n_tokens"] == 3 and r["n_stopwords"] == 1
    assert abs(r["stop_ratio"] - 1 / 3) < 1e-12
    assert abs(r["mean_tok_len"] - 3.0) < 1e-12
    assert r["all_alpha"] is True


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "en", "the cat and the dog of the house"),
            (2, "de", "der hund und die katze ist nicht da"),
            (3, "fr", "zzz qqq www"),
        ],
        ["doc_id", "lang", "text"],
    )
    rows = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
    assert rows[1] == "en" and rows[2] == "de" and rows[3] == "und"


def test_script_stats_dominant_and_ties(spark):
    df = spark.createDataFrame(
        [
            (1, "hello world"),                       # pure latin
            (2, "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 ok"),  # cyrillic-dominant
            (3, "\u4e2d\u6587\u5b57\u7b26\u6f22\u5b57"),                           # cjk
            (4, "12345 !!!"),                          # no scripted chars
            (5, "ab \u0431\u0432"),                  # 2-2 tie -> first of SCRIPT_ORDER
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in textstats.script_stats(df).collect()}
    assert rows[1]["script"] == "latin" and rows[1]["script_permille"] == 1000
    assert rows[2]["script"] == "cyrillic"
    assert rows[2]["c_cyrillic"] == 9 and rows[2]["c_latin"] == 2
    assert rows[2]["script_permille"] == 9000 // 11
    assert rows[3]["script"] == "cjk" and rows[3]["n_scripted"] == 6
    assert rows[4]["script"] == "none" and rows[4]["script_permille"] == 0
    assert rows[5]["script"] == "latin"  # deterministic tie-break


def test_script_stats_is_pure_map_stage(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = textstats.script_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fingerprint_whitespace_canon(spark):
    df = spark.createDataFrame(
        [(1, "A  B\tC"), (2, "a b c")], ["doc_id", "text"]
    )
    fps = [r["fp"] for r in textstats.fingerprints(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1]


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter forces multi-round propagation),
    # pair {10,11}, singleton 99 untouched by pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    comp = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_keeper_includes_singletons(spark):
    docs_df = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"])
    rows = {r.doc_id: (r.cluster_id, r.is_keeper)
            for r in dedup.cluster_keeper(docs_df, pairs).collect()}
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False), 99: (99, True),
    }


def test_simhash64_bands_identical_docs_match_all_bands(spark):
    txt = "one two three four five six seven eight nine ten"
    d = spark.createDataFrame(
        [(1, txt), (2, txt), (3, "other words entirely here now")],
        ["doc_id", "text"],
    )
    sig = dedup.simhash64_bands(d)
    rows = {r.doc_id: (r.band0, r.band1, r.band2, r.band3) for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    for v in rows.values():
        assert all(0 <= b <= 0xFFFF for b in v)


def test_simhash_near_dup_pairs_planted(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup → hamming 0
        (3, base.replace("today", "tomorrow")),      # near dup → small hamming
        (4, "completely different text about maritime navigation beacons"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_near_dup_pairs(d, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs
    # distances ≥ the band count break the pigeonhole completeness
    # guarantee — the operator refuses rather than silently losing pairs
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(d, max_hamming=dedup.SIMHASH64_BANDS)


def test_line_dedup_first_occurrence_wins(spark):
    rows = [
        (1, "alpha beta. gamma delta. alpha beta"),   # self-dup line
        (2, "gamma delta. unique two"),               # cross-doc dup
        (3, "unique three"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.clean_text, r.n_lines, r.n_kept)
           for r in dedup.line_dedup(d).collect()}
    # doc1 keeps first "alpha beta" + "gamma delta", drops its own repeat
    assert got[1] == ("alpha beta. gamma delta", 3, 2)
    # doc2's "gamma delta" lost to doc1; keeps its unique line
    assert got[2] == ("unique two", 2, 1)
    assert got[3] == ("unique three", 1, 1)


def test_line_dedup_all_lines_dropped_yields_empty(spark):
    rows = [(1, "only line"), (2, "only line")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.clean_text, r.n_kept)
           for r in dedup.line_dedup(d).collect()}
    assert got[1] == ("only line", 1)
    assert got[2] == ("", 0)


def test_connected_components_long_chain_pointer_jumping(spark):
    # a 30-edge chain has diameter 30; plain propagation needs 30
    # rounds, pointer jumping converges well inside max_iter=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 31)], ["doc_a", "doc_b"]
    )
    comp = dedup.connected_components(pairs, max_iter=10)
    labels = {r.doc_id: r.cluster_id for r in comp.collect()}
    assert set(labels.values()) == {1}
    assert len(labels) == 31


def test_line_dedup_hash_shuffle_identical(spark):
    docs_df = spark.createDataFrame(
        [(1, "alpha beta. gamma delta. alpha beta"),
         (2, "gamma delta. unique two"), (3, "unique three")],
        ["doc_id", "text"],
    )
    raw = sorted(map(tuple, dedup.line_dedup(docs_df).collect()))
    hashed = sorted(map(tuple, dedup.line_dedup(docs_df, hash_shuffle=True).collect()))
    assert raw == hashed


def test_gopher_rules_each_rule_fires(spark):
    from pyspark.sql import Row

    ok = ("the and of this is a fine document with plenty of words "
          "here to pass the minimum fifty word requirement easily "
          "because it keeps adding normal english prose words until "
          "the counter goes well past the bar set by the paper rules "
          "and then some more filler words arrive at the very end")
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=ok),                          # passes all
            Row(doc_id=1, text="the and short"),             # words rule
            Row(doc_id=2, text=ok + " " + "x " * 60),        # mean len low
            Row(doc_id=3, text=ok + " " + "# " * 20),        # symbols
            Row(doc_id=4, text=ok + "\n" + "\n".join(["- b"] * 60)),  # bullets
            Row(doc_id=5, text=ok + " " + "42 " * 60),       # alpha frac
            Row(doc_id=6, text="zz " * 60),                  # stopwords
        ]
    )
    from webextract.operators.textstats import gopher_rules

    r = {row.doc_id: row for row in gopher_rules(docs).collect()}
    assert r[0].keep
    assert not r[1].r_words and not r[1].keep
    assert not r[2].r_mean_len and not r[2].keep
    assert not r[3].r_symbols and not r[3].keep
    assert not r[4].r_bullets and not r[4].keep
    assert not r[5].r_alpha and not r[5].keep
    assert not r[6].r_stopwords and not r[6].keep


def test_cluster_keep_best_picks_longest(spark):
    from pyspark.sql import Row
    from webextract.operators.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="short"),
            Row(doc_id=1, text="the longest near duplicate copy"),
            Row(doc_id=2, text="mid length"),
            Row(doc_id=3, text="isolated singleton"),
            Row(doc_id=4, text="tied"),
            Row(doc_id=5, text="tied"),
        ]
    )
    pairs = spark.createDataFrame(
        [Row(doc_a=0, doc_b=1), Row(doc_a=1, doc_b=2), Row(doc_a=4, doc_b=5)]
    )
    rows = {r.doc_id: r for r in
            cluster_keep_best(docs, pairs, F.length("text")).collect()}
    # cluster {0,1,2}: longest (doc 1) is the keeper, not min doc_id
    assert rows[1].is_keeper and not rows[0].is_keeper and not rows[2].is_keeper
    assert rows[0].cluster_id == rows[1].cluster_id == rows[2].cluster_id == 0
    # singleton keeps itself
    assert rows[3].is_keeper and rows[3].cluster_id == 3
    # equal scores: smallest doc_id wins
    assert rows[4].is_keeper and not rows[5].is_keeper


def test_domain_blocklist_suffix_semantics(spark):
    from pyspark.sql import Row
    from webextract.operators.urlnorm import domain_blocklist

    pages = spark.createDataFrame(
        [
            Row(url="https://bad.example/x"),
            Row(url="https://deep.sub.bad.example/y"),   # subdomain blocked
            Row(url="https://notbad.example/z"),         # suffix is token-exact
            Row(url="https://clean.org/w"),
        ]
    )
    out = {r.url: r for r in
           domain_blocklist(pages, blocked=("bad.example",)).collect()}
    assert not out["https://bad.example/x"].keep
    assert out["https://bad.example/x"].blocked_domain == "bad.example"
    assert not out["https://deep.sub.bad.example/y"].keep
    assert out["https://notbad.example/z"].keep
    assert out["https://clean.org/w"].keep


def test_semdedup_exact_planted_recall_and_brute_parity(spark):
    """The exact-integer variant: same contract as the float test —
    every planted near-dup dropped (keeper = original), no clean
    vector dropped, every acted-on pair a TRUE cosine near-dup — plus
    the exact-threshold guarantee the float path cannot make: every
    dropped vector's quantized-cosine square clears the rational
    threshold EXACTLY (dot²·den ≥ num·na²·nb², int arithmetic)."""
    import math

    from pyspark.sql import Row
    from webextract.operators.similarity import QUANT_BITS, semdedup_exact

    rng = __import__("random").Random(7)
    dim = 8
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(base)]
    rows += [
        Row(vec_id=1000 + i, embedding=[x * 1.01 for x in base[i]])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows)
    out = {r.vec_id: r for r in
           semdedup_exact(emb, dim, k=4, n_iter=3).collect()}
    assert len(out) == 50
    dropped = {v for v, r in out.items() if not r.is_keeper}
    assert dropped == {1000 + i for i in range(10)}
    for i in range(10):
        assert out[1000 + i].group_id == out[i].group_id == i
    # exact-integer parity: recompute the rational-square test in
    # Python ints for every dropped vector against its group keeper
    def quant(v):
        return [math.floor(x * (1 << QUANT_BITS)) for x in v]

    vecs = {r.vec_id: quant(r.embedding) for r in rows}
    for v in dropped:
        kp = out[v].group_id
        qa, qb = vecs[v], vecs[kp]
        dot = sum(x * y for x, y in zip(qa, qb))
        na2 = sum(x * x for x in qa)
        nb2 = sum(x * x for x in qb)
        assert dot > 0 and dot * dot * 10_000 >= 9025 * na2 * nb2


def test_semdedup_exact_threshold_edge_is_exact(spark):
    """Vectors whose quantized cosine lands just BELOW the rational
    threshold must survive as separate keepers — the integer
    comparison draws the line, not float rounding. cos(a, b) for unit
    axes mixed at 17°-ish below threshold stays out; a scaled copy
    (cos = 1 after quantization) stays in."""
    from pyspark.sql import Row
    from webextract.operators.similarity import semdedup_exact

    # cos(e1, 0.94·e1 + k·e2) < 0.95 for k making the angle exceed
    # acos(0.95); pick (1, 0.34) → cos ≈ 0.9467 < 0.95
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.34, 0.0, 0.0]),   # below bar
        Row(vec_id=2, embedding=[0.5, 0.0, 0.0, 0.0]),    # exact dup of 0
    ]
    emb = spark.createDataFrame(rows)
    out = {r.vec_id: r for r in
           semdedup_exact(emb, 4, k=2, n_iter=2).collect()}
    assert out[1].is_keeper                      # 0.9467 < 0.95 → kept
    # 2 may land in either k-means cluster; if co-clustered with 0 it
    # must collapse (cos = 1); assert only when the partition allows
    if out[2].list_id == out[0].list_id:
        assert not out[2].is_keeper and out[2].group_id == 0


def test_domain_blocklist_canonicalizes_authority(spark):
    from pyspark.sql import Row
    from webextract.operators.urlnorm import domain_blocklist

    bad = [
        "https://BAD.example/x",
        "https://bad.example:443/y",
        "https://user@bad.example/z",
        "https://bad.example./w",
        "https://a@b@bad.example/u",   # userinfo delimits at the LAST @
        "https://bad.example:/t",      # empty port form browsers accept
    ]
    pages = spark.createDataFrame(
        [Row(url=u) for u in bad] + [Row(url="https://fine.example/v")]
    )
    out = {r.url: r for r in
           domain_blocklist(pages, blocked=("bad.example",)).collect()}
    # case, port (incl. empty), userinfo, trailing dot cannot sidestep
    for u in bad:
        assert not out[u].keep, u
        assert out[u].host == "bad.example", u
    assert out["https://fine.example/v"].keep


def test_domain_blocklist_strips_whatwg_whitespace(spark):
    """A raw newline/tab smuggled into an href (legal inside attribute
    values; the WHATWG URL parser strips tab/LF/CR) must not defeat
    the blocklist's userinfo/suffix anchors."""
    from pyspark.sql import Row
    from webextract.operators.urlnorm import domain_blocklist

    pages = spark.createDataFrame(
        [
            Row(url="https://a\nb@bad.example/x"),
            Row(url="https://bad.example\n/y"),
            Row(url="https://bad.\texample/z"),
        ]
    )
    out = domain_blocklist(pages, blocked=("bad.example",)).collect()
    assert all(not r.keep and r.host == "bad.example" for r in out)


# -- lsh_eval / shingle_diversity --------------------------------------------

def test_lsh_eval_perfect_on_exact_duplicates(spark):
    # docs 1,2 identical -> jaccard 1.0 ground truth AND guaranteed LSH
    # collision (identical signatures agree on every band); doc 3 disjoint.
    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "w1 w2 w3 w4 w5 w6"),
            (3, "x1 x2 x3 x4 x5 x6"),
        ],
        ["doc_id", "text"],
    )
    row = dedup.lsh_eval(df, threshold=0.5).collect()[0]
    assert row["n_truth"] == 1
    assert row["n_hit"] == 1
    assert row["recall"] == 1.0
    # no disjoint pair may be a ground-truth pair; candidates can in
    # principle include band collisions, but precision is consistent
    assert row["n_cand"] >= 1
    assert row["lsh_precision"] == row["n_hit"] / row["n_cand"]
    assert row["hmean"] == 2.0 * row["n_hit"] / (row["n_truth"] + row["n_cand"])


def test_lsh_eval_counts_near_duplicate_truth(spark):
    base = "the cat sat on the mat and looked out of the window today"
    near = base + " quietly"  # trigram jaccard 11/12 >= 0.5
    far = "completely different words compose this other document here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    row = dedup.lsh_eval(df, threshold=0.5).collect()[0]
    assert row["n_truth"] == 1          # only (1,2)
    assert row["n_hit"] == 1            # LSH catches it (pinned above)
    assert row["recall"] == 1.0


def test_lsh_eval_on_fixture_is_sane(docs):
    row = dedup.lsh_eval(docs, threshold=0.5).collect()[0]
    assert row["n_truth"] > 0           # planted duplicates exist
    assert 0.0 <= row["recall"] <= 1.0
    assert 0.0 <= row["lsh_precision"] <= 1.0
    # exact duplicates collide on every band: recall can't be 0
    assert row["n_hit"] > 0


def test_shingle_diversity_exact_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d", "en"),   # shingles {a b c, b c d}
            (2, "a b c d", "en"),   # same two shingles again
            (3, "x y z", "de"),     # shingle {x y z}
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {r["lang"]: r for r in dedup.shingle_diversity(df).collect()}
    en, de = rows["en"], rows["de"]
    assert (en["n_docs"], en["n_instances"], en["n_types"]) == (2, 4, 2)
    assert en["ttr"] == 0.5
    assert (de["n_docs"], de["n_instances"], de["n_types"]) == (1, 1, 1)
    assert de["ttr"] == 1.0
