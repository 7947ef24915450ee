"""Deduplication operators over ``documents(doc_id, text, ...)``.

Training-data dedup at corpus scale — exact, MinHash+LSH, SimHash and
n-gram Jaccard. The reference's nearest relative is its CTC
neighbor-dedup (drop a region whose decode repeats its neighbor,
ppocr/postprocess/rec_postprocess.py:76-81) and the IoU-based
pred↔gt matcher (ppocr/metrics/eval_det_iou.py); here the "overlap
measure" is set similarity of shingles instead of box geometry.

Scale design (the part that matters at 10^12 docs):
 * every similarity join goes through a BUCKET KEY (hash prefix, LSH
   band, or shingle id) so the shuffle is an equi-join — never an
   O(n^2) cross product;
 * signatures are fixed-width (k mins / four 16-bit bands), so the
   signature table is tiny next to the corpus and the pair-join
   shuffles signatures, not documents;
 * all hashing is md5 (deterministic, engine-portable) — the DuckDB
   oracles in ``__spark_entry__.py`` reproduce every value exactly;
 * everything is JVM built-ins inside whole-stage codegen — no Python
   worker in any dedup path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# frozen dedup knobs (analog of the reference's det thresholds,
# db_postprocess.py:33-37)
MINHASH_K = 8          # minhash permutations
LSH_BANDS = 4          # bands (rows per band = MINHASH_K // LSH_BANDS)
SHINGLE_N = 3          # words per shingle
CC_CHECK_EVERY = 3     # connected_components rounds per convergence check


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    keeper (min doc_id) and the duplicate count. Map-side partial agg +
    one shuffle on the 128-bit hash — uniform by construction, no skew
    handling needed."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


def shingle_array(toks, n: int):
    """Word n-gram array over a token-array Column, built in-row
    (``transform`` over ``sequence`` — codegen; a row shorter than
    ``n`` tokens yields the EMPTY array, never a descending
    ``sequence``). THE one shingle/gram construction — dedup's
    exploded shingles, vocab.ngram_counts' occurrence grams and
    importance's gram features all build on it."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ``explode`` of :func:`shingle_array` (an empty array emits no
    rows — the too-short-doc filter by construction). For n=1 this is
    the distinct token set.
    """
    sh = shingle_array(F.split(F.col("text"), " "), n)
    return docs.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def minhash_signatures(
    docs: DataFrame,
    k: int = MINHASH_K,
    n: int = SHINGLE_N,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: mh_i = min over shingles of md5(i || ':' || shingle).

    One pass over the exploded shingle set computes all k mins as
    parallel aggregates (partial min map-side, one shuffle on doc_id).
    md5-as-string min is the portable stand-in for k independent hash
    permutations; collision behavior matches a 128-bit hash family.

    ``sh`` lets a caller that already materialized the (doc_id,
    shingle) explode (the most expensive stage of the whole stack)
    share it instead of recomputing — e.g. :func:`lsh_eval`, whose
    truth and candidate sides otherwise each run their own explode.
    """
    if sh is None:
        sh = shingles(docs, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_table(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, bh): the LSH band-bucket index of a corpus —
    the join key space of :func:`lsh_pairs`. Band b hashes its
    r = k / bands signature values."""
    if bands < 1 or k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands} (bands >= 1)")
    r = k // bands
    band_rows = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat(*[F.col(f"mh{b * r + j}") for j in range(r)])).alias("bh"),
        )
        for b in range(bands)
    ]
    sig = minhash_signatures(docs, k, n, sh=sh)
    return sig.select("doc_id", F.explode(F.array(*band_rows)).alias("band")).select(
        "doc_id", "band.band_id", "band.bh"
    )


def lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on ALL
    rows of any band collide. The pair join is an equi-join on
    (band_id, band_hash) — the classic band-bucket shuffle; a band
    whose bucket explodes (degenerate corpora) is bounded upstream by
    shingling, not here.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    """
    # both self-join sides read the band table; checkpoint so the
    # minhash aggregation underneath runs once, not twice
    bt = lsh_band_table(docs, k, bands, n, sh=sh).localCheckpoint(eager=False)
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.8,
    max_df: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The inverted-index join: explode shingles, self-join on the shingle
    (equi-join — pairs never sharing a shingle are never materialized),
    count intersections, then |A∪B| = |A|+|B|−|A∩B|. This is the
    set-similarity analog of ``compute_iou`` (ppstructure/table/
    matcher.py:19-38) where the boxes are shingle sets.

    ``max_df`` is the 100 TB knob: a shingle occurring in more than
    ``max_df`` documents contributes ~df² join rows while carrying
    almost no similarity signal (stopword shingles); dropping them
    bounds the worst bucket of the self-join. It slightly LOWERS
    computed jaccard for affected pairs (union still counts the full
    sets) — identically on both engines: the oracle-matched driver
    query ``q_dedup_jaccard_top`` runs the guarded plan with
    ``max_df=JACCARD_MAX_DF`` and mirrors the cap in its oracle CTE.
    """
    # the shingle table feeds up to four plan branches (both join
    # sides, sizes, hot-df); localCheckpoint materializes the explode
    # ONCE and shares it (MEMORY_AND_DISK, lazy) — measured 2-4× on
    # this query. At scale this is the deliberate trade: storing the
    # shingle set beats recomputing it per branch; executor loss costs
    # a job retry (unreliable checkpoint), which dedup jobs tolerate.
    # A caller-provided ``sh`` is assumed already checkpointed.
    if sh is None:
        sh = shingles(docs, n).localCheckpoint(eager=False)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh_join = sh.join(F.broadcast(hot), "shingle", "left_anti")
    else:
        sh_join = sh
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh_join.alias("a")
    b = sh_join.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    # jaccard stays un-rounded: inter/union is one IEEE division of exact
    # ints — bit-identical across engines (round() is not, HALF_UP vs
    # HALF_EVEN at a terminating boundary digit).
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: for every (corpus doc, benchmark doc)
    pair sharing ≥ ``min_shared`` distinct word ``n``-grams, report the
    shared-shingle count and the overlap ratio relative to the corpus
    doc's own shingle count → (doc_id, bench_id, n_shared, overlap).

    The training-data gate that keeps eval sets out of the corpus
    (the data-hygiene analog of the reference's train/eval split
    discipline, ``tools/train.py`` dataset config). Scale design:

     * the benchmark side is SMALL by definition (eval suites are
       thousands of docs, the corpus is 10^12) → its shingle table is
       **broadcast**, so the corpus shingle stream joins map-side with
       no shuffle of the big side;
     * long shingles (n=8 default) are near-unique natural-language
       spans, so the hit stream is tiny next to the corpus and the
       (doc_id, bench_id) count is a partial+final agg on a sparse key;
     * per-doc shingle totals ride the same shingle scan (groupBy
       doc_id), and only HIT docs pay the totals join (inner join
       prunes the rest).

    ``overlap`` is one IEEE division of two exact ints — bit-identical
    in the DuckDB oracle (never re-rounded).
    """
    d = shingles(docs, n)
    b = shingles(benchmark, n).select(F.col("doc_id").alias("bench_id"), "shingle")
    totals = d.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        d.join(F.broadcast(b), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        (F.col("n_shared") / F.col("n_shingles")).alias("overlap"),
    )


SIMHASH64_BANDS = 4    # 4 bands × 16 bits = 64-bit signature


def simhash64_bands(docs: DataFrame) -> DataFrame:
    """64-bit SimHash as four 16-bit band columns (doc_id, band0..band3).

    The production-width signature: at ≥10^9 docs a 16-bit simhash
    saturates by pigeonhole (everything collides), while 64 bits keep
    near-dup Hamming distance meaningful. Bits come from the first 16
    md5 hex digits per token (band b = digits 4b..4b+3); each bit votes
    ±1 over the doc's tokens and is set when its vote sum is positive.
    Bands are kept as separate ints (not one 64-bit value) so the
    banded Hamming join below is a plain equi-join key and bit 63 never
    hits signed-overflow portability issues. One shuffle (the groupBy);
    64 integer sums ride the same partial aggregation.
    """
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    h = F.md5(F.col("t"))
    # ONE string conv per band (4 hex chars → one 16-bit int), then 16
    # integer bit extractions — vs one conv per hex digit, this quarters
    # the string-parsing work in the hottest projection (measured ~35%
    # off the whole signatures query). Bit layout is unchanged: band
    # bit j lives at position (3 - j//4)*4 + (3 - j%4) of the packed
    # int, because digit p sits at nibble 3-p and contributes its bit
    # (3-shift) as index p*4 + (3-shift).
    aggs = []
    for b in range(SIMHASH64_BANDS):
        packed = F.conv(F.substring(h, 4 * b + 1, 4), 16, 10).cast("int")
        for j in range(16):
            pos = (3 - j // 4) * 4 + (3 - j % 4)
            idx = b * 16 + j
            bit = F.shiftright(packed, pos).bitwiseAND(F.lit(1))
            aggs.append(F.sum(bit * 2 - 1).alias(f"v{idx}"))
    votes = tok.groupBy("doc_id").agg(*aggs)
    band_cols = []
    for b in range(SIMHASH64_BANDS):
        band = None
        for j in range(16):
            idx = b * 16 + j
            term = F.when(F.col(f"v{idx}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            band = term if band is None else band + term
        band_cols.append(band.cast("int").alias(f"band{b}"))
    return votes.select("doc_id", *band_cols)


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by 64-bit SimHash: banded candidate join +
    exact Hamming filter.

    Standard simhash-dedup decomposition (any pair within Hamming ≤ 3
    of a 64-bit signature agrees exactly on ≥1 of 4 16-bit bands, by
    pigeonhole): candidates come from an equi-join on (band_id,
    band_value) — never a cross product — then the exact distance
    Σ bit_count(band_a XOR band_b) over the four bands filters to
    ``max_hamming``. Returns (doc_a, doc_b, hamming). All JVM
    built-ins; ``bit_count`` exists in both Spark and DuckDB, so the
    driver oracle reproduces every value.

    Recall is EXACT only for ``max_hamming < SIMHASH64_BANDS``: with B
    bands, pigeonhole guarantees a shared band only when fewer than B
    bits differ. Larger distances would silently miss pairs whose
    differing bits spread across all bands, so they are rejected
    rather than approximated."""
    if not max_hamming < SIMHASH64_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the banded-candidate "
            f"completeness guarantee (max_hamming must be < the band "
            f"count, {SIMHASH64_BANDS}); raise SIMHASH64_BANDS if you "
            "need larger distances"
        )
    # the signature table feeds four branches (band join both sides +
    # hamming lookup both sides): compute the 64-sum aggregation once
    sig = simhash64_bands(docs).localCheckpoint(eager=False)
    band_rows = [
        F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bv"))
        for b in range(SIMHASH64_BANDS)
    ]
    bt = sig.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("band")
    ).select("doc_id", "band.band_id", "band.bv")
    a = bt.alias("a")
    b = bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"band{i}").alias(f"a{i}") for i in range(SIMHASH64_BANDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"band{i}").alias(f"b{i}") for i in range(SIMHASH64_BANDS)],
    )
    ham = None
    for i in range(SIMHASH64_BANDS):
        term = F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        ham = term if ham is None else ham + term
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def line_dedup(
    docs: DataFrame, sep: str = ". ", hash_shuffle: bool = False
) -> DataFrame:
    """Corpus-wide exact line/sentence dedup (the C4-style boilerplate
    line removal): every distinct line survives only at its FIRST
    occurrence (min doc_id, then min position); docs are rebuilt from
    their surviving lines in original order.

    Returns (doc_id, clean_text, n_lines, n_kept). Scale shape: one
    shuffle on the line key (the first-occurrence window), one shuffle
    back on doc_id (the rebuild groupBy) — both equi-key.
    ``hash_shuffle=True`` windows over ``md5(line)`` instead of the
    raw line, shrinking the shuffle key to 32 bytes at 100 TB; results
    are identical barring a 128-bit collision (the driver query keeps
    the raw key so the oracle stays transparently value-exact).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), re.escape(sep))).alias(
            "line_no", "line"
        ),
    )
    key = F.md5(F.col("line")) if hash_shuffle else F.col("line")
    w = Window.partitionBy(key).orderBy("doc_id", "line_no")
    flagged = lines.withColumn(
        "is_first", F.row_number().over(w) == 1
    )
    kept_struct = F.array_sort(
        F.collect_list(
            F.when(
                F.col("is_first"),
                F.struct(F.col("line_no"), F.col("line")),
            )
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(kept_struct, lambda x: x["line"]),
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_kept"),
    )


def host_boilerplate_strip(
    docs: DataFrame,
    sep: str = ". ",
    min_df: int = 3,
    min_frac: float = 0.4,
    host_col: str = "host",
) -> DataFrame:
    """Host-frequency boilerplate removal (the CCNet/RefinedWeb rule):
    a line is boilerplate ON A HOST when it appears in ≥ ``min_df``
    docs AND ≥ ``min_frac`` of that host's docs — navigation footers,
    newsletter banners, cookie notices that survive DOM-level
    stripping because they are *content-positioned* on that site.
    Docs are rebuilt from their non-boilerplate lines in original
    order → (doc_id, clean_text, n_lines, n_boiler).

    This is per-host C4: :func:`line_dedup` kills corpus-wide exact
    repeats at all-but-first occurrence; this kills site-template
    lines EVERYWHERE they occur, keyed by (host, line) so a sentence
    that is boilerplate on one site survives as content on another.
    The site-template analog of the reference's per-page boilerplate
    classification (SKIP_TAGS subtree exclusion, functions/tokenizer).

    Scale shape, all equi-key: the line df is a partial+final agg on
    (host, line) — the hot host's lines spread across the line
    dimension, so the planted host0 skew does NOT concentrate (unlike
    a host-only key); per-host doc counts are a tiny rollup; the
    boilerplate table is small BY CONSTRUCTION (only lines crossing
    the host-frequency bar survive — a site has few templates), so
    AQE turns the flag-back join into a broadcast at runtime; the
    rebuild is the same groupBy(doc_id) as line_dedup. No Python
    anywhere.
    """
    host = F.col(host_col)
    # the exploded line table feeds BOTH the (host, line) df agg and
    # the flag-back join; the two branches shuffle different shapes so
    # ReuseExchange cannot collapse them — checkpoint the explode once
    # (same pattern as span_dedup / ngram_jaccard_pairs)
    lines = docs.select(
        host_col,
        "doc_id",
        F.posexplode(F.split(F.col("text"), re.escape(sep))).alias(
            "line_no", "line"
        ),
    ).localCheckpoint(eager=False)
    host_docs = docs.groupBy(host_col).agg(F.count("*").alias("host_docs"))
    # empty lines (separator runs / leading+trailing seps) never enter
    # the frequency table: flagging '' as boilerplate would silently
    # collapse separator runs in the rebuilt clean_text
    line_df = (
        lines.filter(F.col("line") != "")
        .groupBy(host_col, "line")
        .agg(F.countDistinct("doc_id").alias("n_docs_with"))
    )
    boiler = (
        line_df.join(host_docs, host_col)
        .filter(
            (F.col("n_docs_with") >= min_df)
            & (F.col("n_docs_with") / F.col("host_docs") >= min_frac)
        )
        .select(host_col, "line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, [host_col, "line"], "left")
    kept_struct = F.array_sort(
        F.collect_list(
            F.when(
                F.col("is_boiler").isNull(),
                F.struct(F.col("line_no"), F.col("line")),
            )
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(sep, F.transform(kept_struct, lambda x: x["line"])).alias(
            "clean_text"
        ),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0)).alias(
            "n_boiler"
        ),
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over (doc_a, doc_b) pairs → (doc_id,
    cluster_id) with cluster_id = min doc_id in the component.

    Iterative min-label propagation with POINTER JUMPING in pure
    DataFrame ops (no graph library): each round every vertex takes
    the min of its own label and its neighbors' labels, then jumps
    ``label := label(label)`` (path halving). The jump makes
    convergence O(log diameter) instead of O(diameter), so a
    pathological 2^k-long near-dup chain converges in ~k rounds —
    ``max_iter`` rounds cover diameters up to ~2^max_iter, and running
    out anyway raises rather than returning silently-wrong clusters.

    Scale shape: the label table holds only vertices that appear in a
    pair (tiny vs the corpus), edges are cached once and reused, each
    round is two equi-join shuffles (neighbor min + jump) + one
    groupBy, and ``localCheckpoint`` truncates the plan so the loop
    does not build an ever-deeper lineage. The convergence count is an
    aggregate (never a collect of data rows) and — because pointer
    jumping makes overshoot rounds cheap — it runs only every
    ``CC_CHECK_EVERY`` rounds plus the final round, cutting the
    driver-sync job count ~3× vs checking each round.
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        new_label = F.least(F.col("label"), F.coalesce("nbr_label", "label"))
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id", new_label.alias("label")
        )
        # pointer jump (path halving): label := label's current label.
        # Every label IS a vertex id in the set, so the lookup is an
        # equi-join against the label table itself.
        jump = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("label2")
        )
        jumped = (
            stepped.join(jump, "label", "left")
            .select(
                "doc_id",
                F.coalesce("label2", "label").alias("label"),
            )
        )
        upd = (
            jumped.alias("n")
            .join(labels.select("doc_id", F.col("label").alias("old")), "doc_id")
            .select(
                "doc_id",
                "label",
                (F.col("label") < F.col("old")).alias("chg"),
            )
            .localCheckpoint()
        )
        labels = upd.drop("chg")
        # convergence check rides the checkpointed frame; run it only
        # on cadence (or the last permitted round) — skipped rounds
        # trade a cheap extra join round for a saved driver sync
        if (it + 1) % CC_CHECK_EVERY == 0 or it == max_iter - 1:
            if upd.filter(F.col("chg")).count() == 0:
                return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter > ~2^max_iter — raise max_iter)"
    )


def cluster_keeper(docs: DataFrame, pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """The production dedup decision table: every doc mapped to its
    near-dup cluster with a deterministic keeper flag.

    (doc_id, cluster_id, is_keeper): cluster_id = min doc_id of the
    connected component (docs in no pair are their own singleton
    cluster), is_keeper = (doc_id == cluster_id). Users DELETE
    ``is_keeper = false`` rows — clusters, not pairs, are the unit of
    deduplication. The join back to docs is on doc_id; the component
    label table is small (pair-touched docs only), broadcast-eligible
    under AQE."""
    comp = connected_components(pairs, max_iter)
    lbl = comp.select("doc_id", F.col("cluster_id").alias("pair_cluster"))
    return docs.select("doc_id").join(lbl, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pair_cluster", "doc_id").alias("cluster_id"),
        (F.coalesce("pair_cluster", "doc_id") == F.col("doc_id")).alias(
            "is_keeper"
        ),
    )


SPAN_K = 8  # window length (tokens) for cross-doc substring removal


def span_dedup(
    docs: DataFrame,
    k: int = SPAN_K,
    min_df: int = 2,
    max_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-substring removal — the span-level
    member of the dedup trio (doc-level minhash/simhash, line-level
    C4, substring-level THIS). Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") build suffix arrays;
    the distributed equivalent here is fixed-``k`` token windows:

     1. per doc, hash every ``k``-token window (array ops in codegen:
        ``transform`` over ``sequence``, ``md5(concat_ws(slice))`` —
        no Python, no posexplode self-join),
     2. a window hash occurring in ≥ ``min_df`` DISTINCT docs marks
        all its occurrences (one groupBy on the hash + equi-join
        back — never a pair join, so no quadratic blowup),
     3. per doc, overlapping/adjacent marked windows merge into
        maximal spans (gaps-and-islands window over doc-sized
        partitions),
     4. the doc is rebuilt without the spanned tokens (indexed
        ``filter`` + ``exists`` over the broadcast-joined span list).

    Returns (doc_id, n_tokens, n_spans, n_removed, clean_text).
    Within-doc repetition is deliberately NOT removed (``df`` counts
    distinct docs) — that's ``repetition_stats``'s job.

    Scale notes: the window table is ~one row per corpus token — the
    same order as the shingle tables the minhash path already
    materializes; partial aggregation collapses it map-side before
    the one hash-keyed shuffle. ``max_df`` is the hot-window guard
    (degenerate boilerplate windows with df in the millions add join
    volume but zero information — same knob as ngram_jaccard_pairs).
    Fixed ``k`` trades the suffix array's any-length guarantee for
    full distribution: any shared substring of ≥ 2k-1 tokens is
    covered by at least one shared window, so spans ≥ that length
    are always caught; shorter overlaps are caught exactly when
    window-aligned.
    """
    toks = F.split(F.col(text_col), " ")
    wins = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda s: F.struct(
                s.alias("start"),
                F.md5(F.concat_ws(" ", F.slice(toks, s + 1, k))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))
    # the window-hash projection (an md5 per corpus token) feeds TWO
    # plan branches (the df rollup and the join back) — checkpoint it
    # once or Catalyst re-derives the explode per branch (the same
    # lesson as the shingle table in ngram_jaccard_pairs)
    win_rows = (
        docs.select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.start").alias("start"), F.col("w.h").alias("h"))
        .localCheckpoint(eager=False)
    )
    df_ok = F.col("df") >= min_df
    if max_df is not None:
        df_ok = df_ok & (F.col("df") <= max_df)
    rep = (
        win_rows.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(df_ok)
        .select("h")
    )
    hits = win_rows.join(rep, "h")
    w_ord = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + k).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "new_island",
            prev_end.isNull() | (F.col("start") > prev_end),
        )
        .withColumn(
            "island",
            F.sum(F.col("new_island").cast("int")).over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("s"),
        F.max(F.col("start") + k).alias("e"),
    )
    doc_spans = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans")
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    sp = F.coalesce(F.col("spans"), empty)
    covered = lambda i: F.exists(  # noqa: E731 — shared by two exprs
        sp, lambda x: (i >= x["s"]) & (i < x["e"])
    )
    return docs.join(doc_spans, "doc_id", "left").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(
            F.aggregate(
                "spans", F.lit(0), lambda acc, x: acc + (x["e"] - x["s"])
            ),
            F.lit(0),
        ).alias("n_removed"),
        F.concat_ws(
            " ", F.filter(toks, lambda x, i: ~covered(i))
        ).alias("clean_text"),
    )


def cluster_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score: Column,
    max_iter: int = 25,
) -> DataFrame:
    """Quality-aware cluster retention: like :func:`cluster_keeper`,
    but the keeper is the cluster member with the HIGHEST ``score``
    (ties → smallest doc_id) instead of blindly the smallest doc_id —
    the "keep the best copy" policy real pipelines run (e.g. keep the
    longest near-duplicate, since truncated mirrors are the common
    case). ``score`` is any integer column expression over ``docs``
    (the driver query uses ``length(text)``; exact ints keep the
    verdict hash-portable).

    → (doc_id, cluster_id, score, is_keeper). Scale shape: the
    component label table stays pair-touched-docs-only (broadcast-
    eligible); the argmax is a row_number window per cluster —
    WindowGroupLimit prunes map-side, and cluster sizes are bounded by
    the near-dup radius, not the corpus.
    """
    comp = connected_components(pairs, max_iter)
    lbl = comp.select("doc_id", F.col("cluster_id").alias("pair_cluster"))
    scored = docs.select("doc_id", score.cast("long").alias("score")).join(
        lbl, "doc_id", "left"
    )
    clustered = scored.select(
        "doc_id",
        F.coalesce("pair_cluster", "doc_id").alias("cluster_id"),
        "score",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return clustered.withColumn(
        "is_keeper", F.row_number().over(w) == 1
    )


def lsh_eval(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate-generation quality of MinHash-LSH banding, measured
    against exact n-gram-Jaccard ground truth — the reference's
    det-metric discipline (pred regions matched to gt by IoU, corpus
    precision/recall/hmean, ppocr/metrics/det_metric.py:24-72 over
    eval_det_iou.py) applied to the dedup stack: :func:`lsh_pairs`
    candidates are the "detections", pairs with exact Jaccard >=
    ``threshold`` the ground truth. Both sides consume ONE shared
    checkpointed (doc_id, shingle) explode — the most expensive stage
    — via the ``sh`` pass-through, so it is computed once, not per
    side.

    Returns ONE row: (n_truth, n_cand, n_hit, recall, lsh_precision,
    hmean). Ratios are single IEEE divisions of exact counts
    (oracle-portable); ``lsh_precision`` because a bare ``precision``
    column name risks the DOUBLE PRECISION keyword.

    Scale: the exact-Jaccard side is the quadratic one — at corpus
    scale this eval runs on a SAMPLE (like the reference evaluating on
    a 500-image set, not the training crawl); ``max_df`` applies the
    same hot-shingle guard as the production query if the sample still
    needs it.
    """
    sh = shingles(docs, n).localCheckpoint(eager=False)
    truth = ngram_jaccard_pairs(
        docs, n=n, threshold=threshold, max_df=max_df, sh=sh
    ).select("doc_a", "doc_b", F.lit(1).alias("in_truth"))
    cand = lsh_pairs(docs, k, bands, n, sh=sh).select(
        "doc_a", "doc_b", F.lit(1).alias("in_cand")
    )
    # full outer on the pair key: sum(in_truth*in_cand) counts pairs
    # present on BOTH sides (NULL from the outer join annihilates).
    counts = (
        truth.join(cand, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce(F.sum("in_cand"), F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce(
                F.sum(F.col("in_truth") * F.col("in_cand")), F.lit(0)
            ).cast("long").alias("n_hit"),
        )
    )
    recall = F.col("n_hit").cast("double") / F.col("n_truth").cast("double")
    prec = F.col("n_hit").cast("double") / F.col("n_cand").cast("double")
    return counts.select(
        "n_truth",
        "n_cand",
        "n_hit",
        recall.alias("recall"),
        prec.alias("lsh_precision"),
        (
            F.lit(2.0)
            * F.col("n_hit").cast("double")
            / (F.col("n_truth") + F.col("n_cand")).cast("double")
        ).alias("hmean"),
    )


def shingle_diversity(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Per-language corpus diversity: type/token ratio over word
    n-gram shingles — (lang, n_docs, n_instances, n_types, ttr) where
    ``n_instances`` counts per-doc DISTINCT shingles summed over docs
    and ``n_types`` counts corpus-wide distinct shingles. A collapsing
    ttr (types growing sublinearly vs instances) is the standard
    duplication/templating smell a training-data pipeline watches per
    language slice.

    Plan shape: one shingle explode -> two-level agg (partial
    count-distinct map-side); ttr is one IEEE division of exact ints.
    """
    sh = shingles(docs, n).join(docs.select("doc_id", "lang"), "doc_id")
    return (
        sh.groupBy("lang")
        .agg(
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.count("*").alias("n_instances"),
            F.count_distinct(F.col("shingle")).alias("n_types"),
        )
        .select(
            "lang",
            "n_docs",
            "n_instances",
            "n_types",
            (
                F.col("n_types").cast("double")
                / F.col("n_instances").cast("double")
            ).alias("ttr"),
        )
    )
