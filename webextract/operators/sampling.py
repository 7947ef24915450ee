"""Corpus-shaping operators: per-host quotas and training-chunk packing.

The steps between a deduped crawl and a training run: cap how much any
one host may contribute (anti-domination — the corpus analog of the
reference capping region proposals per image via ``max_candidates``,
ppocr/postprocess/db_postprocess.py:32-45) and pack the surviving
documents into fixed-token-budget training chunks (the concat-and-chunk
layout every autoregressive trainer consumes — the batch-assembly
analog of the reference's aspect-ratio-bucketed recognition batching,
tools/infer/predict_rec.py:395-420).

Everything is JVM built-ins (window functions + codegen expressions);
no Python in either path. Each operator's exact semantics are stated in
ANSI SQL by the DuckDB oracles in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# salt fan-out of the quota pre-rank (phase 1). 16 bounds any host's
# phase-2 window input to 16*cap rows regardless of host size.
QUOTA_SALTS = 16


def host_quota(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    key_col: str = "url",
    n_salts: int = QUOTA_SALTS,
) -> DataFrame:
    """Keep at most ``cap`` rows per host, deterministically — the
    anti-domination sampler that stops giant hosts from swamping the
    corpus. Selection is by ``(md5(key), key)`` ascending, so which
    rows survive is a pure function of the data (stable under
    repartitioning, restatable in SQL) → input columns +
    ``quota_rank`` (1‥cap within each host).

    Scale design — the naive single window per host is exactly what
    does NOT survive the fixture's planted skew (half the corpus on
    host0; at 10^12 docs a hot host holds ~10^11 rows, and one
    ``row_number`` partition would sort all of them on one task).
    Two-phase top-``cap`` instead:

     1. rank within ``(host, salt)`` where ``salt = xxhash64(key) %
        n_salts`` — deterministic from the key, so the result does not
        depend on physical partitioning — and keep the local top
        ``cap``. The hot host's sort fans out over ``n_salts`` tasks.
     2. re-rank the ≤ ``n_salts * cap`` survivors per host and keep
        the global top ``cap``.

    Phase 2's window input is bounded by construction (never more than
    ``n_salts * cap`` rows per host), so the hot-host sort that
    dominates the naive plan becomes a constant-size merge. The
    two-phase result equals the one-window result exactly: any row in
    a host's global top-``cap`` is necessarily in its salt's local
    top-``cap`` (ranks only shrink when rows are removed), so phase 1
    never discards a final keeper — which is why the oracle can state
    the semantics as ONE plain ``row_number``.
    """
    ordering = [F.md5(F.col(key_col)).asc(), F.col(key_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts))
    local = Window.partitionBy(F.col(host_col), salt).orderBy(*ordering)
    pre = (
        df.withColumn("_lrank", F.row_number().over(local))
        .filter(F.col("_lrank") <= cap)
        .drop("_lrank")
    )
    final = Window.partitionBy(host_col).orderBy(*ordering)
    return (
        pre.withColumn("quota_rank", F.row_number().over(final))
        .filter(F.col("quota_rank") <= cap)
    )


def _stream_offsets(rows: DataFrame, id_col: str) -> DataFrame:
    """Distributed prefix sum of ``n_tokens`` along each shard's
    ``id`` order → input columns + ``end_tok`` (the running total
    INCLUDING the row). The scalable replacement for
    ``sum() OVER (PARTITION BY shard ORDER BY id)`` — which puts an
    entire shard into one task's sort:

     1. range-exchange on ``(shard, id)``: every shard's stream is
        split into contiguous runs, one per output partition, with
        run boundaries chosen by Spark's range sampler (so a skewed
        shard still splits evenly). Concatenating the runs in
        partition-id order IS the shard's total order — the property
        that makes the two-phase sum exact for ANY boundary placement,
        which is also why the sampling's nondeterminism never reaches
        the result.
     2. per-(shard, run) token totals roll up into an offsets table of
        at most shards × parallelism rows (a window over ≤parallelism
        tiny rows per shard), broadcast back.
     3. each row's end_tok = its run's starting offset + a cumulative
        sum windowed over its OWN run only.

    The ranged rows feed two plan branches (the totals and the local
    window), so they are localCheckpointed once: the range sampler
    must not re-draw boundaries per branch — consistent ``_p`` between
    branches is a correctness requirement, not a perf nicety.
    """
    ranged = (
        rows.repartitionByRange(F.col("shard"), F.col(id_col))
        .withColumn("_p", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    run = (
        Window.partitionBy("shard")
        .orderBy(F.col("_p").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("shard", "_p")
        .agg(F.sum("n_tokens").alias("_n"))
        .select(
            F.col("shard").alias("_os"),
            F.col("_p").alias("_op"),
            F.coalesce(F.sum("_n").over(run), F.lit(0)).alias("_off"),
        )
    )
    local = (
        Window.partitionBy("shard", "_p")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn("_cum", F.sum("n_tokens").over(local))
        .join(
            F.broadcast(offsets),
            (F.col("shard") == F.col("_os")) & (F.col("_p") == F.col("_op")),
        )
        .withColumn("end_tok", F.col("_off") + F.col("_cum"))
        .drop("_p", "_cum", "_os", "_op", "_off")
    )


def pack_chunks(
    docs: DataFrame,
    ctx: int = 2048,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk packing: lay the corpus out as ``n_shards``
    independent token streams and cut each stream into ``ctx``-token
    training chunks → (doc_id, shard, n_tokens, start_tok,
    first_chunk, last_chunk, chunk_offset).

    ``tokens_col`` lets the caller supply a precomputed per-document
    token count (e.g. the BPE token count from ``bpe_apply``) instead
    of the default whitespace tokenization of ``text_col`` — the
    real pretraining layout packs TOKENIZER tokens, not words.

    This is the standard autoregressive-pretraining layout: documents
    are concatenated in a frozen order and the stream is split at the
    context length, so a document knows exactly which chunk(s) its
    tokens land in (``first_chunk``‥``last_chunk`` within its shard)
    and at which offset the first one starts (``chunk_offset``).

    Scale design: a single global concatenation order would serialize
    the prefix-sum on one reducer — the one window shape that cannot
    scale — and even the per-shard window puts 1/``n_shards`` of the
    corpus into ONE task's sort (tens of GB per task at 10^12 docs).
    The running offset is therefore a distributed two-phase prefix sum
    (:func:`_stream_offsets`, partial sums plus broadcast offsets): a
    range exchange on ``(shard, doc_id)`` splits every shard's stream
    into contiguous, sampling-balanced runs, per-run token totals roll
    up into a tiny broadcast offset table, and each run windows only
    its own rows.
    Parallelism = the full shuffle width regardless of ``n_shards``;
    no task ever sorts more than ~corpus/parallelism rows, skew-
    balanced by the range sampler. Chunk ids are pure arithmetic on
    the offsets inside codegen. Token count is the whitespace
    tokenization shared with ``textstats`` (mirrored verbatim by the
    oracle — which states the semantics as the naive per-shard
    window; equality proves the two-phase enumeration exact).
    """
    doc_id = F.col(id_col)
    shard = F.pmod(doc_id, F.lit(n_shards))
    if tokens_col is not None:
        n_tokens = F.col(tokens_col)
    else:
        n_tokens = F.size(F.split(F.col(text_col), " "))
    staged = _stream_offsets(
        docs.select(doc_id, shard.alias("shard"), n_tokens.alias("n_tokens")),
        id_col,
    )
    start = F.col("end_tok") - F.col("n_tokens")
    return staged.select(
        id_col,
        "shard",
        "n_tokens",
        start.alias("start_tok"),
        F.floor(start / ctx).alias("first_chunk"),
        F.floor((F.col("end_tok") - 1) / ctx).alias("last_chunk"),
        F.pmod(start, F.lit(ctx)).alias("chunk_offset"),
    )


# uniform-hash resolution for lang_rebalance thresholds. The
# threshold numerator 2^24 · (n_total div 2) · w_l grows as
# 2^23 · n^1.5, which leaves BIGINT at only ~1.1e8 docs — so t_l is
# computed in DECIMAL(38,0) (HUGEINT in the oracle), good through
# ~10^38, i.e. any conceivable corpus; the RESULT always fits BIGINT
# (t_l ≤ 2^23·sqrt(n_total) ≈ 8.4e12 at 10^12 docs). The per-lang
# table this runs over is tiny, so the wide arithmetic is free.
REBALANCE_U_BITS = 24


def lang_rebalance(
    docs: DataFrame,
    budget_divisor: int = 2,
    lang_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-resampled language mix (the XLM-R / mC4 α=0.5
    schedule): sample language ``l`` at a rate making its expected
    kept count ∝ ``sqrt(n_l)``, flattening the head language's
    domination while keeping low-resource languages intact.

    α is FROZEN at 0.5 because ``floor(sqrt(n))`` is the one power
    that is bit-portable: IEEE-754 ``sqrt`` is correctly rounded (a
    fully-specified operation, unlike ``ln``/``pow``), so Spark and
    the SQL oracle floor the same double. Everything after that is
    exact integer arithmetic (DECIMAL(38,0) through the one product
    that outgrows BIGINT — see ``REBALANCE_U_BITS``): with
    ``W = Σ floor(sqrt(n_l))`` and budget
    ``B = n_total div budget_divisor``, a doc is kept iff

        u < t_l,   t_l = (2^24 · B · w_l) div (W · n_l)

    where ``u`` is the 24-bit integer prefix of ``md5('lrs:'||key)``
    — a pure function of the data (stable under repartition/retry,
    the same deterministic-sampling contract as sources/mixing.py).

    Scale shape: per-lang counts are a tiny aggregate (≤ thousands of
    rows at web scale) → thresholds broadcast back; the keep decision
    is a codegen filter on the scan. One small shuffle total — no
    window, no sort, no per-row Python.
    """
    counts = docs.groupBy(lang_col).agg(F.count("*").alias("n_l"))
    w = counts.withColumn("w_l", F.floor(F.sqrt(F.col("n_l"))).cast("long"))
    tot = w.agg(F.sum("n_l").alias("n_total"), F.sum("w_l").alias("w_total"))
    thr = (
        w.crossJoin(F.broadcast(tot))
        .select(
            lang_col,
            "n_l",
            F.expr(
                f"(cast({1 << REBALANCE_U_BITS} as decimal(38,0))"
                f" * (n_total div {budget_divisor}) * w_l)"
                " div (cast(w_total as decimal(38,0)) * n_l)"
            ).cast("long").alias("t_l"),
        )
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lrs:"), F.col(key_col).cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.join(F.broadcast(thr), lang_col)
        .select(
            key_col,
            lang_col,
            F.col("n_l"),
            F.col("t_l"),
            (u < F.col("t_l")).alias("kept"),
        )
    )


# frozen train/val/test per-mille thresholds (cumulative): 98/1/1 —
# mirrored in the oracle SQL; change BOTH or neither.
SPLIT_THRESHOLDS: tuple[tuple[str, int], ...] = (
    ("train", 980),
    ("val", 990),
    ("test", 1000),
)
SPLIT_SALT = "split:"


def split_assign(
    docs: DataFrame,
    key: str = "doc_id",
    salt: str = SPLIT_SALT,
    thresholds: tuple[tuple[str, int], ...] = SPLIT_THRESHOLDS,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash bucket.

    The held-out-split analog of the reference's train/eval label-file
    split (configs point ``Train.dataset.label_file_list`` and
    ``Eval.dataset.label_file_list`` at disjoint files) — except at
    10^12 docs the split must be a pure function of the row, not a
    file layout: md5(salt || key) % 1000 lands every document in the
    same split forever, on any cluster, in any partition order, and
    new documents join splits in the same proportions without
    reshuffling old ones. Same hash-not-RNG rationale as
    sources/mixing.py.

    Pure map stage (no shuffle); bucket + split are returned so
    downstream filters stay codegen predicates.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    expr = F.lit(thresholds[-1][0])
    for name, cum in reversed(thresholds[:-1]):
        expr = F.when(F.col("bucket") < cum, F.lit(name)).otherwise(expr)
    return docs.withColumn("bucket", bucket).withColumn("split", expr)


def _host_counts(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """The corpus pass of :func:`host_skew_report`, exposed so its
    plan shape (map-side partial count — the skew-immunity guarantee)
    stays testable after the checkpoint truncates the report's own
    lineage."""
    from webextract.operators.links import host_of

    return (
        pages.select(host_of(F.col(url_col)).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"))
    )


def host_skew_report(
    pages: DataFrame,
    rows_per_task: int = 100_000,
    url_col: str = "url",
) -> DataFrame:
    """(host, n_pages, share_permille, salt_factor): the skew audit a
    10^12-document run consults BEFORE picking its partitioning — which
    hosts dominate the corpus (share in BIGINT permille) and how many
    salt buckets each needs so no task sees more than ``rows_per_task``
    of its rows (``salt_factor = ceil(n / rows_per_task)``, integer
    arithmetic). The diagnostic face of the salted ``xxhash64(url)``
    repartition in operators/extract.py: the extractor defends against
    host-domain skew blindly; this states WHERE the skew is and how
    much salting it actually warrants.

    One partial-agg shuffle on host (word-count shape — the hot host
    is itself the thing being counted, and counting is the one job
    skew cannot hurt: partial aggregation collapses each partition's
    rows to one (host, n) row map-side before the exchange). The
    host-sized count table feeds TWO plan branches (the total scalar
    and the output) — checkpointed so the corpus pass runs ONCE, not
    once per branch (the lsh_pairs lesson; an audit of a 10^12-row
    corpus must not scan it twice to derive one scalar).
    """
    counts = _host_counts(pages, url_col).localCheckpoint(eager=False)
    tot = counts.agg(F.sum("n_pages").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "host",
            "n_pages",
            F.expr("n_pages * 1000 div n_total").alias("share_permille"),
            F.expr(f"(n_pages + {rows_per_task - 1}) div {rows_per_task}").alias(
                "salt_factor"
            ),
        )
    )


def chunk_texts(
    docs: DataFrame,
    ctx: int = 2048,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the training chunks :func:`pack_chunks` lays out:
    (shard, chunk, chunk_text, n_docs, n_tokens) — each chunk's text
    stitched from every document overlapping its token window, in
    stream order. The final chunk of a shard is partial
    (``n_tokens < ctx``); trainers pad or drop it.

    Same scale shape as the layout pass: the prefix sum is the
    distributed two-phase :func:`_stream_offsets` (range-split runs +
    broadcast offsets — no whole-shard sort in any task), each doc
    explodes into only the chunks it overlaps (``first..last`` —
    bounded by doc length), and the chunk rebuild is one groupBy on
    (shard, chunk) whose pieces are ordered by ``start_tok`` in-row
    (array_sort of (start, piece) structs) — deterministic without a
    sort exchange.
    """
    doc_id = F.col(id_col)
    shard = F.pmod(doc_id, F.lit(n_shards))
    toks = F.split(F.col(text_col), " ")
    staged = _stream_offsets(
        docs.select(doc_id, shard.alias("shard"), toks.alias("t")).withColumn(
            "n_tokens", F.size("t")
        ),
        id_col,
    ).withColumn("start_tok", F.col("end_tok") - F.col("n_tokens"))
    ex = staged.select(
        "shard",
        "start_tok",
        "n_tokens",
        "t",
        F.explode(
            F.sequence(
                F.floor(F.col("start_tok") / ctx),
                F.floor((F.col("end_tok") - 1) / ctx),
            )
        ).alias("chunk"),
    )
    lo = F.greatest(F.lit(0), F.col("chunk") * ctx - F.col("start_tok"))
    hi = F.least(F.col("n_tokens"), (F.col("chunk") + 1) * ctx - F.col("start_tok"))
    pieces = ex.select(
        "shard",
        "chunk",
        "start_tok",
        F.concat_ws(" ", F.slice("t", (lo + 1).cast("int"), (hi - lo).cast("int"))).alias(
            "piece"
        ),
        (hi - lo).alias("np"),
    )
    return (
        pieces.groupBy("shard", "chunk")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("start_tok", "piece"))),
                    lambda x: x["piece"],
                ),
            ).alias("chunk_text"),
            F.count("*").alias("n_docs"),
            F.sum("np").alias("n_tokens"),
        )
    )


def cm_cell(host: Column, j: Column, width: int) -> Column:
    """The frozen count-min row hash: md5 of ``j || ':' || host``,
    first 8 hex chars as int, mod width — engine-portable and
    seedless, so cell tables built from separate inputs are mergeable
    by construction."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(j.cast("string"), F.lit(":"), host)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cm_cells(
    pages: DataFrame, depth: int = 4, width: int = 4096, url_col: str = "url"
) -> DataFrame:
    """Map-only (host, j, cell) rows, ``depth`` per page — stateless,
    so cells computed from any split of the input agree."""
    from webextract.operators.links import host_of

    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    # NULL urls would plant (j, NULL) junk cells in the sketch while
    # their truth-side probes never join back; unparseable urls all
    # fuse into host '' — both are excluded, loudly documented
    # (review finding)
    hosts = pages.select(host_of(F.col(url_col)).alias("host")).filter(
        F.col("host").isNotNull() & (F.col("host") != "")
    )
    rows = hosts.select("host", j)
    return rows.select(
        "host", "j", cm_cell(F.col("host"), F.col("j"), width).alias("cell")
    )


def count_min_hosts(
    pages: DataFrame,
    depth: int = 4,
    width: int = 4096,
    url_col: str = "url",
) -> DataFrame:
    """Count-min sketch estimate of per-host page counts, compared
    against truth → (host, true_n, est_n, overestimate). The sketch
    is the limited-memory face of host counting: a
    ``depth × width`` cell table built in ONE pass (explode depth
    rows per page, partial-agg groupBy — the whole sketch is ≤
    depth·width rows regardless of corpus size, mergeable across
    partitions/batches by cell-wise addition), point queries are a
    broadcast join of the tiny sketch. est ≥ true always (counts are
    non-negative); the overestimate column exposes collision error,
    bounded by 2·N/width per row with probability 1 − 2^-depth.

    Determinism: :func:`cm_cell` — frozen md5 row hashes, no seed
    state, so a sketch over new pages adds cell-wise to an old one."""
    # cells feed both the sketch and the truth side: checkpoint so the
    # corpus scans once (r2 lesson)
    rows = cm_cells(pages, depth, width, url_col).localCheckpoint(
        eager=False
    )
    sketch = rows.groupBy("j", "cell").agg(F.count("*").alias("c"))
    truth = (
        rows.filter(F.col("j") == 0)
        .groupBy("host")
        .agg(F.count("*").alias("true_n"))
    )
    probes = truth.select(
        "host",
        "true_n",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).select(
        "host",
        "true_n",
        "j",
        cm_cell(F.col("host"), F.col("j"), width).alias("cell"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("host", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "host",
        "true_n",
        "est_n",
        (F.col("est_n") - F.col("true_n")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Bloom filter: the MEMBERSHIP sketch (count-min's boolean twin)
# ---------------------------------------------------------------------------


def bloom_bit(key: Column, j: Column, m_bits: int) -> Column:
    """The frozen Bloom bit position for hash function ``j``: md5 of
    ``'b' || j || ':' || key``, first 8 hex chars as int, mod m_bits —
    the same engine-portable, seedless construction as :func:`cm_cell`
    (the ``'b'`` prefix keeps the two sketch families' hash spaces
    disjoint, so sharing a key never correlates their errors)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("b"), j.cast("string"), F.lit(":"), key)
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )


def bloom_positions(
    df: DataFrame, key_col: str, k: int, m_bits: int
) -> DataFrame:
    """Map-only (key, j, word_idx, mask) rows, ``k`` per key: the bit
    position packed 32 bits per int64 word (word_idx = bit / 32,
    mask = 1 << (bit % 32)). 32, not 64: shift 63 would set the int64
    sign bit, which DuckDB rejects as a checked overflow — capping the
    shift at 31 keeps every mask positive and the packing
    engine-portable at the cost of half the word (the filter row
    count stays ≤ m_bits/32, still negligible)."""
    # NULL keys have no bit positions (md5 of NULL is NULL): they would
    # plant a (NULL, NULL) word in a built filter and can never be
    # probed, so they are dropped here, for build and probe alike (the
    # cm_cells rule)
    rows = df.filter(F.col(key_col).isNotNull()).select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    ).select(
        key_col,
        "j",
        bloom_bit(F.col(key_col), F.col("j"), m_bits).alias("bit"),
    )
    return rows.select(
        key_col,
        "j",
        F.floor(F.col("bit") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))").alias(
            "mask"
        ),
    )


def bloom_build(
    df: DataFrame, key_col: str = "url", m_bits: int = 16384, k: int = 4
) -> DataFrame:
    """Build a Bloom filter over a key column → (word_idx, bits): the
    seen-set of a crawl frontier (has this url ever been fetched?),
    the membership twin of :func:`count_min_hosts`'s frequency sketch.

    ONE corpus pass: k map-only position rows per key, partial-agg
    ``bit_or`` groupBy on word_idx — the filter is ≤ m_bits/32 rows
    no matter the corpus size, and mergeable across
    partitions/crawls by word-wise OR (the same
    cell-mergeability argument as count-min). No false negatives by
    construction; false-positive rate ≈ (1 - e^(-k·n/m))^k, so size
    m_bits ~ 10·n for ~1–2% at k=4. At 10^12 urls the filter is
    ~1.25 TB — past broadcast range — which is why probes join on
    word_idx (an equi-shuffle that AQE turns back into a broadcast
    whenever the filter IS small) instead of assuming a driver-side
    bitmap like a single-machine crawler would."""
    return (
        bloom_positions(df, key_col, k, m_bits)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str = "url",
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Probe keys against a built filter → probes + ``bloom_hit``
    (true iff ALL k bits are set). A LEFT join on word_idx keeps keys
    whose words are entirely absent from the filter (guaranteed miss);
    the hit test is ``min(bit set) == 1`` per key — pure JVM bit
    arithmetic, no Python. A min, not ``count == k``: a key probed
    twice has 2k position rows, all set. Probe rows with a NULL key
    are dropped (see :func:`bloom_positions`)."""
    pos = bloom_positions(probes, key_col, k, m_bits)
    hits = (
        pos.join(sketch, "word_idx", "left")
        .withColumn(
            "bit_set",
            (F.col("bits").isNotNull())
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        )
        .groupBy(key_col)
        .agg(
            (F.min(F.col("bit_set").cast("int")) == F.lit(1)).alias(
                "bloom_hit"
            )
        )
    )
    return probes.join(hits, key_col)
