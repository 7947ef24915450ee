"""Similarity search over ``embeddings(vec_id, embedding: array<float>, label)``.

Approximate-nearest-neighbor operators for embedding-space dedup and
retrieval. The reference's closest op is the nearest-neighbor matcher
that assigns each OCR box to its argmin-distance table cell
(ppstructure/table/matcher.py:76-97 — a broadcast-style NN join); here
the metric is cosine over embedding vectors.

Scale design:
 * the QUERY side is broadcast (small by construction) — the corpus
   side streams through codegen, no shuffle of the big table for the
   brute-force path;
 * dot products run JVM-side via ``zip_with`` + ``aggregate`` (double
   accumulation in array order — deterministic, matches the DuckDB
   oracle's list arithmetic);
 * the LSH path buckets vectors by sign-bit sketch first, so at 100 TB
   the candidate join is an equi-join on the sketch, touching only
   same-bucket pairs; brute force stays as the small-scale/recall
   baseline;
 * the k-means paths (:func:`ivf_topk_exact`, :func:`semdedup_exact`)
   run the exact-integer Lloyd of ``operators/kmeans.py`` — one
   quantizer per operator, and every partition, probe and threshold
   decision is integer arithmetic the DuckDB oracle restates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 6           # default sign bits in the LSH sketch (2^6
                       # buckets — small-corpus default; at scale pass
                       # n_planes via planes_for_corpus instead)
PLANE_SEED = 42        # frozen hyperplane seed
TARGET_BUCKET = 256    # default expected vectors per sketch bucket


def planes_for_corpus(
    expected_n: int, target_bucket: int = TARGET_BUCKET
) -> int:
    """Derive the sketch width from the EXPECTED corpus size (a catalog
    stat the caller already has — never a runtime ``count()`` pass):
    enough planes that the mean bucket holds ~``target_bucket``
    vectors, so the bucketed self-join does ~n·target_bucket/2 pair
    work — linear in n — instead of n²/2^const. 10^12 vectors at the
    default target is 32 planes; tiny corpora floor at 1 plane."""
    import math

    if expected_n <= target_bucket:
        return 1
    return max(1, math.ceil(math.log2(expected_n / target_bucket)))


def bands_for_corpus(
    expected_n: int, n_bands: int = 3, target_bucket: int = 16
) -> int:
    """Sketch width for the BANDED near-dup join. Each band is the
    effective join key, so selectivity must hold PER BAND: each band
    gets ~log2(n/target_bucket) bits and the total width is
    ``n_bands ×`` that. (Sizing the whole sketch with
    :func:`planes_for_corpus` and splitting it would leave every band
    2^bands× too coarse — the candidate join degenerates toward n².)

    The default ``target_bucket`` is far smaller than the ANN probing
    default: a SELF-join pays ~bucket²/2 pairs per bucket, i.e.
    ~n·target/2 candidate pairs per band overall, so the target IS the
    per-vector candidate budget (16 → ~24 exact-cosine checks per
    vector at 3 bands), not a scan batch size."""
    return n_bands * planes_for_corpus(expected_n, target_bucket)


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in array order, double accumulator (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail for every search path: per-query window
    ordered by sim desc with neighbor_id tie-break (load-bearing for
    oracle portability — change HERE, nowhere else), top-k, sim
    rounded to 6 decimals."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim"))
    )


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (computed once, reused across every query)."""
    c = F.col(col)
    return emb.withColumn("norm", F.sqrt(_dot(c, c)))


def cosine_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k: every query vs the full corpus.

    ``queries(query_id, q_embedding)`` is broadcast; the corpus streams
    through one codegen stage computing the dot product; ranking is a
    per-query window (ties broken by vec_id for determinism). Returns
    (query_id, rank, neighbor_id, sim) with sim rounded to 6 decimals.
    """
    q = F.broadcast(queries)
    corpus = with_norm(emb)
    sim = _dot(F.col("embedding"), F.col("q_embedding")) / (
        F.col("norm") * F.col("q_norm")
    )
    scored = (
        corpus.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    return _rank_topk(scored, k)


def make_queries(emb: DataFrame, n: int = 10) ->  DataFrame:
    """Deterministic query set: the n smallest vec_ids, with norms."""
    q = emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return q.withColumn("q_norm", F.sqrt(_dot(F.col("q_embedding"), F.col("q_embedding"))))


# embedding components are quantized as floor(x * 2^QUANT_BITS) before
# the sign test — an EXACT, engine-portable operation (a float32 value
# is exactly representable as a double; multiplying by a power of two
# only shifts the exponent; floor of a double is fully specified), so
# the sketch is pure BIGINT arithmetic both here and in ANSI SQL.
QUANT_BITS = 20
# integer hyperplane coefficients live in [-PLANE_SPAN, PLANE_SPAN]:
# small enough to state as SQL literals and to keep the quantized dot
# far inside int64 (|dot| ≤ dim · span · 2^QUANT_BITS · max|x|), dense
# enough that the sign directions are effectively isotropic.
PLANE_SPAN = 9


def _planes(dim: int, n_planes: int = N_PLANES, seed: int = PLANE_SEED) -> np.ndarray:
    """Frozen pseudo-random INTEGER hyperplanes (seeded — deterministic
    across runs and cluster sizes). Integer coefficients are the
    oracle-portability contract: with quantized components the sign of
    each plane dot is decided in exact int64 arithmetic, so the bucket
    of every vector is statable in ANSI SQL with these coefficients
    embedded as literals (reference analog: the fully deterministic
    postprocess everywhere, ppocr/postprocess/db_postprocess.py:220-246)."""
    rs = np.random.RandomState(seed)
    return rs.randint(-PLANE_SPAN, PLANE_SPAN + 1, size=(n_planes, dim)).astype(
        np.int64
    )


def lsh_sketch(
    emb: DataFrame, dim: int, col: str = "embedding", n_planes: int = N_PLANES
) -> DataFrame:
    """Sign-bit sketch: bit p = [plane_p · q(v) > 0] where ``q``
    quantizes each component as ``floor(x · 2^QUANT_BITS)`` and the
    planes are frozen small integers — the whole bucket decision is
    exact int64 arithmetic, bit-identical across engines (which is
    what lets the ANN bucket queries carry full SQL oracles instead of
    rows-only checks). The sketch is one integer per vector — the ANN
    bucket key at scale. ``n_planes`` scales with the corpus (see
    :func:`planes_for_corpus`).

    Implementation: ONE vectorized Arrow-batch matmul (a Pandas UDF —
    the planes matrix rides in the closure, the batch of vectors hits
    BLAS once: ``(batch × dim) @ (dim × planes)``). The previous
    all-built-ins formulation (one ``aggregate``/``zip_with`` chain
    per plane) LOOKS like the fast path but is not: at 24+ planes the
    generated expression tree blows past the JIT method limit, falls
    back to interpreted evaluation, and costs ~100× the matmul. This
    is exactly the "vectorized Pandas UDF over per-row built-ins" case
    SURVEY §2.10 budgets for."""
    from pyspark.sql.functions import pandas_udf

    if not 0 < n_planes <= 62:
        # long sketch: bit 62 is the last safely-positive weight (bit 63
        # would sign-flip and break shiftright band extraction / probe
        # equality); planes_for_corpus(10^12) = 32 sits well inside
        raise ValueError(f"n_planes={n_planes} not in 1..62")
    planes_t = _planes(dim, n_planes).T  # (dim, n_planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("long")
    def sk(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        mat = np.array(v.tolist(), dtype=np.float64)
        q = np.floor(mat * float(1 << QUANT_BITS)).astype(np.int64)
        bits = (q @ planes_t) > 0
        return pd.Series(bits @ weights)

    return emb.withColumn("sketch", sk(F.col(col)))


def _probe_masks(n_planes: int = N_PLANES, radius: int = 2) -> list[int]:
    """XOR masks enumerating all sketches within Hamming ``radius``."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def ann_lsh_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_queries: int = 10,
    radius: int = 2,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Multi-probe LSH ANN: each query probes every bucket within
    Hamming ``radius`` of its own sign-bit sketch (sign-LSH loses near
    neighbors that straddle one or two hyperplanes; probing the
    adjacent buckets buys the recall back at bounded cost — with 6
    planes and radius 2 a query touches 22 of 64 buckets).

    At 10^12 scale the bucket join replaces the full scan: the corpus
    is hash-partitioned by sketch once (write-time bucketing in
    production) and the probe set is an equi-join on the sketch key.
    ``n_planes`` scales with the corpus (:func:`planes_for_corpus`);
    probe count grows only quadratically in planes (1 + p + p(p-1)/2
    at radius 2), so wider sketches stay affordable. Recall vs
    :func:`cosine_topk` is measured in tests. Returns
    (query_id, rank, neighbor_id, sim).
    """
    sk = lsh_sketch(with_norm(emb), dim, n_planes=n_planes)
    masks = F.array(*[F.lit(m) for m in _probe_masks(n_planes, radius)])
    q = F.broadcast(
        sk.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            F.col("norm").alias("q_norm"),
            F.explode(masks).alias("mask"),
            F.col("sketch").alias("q_sketch"),
        )
        .withColumn("probe", F.col("q_sketch").bitwiseXOR(F.col("mask")))
        .drop("mask", "q_sketch")
    )
    sim = _dot(F.col("embedding"), F.col("q_embedding")) / (
        F.col("norm") * F.col("q_norm")
    )
    cand = (
        sk.join(q, F.col("sketch") == F.col("probe"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    return _rank_topk(cand, k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_bands: int = 1,
    expected_n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from a BANDED
    sign-sketch equi-join, so recall survives wide sketches.

    Scale story: pair work inside a bucket is quadratic in bucket size,
    so the plane count must GROW with the corpus to stay linear overall
    — pass ``expected_n`` (a catalog stat, no runtime count) and the
    width comes from :func:`planes_for_corpus`; or pass ``n_planes``
    directly. But more planes also means a true near-pair straddles
    more hyperplanes: with one monolithic bucket key, recall decays as
    planes grow. ``n_bands > 1`` is the simhash-style fix: split the
    sketch into bands of ``n_planes / n_bands`` bits and take as
    candidates every pair agreeing on ≥1 FULL band (still equi-joins,
    on (band_id, band_bits)) — pairs differing in fewer than
    ``n_bands`` sketch bits are guaranteed candidates by pigeonhole,
    and each band key stays selective (2^(planes/bands) buckets).
    The exact cosine filter then removes false candidates, so banding
    only ever ADDS recall, never wrong pairs.

    ``n_bands=1`` is one band of all ``n_planes`` bits, i.e. pairs
    with identical sketches (the small-corpus default). Requires
    ``n_planes % n_bands == 0``.
    """
    if n_planes is None:
        if expected_n is None:
            n_planes = N_PLANES
        elif n_bands > 1:
            n_planes = bands_for_corpus(expected_n, n_bands)
        else:
            n_planes = planes_for_corpus(expected_n)
    if n_planes % n_bands != 0:
        raise ValueError(
            f"n_planes={n_planes} must be divisible by n_bands={n_bands}"
        )
    r = n_planes // n_bands
    # the candidate join shuffles only (vec_id, band_id, bits) rows —
    # 16 bytes, not embedding arrays (the simhash-pairs shape); vectors
    # join back once per side for the exact cosine filter.
    # Sketches feed three branches (band join both sides + both vector
    # lookups): compute them once.
    sk = lsh_sketch(with_norm(emb), dim, n_planes=n_planes).localCheckpoint(
        eager=False
    )
    band_rows = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("sketch"), b * r)
            .bitwiseAND(F.lit((1 << r) - 1))
            .alias("bv"),
        )
        for b in range(n_bands)
    ]
    bt = sk.select(
        "vec_id", F.explode(F.array(*band_rows)).alias("band")
    ).select("vec_id", "band.band_id", "band.bv")
    cand = (
        bt.alias("a")
        .join(
            bt.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = sk.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    eb = sk.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    sim = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    # threshold the RAW cosine (rounding before the compare would
    # shift the decision boundary by up to 5e-7 — the repo-wide
    # "never round() before comparing" portability rule); the
    # rounded value is display-only
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(sim >= threshold)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("sim"))
    )


def semdedup_exact(
    emb: DataFrame,
    dim: int,
    k: int = 16,
    n_iter: int = 3,
    threshold_sq_num: int = 9025,
    threshold_sq_den: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means partitioning → (vec_id, list_id,
    group_id, is_keeper). Cluster the embedding space with the
    EXACT-INTEGER coarse quantizer
    (:func:`webextract.operators.kmeans.kmeans_int`), find cosine
    near-duplicates WITHIN each cluster only, close duplicate groups
    transitively with connected components (a dup chain may span
    pairs) and keep the smallest vec_id per group; users delete
    ``is_keeper = false`` rows. Every arithmetic step is fully
    specified integer math, so the whole result — cluster ids,
    duplicate pairs, group labels, keepers — is bit-identical across
    engines and statable as ANSI SQL.

    The cosine threshold is stated as a RATIONAL square:
    ``sim ≥ t`` (t > 0) holds iff ``dot > 0`` and
    ``dot² · den ≥ num · |a|² · |b|²`` with ``t² = num/den`` — all
    exact on the quantized components. dot ≤ dim·2^(2·QUANT_BITS)
    (2^46 at dim 64) sits in int64; the squared comparison runs in
    DECIMAL(38,0) here and HUGEINT in the oracle (≤ ~5·10^31, far
    inside both). Reference analog: the deterministic postprocess
    contract (ppocr/postprocess/db_postprocess.py:220-246) — quantize
    first, then only exact arithmetic.

    Scale shape: map-only assignment against k broadcast centroids
    (see kmeans.assign), one localCheckpoint on the thin (vec_id, qv,
    cluster, n2) table reused by both sides of the pair join,
    within-cluster equi-join, pointer-jumping components. Pair work is
    quadratic in cluster size, so k is THE scale knob: ~n/10^4
    clusters (the paper's 50k on LAION) keeps the self-join ~linear.
    """
    from webextract.operators import kmeans as km
    from webextract.operators.dedup import connected_components

    q = km.quantize(emb).select("vec_id", "qv")
    assigned = km.kmeans_int(emb, k=k, n_iter=n_iter).select(
        "vec_id", "cluster"
    )
    n2 = F.aggregate(
        F.zip_with("qv", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sk = (
        q.join(assigned, "vec_id")
        .withColumn("n2", n2)
        .localCheckpoint(eager=False)
    )
    a, b = sk.alias("a"), sk.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    cand = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            dot.alias("dot"),
            F.col("a.n2").alias("na2"),
            F.col("b.n2").alias("nb2"),
        )
    )
    dotd = F.col("dot").cast(dec)
    pairs = cand.filter(
        (F.col("dot") > 0)
        & (
            dotd * dotd * F.lit(threshold_sq_den).cast(dec)
            >= F.lit(threshold_sq_num).cast(dec)
            * F.col("na2").cast(dec)
            * F.col("nb2").cast(dec)
        )
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    lbl = comp.select("doc_id", F.col("cluster_id").alias("grp"))
    return (
        sk.select("vec_id", F.col("cluster").cast("long").alias("list_id"))
        .join(lbl, sk["vec_id"] == lbl["doc_id"], "left")
        .select(
            "vec_id",
            "list_id",
            F.coalesce("grp", F.col("vec_id")).alias("group_id"),
            (F.coalesce("grp", F.col("vec_id")) == F.col("vec_id")).alias(
                "is_keeper"
            ),
        )
    )


def ivf_topk_exact(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
) -> DataFrame:
    """IVF ANN over the EXACT-INTEGER coarse quantizer
    (:func:`webextract.operators.kmeans.kmeans_fit`): each query
    searches only its ``n_probe`` nearest centroid lists. The
    quantizer — seeds, Lloyd rounds, assignments, centroid table — is
    fully specified integer arithmetic, and probe selection is the
    exact integer squared distance with the frozen (d2, cluster)
    tie-break.
    The candidate set is therefore bit-identical across engines and
    the whole query is statable as ANSI SQL (the ranking tail is the
    same float cosine as sim_topk/ann_lsh — rank-not-sim output, the
    proven-portable contract in :func:`_rank_topk`).

    Scale shape: the centroid table is k rows → broadcast everywhere
    it appears; probe scoring is (n_queries × k) rows; the candidate
    join is an equi-join of the assigned corpus against the broadcast
    probe table; the neighbor-embedding lookup is an equi-join on
    vec_id. Nothing but the k centroids is ever driver-bound, and the
    corpus is scanned once per Lloyd round + once to search.
    """
    from webextract.operators import kmeans as km

    q, assigned, cent = km.kmeans_fit(emb, k=n_lists, n_iter=n_iter)
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cluster").asc()
    )
    probes = (
        queries.join(F.broadcast(cent), F.lit(True), "left")
        .withColumn("d2", d2)
        .withColumn("crank", F.row_number().over(wp))
        .filter(F.col("crank") <= n_probe)
        .select("query_id", F.col("cluster").alias("probe"))
    )
    wn = with_norm(emb)
    qe = wn.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm").alias("q_norm"),
    )
    pq = F.broadcast(probes.join(qe, "query_id"))
    sim = _dot(F.col("embedding"), F.col("q_embedding")) / (
        F.col("norm") * F.col("q_norm")
    )
    cand = (
        assigned.select("vec_id", "cluster")
        .join(pq, F.col("cluster") == F.col("probe"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(wn.select("vec_id", "embedding", "norm"), "vec_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    return _rank_topk(cand, k)
