"""Embedding-space near-duplicate detection over
``embeddings(vec_id, embedding: array<float>, label)``.

The reference's closest op is the nearest-neighbor matcher that
assigns each OCR box to its argmin-distance table cell
(ppstructure/table/matcher.py:76-97); here the metric is cosine over
embedding vectors and the output is duplicate pairs and keepers.

Scale design:
 * dot products run JVM-side via ``zip_with`` + ``aggregate`` (double
   accumulation in array order — deterministic, matches the DuckDB
   oracle's list arithmetic);
 * the banded path buckets vectors by sign-bit sketch first, so at
   100 TB the candidate join is an equi-join on sketch bands, touching
   only same-bucket pairs;
 * the k-means path (:func:`semdedup_exact`) runs the exact-integer
   Lloyd of ``operators/kmeans.py``, and every partition and
   threshold decision is integer arithmetic the DuckDB oracle
   restates.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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

    The default ``target_bucket`` is far smaller than
    :data:`TARGET_BUCKET`: a SELF-join pays ~bucket²/2 pairs per
    bucket, i.e. ~n·target/2 candidate pairs per band overall, so the
    target IS the per-vector candidate budget (16 → ~24 exact-cosine
    checks per vector at 3 bands), not a scan batch size."""
    return n_bands * planes_for_corpus(expected_n, target_bucket)


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in array order, double accumulator (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (computed once, reused by every pair)."""
    c = F.col(col)
    return emb.withColumn("norm", F.sqrt(_dot(c, c)))


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
    what lets the sketch-bucketed queries carry full SQL oracles
    instead of rows-only checks). The sketch is one integer per vector
    — the near-dup bucket key at scale. ``n_planes`` scales with the
    corpus (see :func:`planes_for_corpus`).

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
        # would sign-flip and break shiftright band extraction);
        # planes_for_corpus(10^12) = 32 sits well inside
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
