"""Exact-integer distributed k-means (quantized-centroid Lloyd).

A float k-means is not SQL-statable — float accumulation order
changes the centroids — so a float quantizer could carry only
rows-only correctness checks. This module is the one coarse quantizer
the k-means assignment and SemDeDup operators ride: a Lloyd iteration
in which every arithmetic step is fully specified integer math, so the
entire clustering (assignments, centroids, distances) is bit-identical
across engines and statable as ANSI SQL (reference analog: the
deterministic postprocess contract everywhere,
ppocr/postprocess/db_postprocess.py:220-246 — quantize first, then
only exact arithmetic).

Determinism contract:
- Components quantize as ``floor(x · 2^QUANT_BITS)`` — exact (float32
  is exactly a double; ×2^k shifts the exponent; floor of a double is
  fully specified). Same rule as ``similarity.lsh_sketch``.
- Seeds: the ``k`` vectors with the smallest ``vec_id``; cluster id =
  rank by ``vec_id`` (0-based).
- Assignment: argmin of the EXACT integer squared distance
  ``Σ (x_i − c_i)²`` (components ≤ 2^21 ⇒ per-dim square ≤ 2^42, a
  64-dim sum ≤ 2^48 — deep inside int64 at any corpus size). Ties
  break on the smaller cluster id.
- Update: each centroid component is the FLOOR DIVISION of the exact
  component sum by the cluster size (floor, not truncation — stated
  with pmod here and a sign CASE in SQL; identical on every input).
  Snapping centroids to the integer grid is what keeps every later
  distance exact; at QUANT_BITS=20 the snap perturbs a component by
  < 2^-20 of the data scale — far below any cluster geometry.
- Empty clusters keep their previous centroid.

Scale shape (the 100 TB story): assignment is MAP-ONLY — the k
centroids collapse to a single broadcast row (an array of k structs)
and the argmin runs in-row over that array, so the corpus is never
shuffled to be assigned. The update is one partial-agg groupBy on
(cluster, dim) whose output is k·dim rows. Per round the corpus is
scanned, nothing wider than k·dim ever aggregates, and
``localCheckpoint`` pins the (tiny) centroid table so lineage stays
O(1) — the links.pagerank pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webextract.operators.similarity import QUANT_BITS


def quantize(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Attach ``qv``: the exact integer quantization
    ``floor(x · 2^QUANT_BITS)`` of each component."""
    return emb.withColumn(
        "qv", F.transform(F.col(col), _quant_one)
    )


def _quant_one(x: Column) -> Column:
    return F.floor(x.cast("double") * float(1 << QUANT_BITS))


def seed_centroids(q: DataFrame, k: int) -> DataFrame:
    """(cluster, cv): the k smallest-vec_id vectors, cluster id = rank
    by vec_id. The limit is a distributed TakeOrderedAndProject; the
    rank window then runs over k rows only."""
    from pyspark.sql.window import Window

    top = q.orderBy("vec_id").limit(k)
    # constant-but-not-foldable partition key: rank over the k rows
    # without tripping the global-window warning
    wk = F.coalesce(F.substring(F.col("vec_id").cast("string"), 0, 0), F.lit(""))
    w = Window.partitionBy(wk).orderBy("vec_id")
    return top.select(
        (F.row_number().over(w) - 1).alias("cluster"),
        F.col("qv").alias("cv"),
    )


def _d2(qv: Column, cv: Column) -> Column:
    """Exact integer squared L2 distance between two quantized vectors."""
    return F.aggregate(
        F.zip_with(qv, cv, _diff_sq), F.lit(0).cast("long"), _acc_add
    )


def _diff_sq(a: Column, b: Column) -> Column:
    return (a - b) * (a - b)


def _acc_add(acc: Column, x: Column) -> Column:
    return acc + x


def assign(q: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, qv, cluster, d2): nearest centroid per vector, MAP-ONLY.

    The centroid table collapses to ONE row (an array of (cluster, cv)
    structs) that broadcasts; the argmin is ``array_min`` over
    ``struct(d2, cluster)`` — lexicographic, so ties break on the
    smaller cluster id, matching the oracle's ``ORDER BY d2, cluster``
    row_number. No shuffle touches the corpus."""
    carr = cent.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "cv"))).alias("_cents")
    )
    best = F.array_min(F.transform(F.col("_cents"), _score_one))
    return (
        q.join(F.broadcast(carr), F.lit(True), "left")
        .withColumn("_best", best)
        .select(
            "vec_id",
            "qv",
            F.col("_best.cluster").alias("cluster"),
            F.col("_best.d2").alias("d2"),
        )
    )


def _score_one(c: Column) -> Column:
    return F.struct(
        _d2(F.col("qv"), c["cv"]).alias("d2"), c["cluster"].alias("cluster")
    )


# exact floor division of the BIGINT sum by the positive count —
# pmod makes the numerator an exact multiple, so the integer DIV is
# exact and equals mathematical floor for either sign of s (never a
# float `/`: at 10^10-row clusters the sum exceeds double precision).
# The oracle states the same function as a sign CASE over `//`.
_FLOOR_DIV = "(s - pmod(s, n)) div n"


def update(assigned: DataFrame, cent_prev: DataFrame) -> DataFrame:
    """New centroids: per-(cluster, dim) exact sums → floor-divided
    means, reassembled in dim order; clusters that received no vectors
    keep their previous centroid. One partial-agg shuffle whose output
    is k·dim rows."""
    dims = assigned.select("cluster", F.posexplode("qv").alias("pos", "val"))
    agg = (
        dims.groupBy("cluster", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cluster", "pos", F.expr(_FLOOR_DIV).alias("cx"))
    )
    newc = agg.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))), _take_cx
        ).alias("cv")
    )
    p, nw = cent_prev.alias("p"), newc.alias("nw")
    return p.join(nw, "cluster", "left").select(
        "cluster", F.coalesce(F.col("nw.cv"), F.col("p.cv")).alias("cv")
    )


def _take_cx(s: Column) -> Column:
    return s["cx"]


def kmeans_fit(
    emb: DataFrame, k: int = 8, n_iter: int = 3, col: str = "embedding"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the quantized-centroid Lloyd once and return the whole
    fitted state: ``(q, assigned, cent)`` — the quantized corpus
    (vec_id, qv), the final assignment (vec_id, qv, cluster, d2), and
    the FINAL centroid table (cluster, cv) that assignment ran
    against. :func:`kmeans_int` keeps only the assignment."""
    q = quantize(emb, col).select("vec_id", "qv").localCheckpoint(eager=False)
    cent = seed_centroids(q, k).localCheckpoint()
    assigned = assign(q, cent)
    for _ in range(n_iter - 1):
        cent = update(assigned, cent).localCheckpoint()
        assigned = assign(q, cent)
    return q, assigned, cent


def kmeans_int(
    emb: DataFrame, k: int = 8, n_iter: int = 3, col: str = "embedding"
) -> DataFrame:
    """Quantized-centroid Lloyd: ``n_iter`` assignment passes with
    ``n_iter − 1`` centroid updates between them → (vec_id, cluster,
    d2) under the FINAL centroids. Every step is exact integer
    arithmetic (see module docstring), so the result is bit-identical
    to the unrolled SQL restatement."""
    _, assigned, _ = kmeans_fit(emb, k, n_iter, col)
    return assigned.select("vec_id", "cluster", "d2")
