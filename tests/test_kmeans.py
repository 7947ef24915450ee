"""Exact-integer k-means (operators/kmeans.py).

The q:kmeans_assign oracle pins the unrolled iteration against DuckDB
at sf0.01; these tests pin the algorithm against a plain-Python Lloyd
reference (floor quantization, integer d2, (d2, cluster) tie-break,
floor-div centroid means, empty-cluster carry-over) on small corpora
where every branch is exercised deliberately.
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from webextract.operators.kmeans import kmeans_fit, kmeans_int

Q = 1 << 20


def _ref_kmeans(emb, k, n_iter):
    """Plain-Python quantized-centroid Lloyd. Python's // IS floor
    division, the same function the Spark pmod+DIV computes."""
    q = {v: [math.floor(x * float(Q)) for x in e] for v, e in emb.items()}
    seeds = sorted(q)[:k]
    cent = {c: list(q[v]) for c, v in enumerate(seeds)}

    def _assign():
        out = {}
        for v, x in q.items():
            out[v] = min(
                (sum((a - b) * (a - b) for a, b in zip(x, cent[c])), c)
                for c in cent
            )
        return out

    a = _assign()
    for _ in range(n_iter - 1):
        sums, cnts = {}, {}
        for v, (_, c) in a.items():
            cnts[c] = cnts.get(c, 0) + 1
            s = sums.setdefault(c, [0] * len(q[v]))
            for i, x in enumerate(q[v]):
                s[i] += x
        for c in list(cent):
            if c in cnts:
                cent[c] = [s // cnts[c] for s in sums[c]]
        a = _assign()
    return {v: (c, d2) for v, (d2, c) in a.items()}, cent


def _df(spark, emb):
    return spark.createDataFrame(
        [Row(vec_id=v, embedding=[float(x) for x in e]) for v, e in emb.items()]
    )


def test_kmeans_matches_reference(spark):
    emb = {
        0: [0.0, 0.0],
        1: [0.1, -0.05],
        2: [1.0, 1.0],
        3: [0.9, 1.1],
        4: [-1.0, 0.5],
        5: [-0.9, 0.55],
        6: [0.05, 0.02],
    }
    ref, _ = _ref_kmeans(emb, k=3, n_iter=3)
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_int(_df(spark, emb), k=3, n_iter=3).collect()
    }
    assert got == ref


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # both seeds coincide (identical vectors), so every point ties to
    # cluster 0 (the (d2, cluster) tie-break) and cluster 1 receives
    # nothing in ANY round — the empty-cluster carry-over branch runs
    # on every update
    emb = {0: [0.5, 0.5], 1: [0.5, 0.5], 2: [0.5, 0.5], 3: [0.5, 0.5]}
    ref, ref_cent = _ref_kmeans(emb, k=2, n_iter=3)
    assert all(c == 0 for c, _ in ref.values())  # the trap is armed
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_int(_df(spark, emb), k=2, n_iter=3).collect()
    }
    assert got == ref
    # cluster 1 must still exist with its seed centroid carried over
    cents = {
        r.cluster: list(r.cv)
        for r in kmeans_fit(_df(spark, emb), k=2, n_iter=3)[2].collect()
    }
    assert cents[1] == ref_cent[1]


def test_kmeans_negative_sum_floor_div(spark):
    # negative component sums exercise the floor-vs-truncate divide:
    # floor(-3/2) = -2, truncation would say -1
    emb = {0: [-1.0], 1: [0.0], 2: [-0.5], 3: [5.0]}
    ref, _ = _ref_kmeans(emb, k=2, n_iter=3)
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_int(_df(spark, emb), k=2, n_iter=3).collect()
    }
    assert got == ref


@given(
    st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=16,
    )
)
@settings(max_examples=15, deadline=None)
def test_kmeans_property(spark, vecs):
    emb = {i: v for i, v in enumerate(vecs)}
    ref, _ = _ref_kmeans(emb, k=min(3, len(vecs)), n_iter=3)
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans_int(_df(spark, emb), k=min(3, len(vecs)), n_iter=3).collect()
    }
    assert got == ref
