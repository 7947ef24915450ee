"""Streaming NEAR-dup detection: a live feed probed against a static
LSH band index.

The fuzzy sibling of streaming/dedup_stream.py (exact content hash):
a crawl feed carries lightly-edited mirrors and re-publishes that the
exact hash misses. Matching the stream against the EXISTING corpus is
a stream-static join — stateless, no watermark needed — so the heavy
machinery (minhash over the corpus, the band index) is batch-built
once (``dedup.lsh_band_table``, refreshed at whatever cadence the
corpus grows), and each micro-batch pays only a map-side signature +
an equi-join probe.

The stream-side signature is the IN-ROW minhash: the shingle array,
the k per-shingle hash mins and the band hashes are all array
expressions inside one projection — no groupBy (a streaming
aggregation would need watermark/output-mode machinery), no Python,
no shuffle on the stream until the probe join. ``row_minhash_bands``
is pure column algebra and provably computes the same band hashes as
the batch path: it shares the batch's shingle and band-hash
expressions (``dedup.shingle_array``, ``dedup._band_hashes``), and the
min over a row's shingle ARRAY equals the batch's min over its
DISTINCT exploded shingles — duplicates never change a min (pinned by
the parity test in tests/test_neardup_stream.py).

At 10^12 docs the band index is large; the probe is still an
equi-join on (band_id, bh) — bucketed/broadcast by the planner as
stats dictate — and the stream side of every micro-batch is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webextract.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    SHINGLE_N,
    _band_hashes,
    shingle_array,
)


def row_minhash_bands(
    df: DataFrame,
    key: str = "url",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    text_col: str = "text",
) -> DataFrame:
    """(key, band_id, bh) computed entirely in-row (map-only; legal on
    batch AND streaming frames). Band hashes are bit-identical to
    ``dedup.lsh_band_table``'s for the same text. Rows with fewer than
    ``n`` tokens have no shingles and emit nothing (the batch filter
    restated)."""
    sh = shingle_array(F.split(F.col(text_col), " "), n)
    mh = [
        F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        ).alias(f"mh{i}")
        for i in range(k)
    ]
    staged = df.select(key, *mh).filter(F.col("mh0").isNotNull())
    return _band_hashes(staged, key, k, bands)


def streaming_near_dup(
    stream_pages: DataFrame,
    index_bands: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Probe a page stream against a static corpus band index:
    returns distinct (url, match_doc_id) candidate near-dups per
    arriving page. ``index_bands`` is ``dedup.lsh_band_table(corpus)``
    (static — registered table or parquet read). The probe join itself
    is stateless (stream-static inner); the trailing ``dropDuplicates``
    collapses multi-band collisions of the same pair (≤ ``bands`` rows
    each) and carries first-seen state across micro-batches — the same
    unbounded-state trade as ``streaming_dedup``, suited to
    availableNow drains; swap in ``dropDuplicatesWithinWatermark`` for
    an unbounded live feed."""
    probes = row_minhash_bands(stream_pages, "url", k, bands, n)
    return (
        probes.join(index_bands, ["band_id", "bh"])
        .select("url", F.col("doc_id").alias("match_doc_id"))
        .dropDuplicates(["url", "match_doc_id"])
    )
