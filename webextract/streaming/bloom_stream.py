"""Streaming Bloom seen-set: the live-feed face of
``sampling.bloom_build`` (count-min's membership twin gets the same
streaming treatment as ``cm_stream``).

A crawl frontier's seen-filter is inherently a streaming object: urls
arrive continuously and the filter must absorb them with bounded
state. The word table (≤ m_bits/32 rows) IS that state — the
STREAMING words are bit-identical to the batch builder's because the
stream runs the batch builder itself: ``bit_or`` over the map-only
``sampling.bloom_positions`` rows (frozen md5 bit positions — no
seed, no session state). A deployment drains
micro-batches into the word table with ``complete`` output and merges
it into the warehouse copy by word-wise OR; the batch/stream parity
test pins the equality, and mergeability means yesterday's filter plus
today's stream equals one filter over the union — exactly the
incremental-crawl contract.
"""

from __future__ import annotations

from webextract.operators.sampling import bloom_build


def run_bloom_stream(
    spark, input_dir: str, m_bits: int = 16384, k: int = 4
):
    """Drain a pages directory through the batch filter builder
    ``bloom_build`` — map-only bit positions + a streaming groupBy
    ``bit_or`` whose state is the word table itself (≤ m_bits/32 rows)
    — with availableNow + complete output to a memory sink, and return
    the final word table as a batch DataFrame."""
    from webextract.streaming.extract_stream import (
        _drain_to_memory,
        read_pages_stream,
    )

    sketch = bloom_build(
        read_pages_stream(spark, input_dir), m_bits=m_bits, k=k
    )
    return _drain_to_memory(sketch, "bloom_sketch")
