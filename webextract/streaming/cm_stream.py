"""Streaming count-min sketch: the live-feed face of
``sampling.count_min_hosts``.

The sketch's whole value at 10^12 docs is that it never grows: a
``depth × width`` cell table absorbs an unbounded page stream with
O(depth·width) state, and the STREAMING cells are bit-identical to the
batch builder's because both run ``sampling.count_min_sketch`` over the
same map-only ``sampling.cm_cells`` rows (frozen md5 row hashes — no seed, no
session state). A deployment drains micro-batches into the cell table
with ``update`` output and merges it into the warehouse copy by
cell-wise addition; the batch/stream parity test pins the equality.
"""

from __future__ import annotations

from webextract.operators.sampling import cm_cells, count_min_sketch


def run_cm_stream(spark, input_dir: str, depth: int = 4, width: int = 4096):
    """Drain a pages directory through the batch sketch builder
    ``count_min_sketch`` — map-only cells + a streaming groupBy count
    whose state is the cell table itself (≤ depth·width rows) — with
    availableNow + complete output to a memory sink, and return the
    final cell table as a batch DataFrame."""
    from webextract.streaming.extract_stream import (
        _drain_to_memory,
        read_pages_stream,
    )

    sketch = count_min_sketch(
        cm_cells(read_pages_stream(spark, input_dir), depth, width)
    )
    return _drain_to_memory(sketch, "cm_sketch")
