"""SKV (sorted key-value shard) source: the KV-store scan analog of the
reference's ``LMDBDataSet`` (``ppocr/data/lmdb_dataset.py:26-151``).

The reference trains from LMDB environments: a single memory-mapped
B-tree file holding ``image-%09d`` / ``label-%09d`` records plus a
``num-samples`` count key (``lmdb_dataset.py:54-66``), read by point
lookups per index (``get_lmdb_sample_info``, ``lmdb_dataset.py:123-131``).
That shape — one giant single-writer file, per-record point reads — is
exactly what does NOT scale to a 1000-executor cluster, so the Spark
recast keeps the *semantics* (a sorted, indexed, binary key-value
dataset with a known record count and cheap key-range access) and swaps
the *layout* for one Spark can parallelize:

 * The store is a set of **range-sharded payloads** plus a tiny
   **manifest** of ``(shard_id, min_key, max_key, n_records)`` rows —
   the analog of LMDB's B-tree interior pages (and of an Iceberg
   manifest). A key-range lookup filters the manifest FIRST, so only
   the shards whose ``[min_key, max_key]`` interval intersects the
   probe range are ever opened — shard skipping instead of a B-tree
   descent, and it is a plain Catalyst ``Filter`` on manifest columns,
   evaluated before the one Arrow crossing that parses payload bytes.
 * One shard = ONE binary payload row. At 100 TB the parallelism is
   the shard count; records inside a shard amortize the per-record
   Python loop over thousands of entries per batch (SURVEY §2.10,
   same argument as :mod:`webextract.sources.warc`).
 * LMDB's ``num-samples`` key (``lmdb_dataset.py:62``) becomes the
   manifest's ``n_records`` column: dataset size is a manifest-only
   aggregation, no payload scan.
 * Synthesis is 100% JVM built-ins: u32-big-endian framing is
   ``unhex(lpad(hex(len), 8, '0'))``, the shard blob is a sorted
   ``collect_list`` folded with ``F.aggregate`` — one groupBy shuffle
   keyed on shard_id, no Python anywhere.

Shard payload layout (all integers u32 big-endian)::

    b"SKV1"  u32(n_records)
    n_records x ( u32(key_len) key_bytes u32(val_len) val_bytes )
    b"SKV$"  u32(n_records)          -- trailer: truncation tripwire

Keys are UTF-8 strings sorted ascending within a shard (byte order ==
codepoint order for the ASCII ``page-%09d`` keys we plant, mirroring
LMDB's lexicographic B-tree order). Fail-loud rule: bad magic, a
length overrun, an out-of-order key, or a trailer/header count
mismatch raises — a silently resynced KV shard hides systematic
truncation at crawl scale.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webextract.operators.extract import map_rows

_MAGIC = b"SKV1"
_TRAILER = b"SKV$"

PARSED_SCHEMA = "shard_id long, key string, value binary"
MANIFEST_COLS = ("shard_id", "min_key", "max_key", "n_records")


# ---------------------------------------------------------------------------
# synthesis (JVM-side): (key, value) rows -> sharded SKV blobs + manifest
# ---------------------------------------------------------------------------


def _u32be(n: Column) -> Column:
    """A bigint column as 4 big-endian bytes (pure JVM: hex→lpad→unhex)."""
    return F.unhex(F.lpad(F.hex(n.cast("bigint")), 8, "0"))


def kv_record(key: Column, value: Column) -> Column:
    """One framed SKV record as a binary column: u32(key_len) + key +
    u32(val_len) + value. ``key`` is a string column (UTF-8 encoded
    here); ``value`` is already binary so ``F.length`` is octets."""
    key_b = F.encode(key, "UTF-8")
    return F.concat(_u32be(F.length(key_b)), key_b, _u32be(F.length(value)), value)


def synth_kv_shards(
    df: DataFrame, key: Column, value: Column, shard: Column
) -> DataFrame:
    """(key, value) rows → one row per shard:
    ``(shard_id, min_key, max_key, n_records, payload)``.

    The first four columns ARE the manifest (carry them next to the
    payload, or split them off with ``.select(*MANIFEST_COLS)``); the
    payload is the framed blob. Deterministic: records concatenate in
    key order inside each shard (``sort_array`` over structs), so the
    same input always yields byte-identical shards. One shuffle
    (groupBy shard_id); the fold is ``F.aggregate`` over the collected
    record list — no Python anywhere.

    ``shard`` is caller-chosen: a RANGE expression (e.g.
    ``floor(doc_id / width)``) keeps per-shard key intervals disjoint
    so range lookups prune shards (the B-tree analog); a hash
    expression still round-trips but every probe touches every shard.

    Keys must be unique: a shard holding a key twice fails the job
    through a JVM-side ``raise_error`` when the output is evaluated,
    instead of writing a shard the parser rejects (out-of-order key) at
    the next read. The check is per shard: it sees every duplicate when
    equal keys always land in the same shard.
    """
    rec = kv_record(key, value)
    rows = df.select(
        shard.cast("long").alias("shard_id"),
        F.struct(key.alias("key"), rec.alias("rec")).alias("s"),
    )
    body = F.aggregate(
        "recs",
        F.encode(F.lit(""), "UTF-8"),
        lambda acc, x: F.concat(acc, x["rec"]),
    )
    n = F.size("recs")
    # a Filter, not a column: a consumer that prunes to the manifest or
    # to the payload still runs it
    unique = F.when(
        F.size(F.array_distinct(F.transform("recs", lambda x: x["key"]))) != n,
        F.raise_error(
            F.concat(
                F.lit("duplicate SKV key in shard "), F.col("shard_id").cast("string")
            )
        ),
    ).otherwise(F.lit(True))
    return (
        rows.groupBy("shard_id")
        .agg(F.sort_array(F.collect_list("s")).alias("recs"))
        .filter(unique)
        .select(
            "shard_id",
            F.element_at("recs", 1)["key"].alias("min_key"),
            F.element_at("recs", -1)["key"].alias("max_key"),
            n.cast("long").alias("n_records"),
            F.concat(
                F.lit(_MAGIC), _u32be(n), body, F.lit(_TRAILER), _u32be(n)
            ).alias("payload"),
        )
    )


# ---------------------------------------------------------------------------
# parsing (one Arrow crossing): SKV bytes -> (key, value)
# ---------------------------------------------------------------------------


def _parse_skv_buffer(buf: bytes) -> Iterator[tuple[str, bytes]]:
    """Walk one SKV payload by length framing. Fail-loud on every
    structural invariant (magic, counts, overruns, sort order)."""
    if buf[:4] != _MAGIC:
        raise ValueError(f"bad SKV magic {buf[:4]!r}")
    (declared,) = struct.unpack(">I", buf[4:8])
    i, n = 8, len(buf)
    prev_key: Optional[bytes] = None
    seen = 0
    while i < n and buf[i : i + 4] != _TRAILER:
        if i + 4 > n:
            raise ValueError(f"SKV key length overruns payload at offset {i}")
        (klen,) = struct.unpack(">I", buf[i : i + 4])
        key = buf[i + 4 : i + 4 + klen]
        i += 4 + klen
        if len(key) != klen or i + 4 > n:
            raise ValueError(f"SKV record overruns payload at offset {i}")
        (vlen,) = struct.unpack(">I", buf[i : i + 4])
        val = buf[i + 4 : i + 4 + vlen]
        i += 4 + vlen
        if len(val) != vlen:
            raise ValueError(f"SKV value overruns payload at offset {i}")
        if prev_key is not None and key <= prev_key:
            raise ValueError(f"SKV keys out of order: {key!r} after {prev_key!r}")
        prev_key = key
        seen += 1
        yield key.decode("utf-8"), val
    if buf[i : i + 4] != _TRAILER:
        raise ValueError("SKV payload missing trailer")
    (confirmed,) = struct.unpack(">I", buf[i + 4 : i + 8])
    if seen != declared or seen != confirmed:
        raise ValueError(
            f"SKV record count mismatch: header {declared}, "
            f"trailer {confirmed}, walked {seen}"
        )


def parse_kv(shards: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(shard_id, …, payload binary) → (shard_id, key, value). One
    Arrow crossing through :func:`~webextract.operators.extract.map_rows`;
    the per-record Python loop is amortized over every record in the
    shard (``LMDBDataSet.__getitem__``'s per-index ``txn.get`` pair,
    ``lmdb_dataset.py:123-148``, batched). A NULL payload fails the job
    with a ``ValueError`` naming the shard, like any other framing
    violation."""

    def rows(sid: int, payload: bytes | None) -> Iterator[tuple]:
        if payload is None:
            raise ValueError(f"SKV shard {sid} has a NULL payload")
        return ((sid, k, v) for k, v in _parse_skv_buffer(payload))

    return map_rows(shards, ["shard_id", payload_col], PARSED_SCHEMA, rows)


def kv_range(shards: DataFrame, lo: str, hi: str) -> DataFrame:
    """Key-range lookup ``lo <= key <= hi`` (inclusive), the analog of
    an LMDB cursor range scan. Shard pruning happens FIRST — a plain
    JVM filter on the manifest columns drops every shard whose
    ``[min_key, max_key]`` interval misses the probe range BEFORE the
    Arrow parse touches any payload byte — then the exact per-key
    filter runs on the parsed rows."""
    pruned = shards.filter(
        (F.col("max_key") >= F.lit(lo)) & (F.col("min_key") <= F.lit(hi))
    )
    return parse_kv(pruned).filter(F.col("key").between(F.lit(lo), F.lit(hi)))
