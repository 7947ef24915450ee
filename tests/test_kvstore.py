"""SKV key-value store source (LMDB-scan analog,
``ppocr/data/lmdb_dataset.py:26-151``): synth → parse roundtrip,
range pruning, fail-loud corruption checks."""

import struct

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from webextract.sources.kvstore import (
    _MAGIC,
    _TRAILER,
    _parse_skv_buffer,
    kv_range,
    parse_kv,
    synth_kv_shards,
)


def _fixture(spark, n=100, width=16):
    df = spark.range(n).select(
        F.format_string("page-%09d", F.col("id")).alias("key"),
        F.encode(F.concat(F.lit("<html>doc "), F.col("id")), "UTF-8").alias("val"),
        F.col("id"),
    )
    return synth_kv_shards(
        df, F.col("key"), F.col("val"), F.floor(F.col("id") / width)
    )


def test_roundtrip_byte_identical(spark):
    shards = _fixture(spark)
    got = {
        r.key: bytes(r.value)
        for r in parse_kv(shards).collect()
    }
    assert len(got) == 100
    assert got["page-000000042"] == b"<html>doc 42"
    assert got["page-000000099"] == b"<html>doc 99"


def test_manifest_and_count(spark):
    shards = _fixture(spark, n=100, width=16)
    man = {r.shard_id: r for r in shards.collect()}
    assert len(man) == 7  # ceil(100/16)
    assert man[0].min_key == "page-000000000"
    assert man[0].max_key == "page-000000015"
    assert man[6].n_records == 4  # 96..99


def test_range_prunes_shards_before_parse(spark):
    shards = _fixture(spark, n=100, width=16).localCheckpoint()
    lo, hi = "page-000000020", "page-000000050"
    out = kv_range(shards, lo, hi)
    keys = sorted(r.key for r in out.collect())
    assert keys[0] == lo and keys[-1] == hi and len(keys) == 31
    # the manifest filter survives into the optimized plan BEFORE the
    # Arrow crossing: only shards 1..3 (of 7) are parsed
    pruned = shards.filter(
        (F.col("max_key") >= lo) & (F.col("min_key") <= hi)
    )
    assert pruned.count() == 3
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "max_key" in plan and "min_key" in plan


def test_hash_sharding_still_roundtrips(spark):
    df = spark.range(50).select(
        F.format_string("k-%04d", F.col("id")).alias("key"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("val"),
        F.col("id"),
    )
    shards = synth_kv_shards(
        df, F.col("key"), F.col("val"), F.pmod(F.xxhash64("key"), F.lit(8))
    )
    assert parse_kv(shards).count() == 50


def test_corruption_fails_loud(spark):
    payload = bytes(
        _fixture(spark, n=10, width=10).select("payload").collect()[0].payload
    )
    list(_parse_skv_buffer(payload))  # sanity: intact parses

    with pytest.raises(ValueError, match="magic"):
        list(_parse_skv_buffer(b"XXXX" + payload[4:]))
    with pytest.raises(ValueError, match="trailer|overruns"):
        list(_parse_skv_buffer(payload[:-9]))  # truncation
    # header/trailer count mismatch
    bad = payload[:4] + struct.pack(">I", 3) + payload[8:]
    with pytest.raises(ValueError, match="count mismatch"):
        list(_parse_skv_buffer(bad))
    # out-of-order keys: swap the declared order by rebuilding two recs
    k1, v1 = b"b", b"1"
    k2, v2 = b"a", b"2"
    recs = b"".join(
        struct.pack(">I", len(k)) + k + struct.pack(">I", len(v)) + v
        for k, v in ((k1, v1), (k2, v2))
    )
    unsorted = _MAGIC + struct.pack(">I", 2) + recs + _TRAILER + struct.pack(">I", 2)
    with pytest.raises(ValueError, match="out of order"):
        list(_parse_skv_buffer(unsorted))
    # a NULL shard payload fails the job and names the shard
    null = spark.createDataFrame([(7, None)], "shard_id long, payload binary")
    with pytest.raises(PythonException, match="SKV shard 7 has a NULL payload"):
        parse_kv(null).collect()


def test_roundtrip_property_unicode_keys_empty_values(spark):
    """Adversarial record shapes: unicode keys, empty and binary-ish
    values, single-record shards — framing must round-trip all of
    them byte-identically (the property analog of the WARC framing
    tests)."""
    rows = [
        ("k-açé-中文-0", b""),
        ("k-emoji-\U0001f600-1", b"\x00\x01\xff\xfe"),
        ("k-plain-2", b"v" * 10_000),
        ("k-quote-\"'\t-3", "body — unicode".encode()),
    ]
    df = spark.createDataFrame(
        [(k, bytearray(v), i) for i, (k, v) in enumerate(rows)],
        "key string, val binary, id long",
    )
    shards = synth_kv_shards(
        df, F.col("key"), F.col("val"), F.col("id") % 2
    )
    got = {r.key: bytes(r.value) for r in parse_kv(shards).collect()}
    assert got == dict(rows)


def test_duplicate_keys_fail_at_synth(spark):
    df = spark.createDataFrame(
        [("k-1", bytearray(b"a"), 0), ("k-1", bytearray(b"b"), 0), ("k-2", bytearray(b"c"), 1)],
        "key string, val binary, id long",
    )
    shards = synth_kv_shards(df, F.col("key"), F.col("val"), F.col("id"))
    for cols in (["payload"], ["shard_id", "n_records"]):
        with pytest.raises(Exception, match="duplicate SKV key in shard 0"):
            shards.select(*cols).collect()
