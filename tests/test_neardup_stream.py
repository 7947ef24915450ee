"""Streaming near-dup: in-row minhash parity with the batch band
table, and the stream-static probe matching batch lsh_pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webextract.operators import dedup
from webextract.streaming.neardup_stream import (
    row_minhash_bands,
    streaming_near_dup,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_row_minhash_matches_batch_band_table(spark):
    docs = _docs(spark).limit(50)
    batch = dedup.lsh_band_table(docs)
    inrow = row_minhash_bands(docs, key="doc_id")
    a = set(map(tuple, batch.collect()))
    b = set(map(tuple, inrow.collect()))
    assert a == b and len(a) > 0


def test_row_minhash_drops_short_rows(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "enough words to shingle here ok")],
        ["doc_id", "text"],
    )
    keys = {r.doc_id for r in row_minhash_bands(df, key="doc_id").collect()}
    assert keys == {2}  # <SHINGLE_N tokens → no shingles → no probes


@pytest.mark.parametrize("k,bands", [(10, 3), (10, 0)])
def test_band_count_must_divide_signature(spark, k, bands):
    """k=10, bands=3 would silently drop mh9 from every band; the check
    is a ValueError (not an assert) so it holds under ``python -O``."""
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_band_table(df, k=k, bands=bands)
    with pytest.raises(ValueError, match="divisible"):
        row_minhash_bands(df, key="doc_id", k=k, bands=bands)


def test_streaming_near_dup_drain_matches_batch_pairs(spark, tmp_path):
    docs = _docs(spark).limit(80)
    # corpus index: the batch band table, materialized like production
    idx_dir = str(tmp_path / "idx")
    dedup.lsh_band_table(docs).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)

    # the stream re-feeds the same docs (url carries the doc_id)
    inp = str(tmp_path / "in")
    docs.select(
        F.concat(F.lit("https://s/"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    ).repartition(4).write.parquet(inp)
    stream = spark.readStream.schema("url string, text string").parquet(inp)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        streaming_near_dup(stream, index)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (int(r.url.rsplit("/", 1)[1]), r.match_doc_id)
        for r in spark.read.parquet(out).collect()
    }
    # every doc collides with itself through the index…
    n_sigs = dedup.lsh_band_table(docs).select("doc_id").distinct().count()
    assert sum(1 for a, b in got if a == b) == n_sigs
    # …and the cross matches are exactly batch lsh_pairs (both orders)
    pairs = {(r.doc_a, r.doc_b) for r in dedup.lsh_pairs(docs).collect()}
    cross = {(a, b) for a, b in got if a != b}
    assert cross == pairs | {(b, a) for a, b in pairs}
