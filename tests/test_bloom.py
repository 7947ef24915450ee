"""Bloom seen-set sketch (membership twin of count-min): no false
negatives, mergeability by word-wise OR, saturation behavior."""

from pyspark.sql import functions as F

from webextract.operators.sampling import bloom_build, bloom_probe

M, K = 4096, 4


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("https://h%d.example/doc/%d", F.col("id") % 7, F.col("id")).alias("url")
    )


def test_no_false_negatives(spark):
    seen = _keys(spark, 0, 300)
    sketch = bloom_build(seen, "url", m_bits=M, k=K)
    probed = bloom_probe(sketch, seen, "url", m_bits=M, k=K)
    assert probed.filter(~F.col("bloom_hit")).count() == 0


def test_unseen_mostly_miss_and_fp_bounded(spark):
    sketch = bloom_build(_keys(spark, 0, 300), "url", m_bits=M, k=K)
    unseen = _keys(spark, 10_000, 11_000)
    fp = bloom_probe(sketch, unseen, "url", m_bits=M, k=K).filter(
        F.col("bloom_hit")
    ).count()
    # expected fp rate (1-e^(-k n/m))^k ~ 0.45% at n=300,m=4096,k=4;
    # allow a generous band
    assert fp < 50


def test_merge_by_word_or_equals_union_build(spark):
    a, b = _keys(spark, 0, 200), _keys(spark, 200, 400)
    merged = (
        bloom_build(a, "url", m_bits=M, k=K)
        .unionByName(bloom_build(b, "url", m_bits=M, k=K))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    direct = bloom_build(a.unionByName(b), "url", m_bits=M, k=K)
    m2 = merged.withColumnRenamed("bits", "bits_m")
    d2 = direct.withColumnRenamed("bits", "bits_d")
    bad = (
        m2.join(d2, "word_idx", "full")
        .filter(~F.col("bits_m").eqNullSafe(F.col("bits_d")))
        .count()
    )
    assert bad == 0


def test_duplicate_probe_hits_and_null_keys_dropped(spark):
    """A seen url probed twice hits on both rows (2k position rows, all
    set); a NULL key plants no word and yields no probe row."""
    url = "https://h1.example/doc/1"
    null_row = spark.createDataFrame([(None,)], "url string")
    sketch = bloom_build(_keys(spark, 0, 300).unionByName(null_row), "url", m_bits=M, k=K)
    assert sketch.filter(F.col("word_idx").isNull() | F.col("bits").isNull()).count() == 0
    probes = spark.createDataFrame([(url,), (url,), (None,)], "url string")
    rows = bloom_probe(sketch, probes, "url", m_bits=M, k=K).collect()
    assert [(r.url, r.bloom_hit) for r in rows] == [(url, True), (url, True)]


def test_filter_row_count_bounded(spark):
    sketch = bloom_build(_keys(spark, 0, 5000), "url", m_bits=M, k=K)
    assert sketch.count() <= M // 32
