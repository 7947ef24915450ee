"""Spark-integration tests for the extraction operator.

e2e over the driver testdata: byte-identity against the SQL-stated
expectation, lineage invariants (FIXTURES.md §3), determinism across
parallelism levels, and plan-shape assertions (column pruning).
"""

import pytest
from pyspark.sql import functions as F

from webextract.operators.extract import (
    extract_pages,
    extract_pages_with_lineage,
    salted_repartition,
    split_lineage,
)
from webextract.sources.pages import expected_extraction, pages_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF)


def test_byte_identity_e2e(spark, pages):
    ext = extract_pages(salted_repartition(pages, 8))
    exp = expected_extraction(spark, SF).withColumnRenamed("text", "expected")
    j = ext.join(exp, "url", "full_outer")
    total = j.count()
    mism = j.filter(
        F.col("text").isNull()
        | F.col("expected").isNull()
        | (F.col("text") != F.col("expected"))
    ).count()
    assert total == 500 and mism == 0


def test_lineage_invariants(spark, pages):
    uni = extract_pages_with_lineage(salted_repartition(pages, 8)).persist()
    try:
        ext, lin = split_lineage(uni)
        n_pages = ext.count()
        row = lin.agg(
            F.sum("urls_in").alias("u"),
            F.sum("blocks_kept").alias("k"),
            F.min("extract_ms").alias("m"),
            F.count("*").alias("parts"),
        ).first()
        assert row["u"] == n_pages == 500
        assert row["k"] == ext.agg(F.sum("blocks_kept")).first()[0]
        assert row["m"] > 0
        assert row["parts"] <= 8
        # the page half is extract_pages row for row, spans included
        plain = extract_pages(salted_repartition(pages, 8))
        assert ext.columns == plain.columns and len(ext.columns) == 8
        assert sorted(ext.collect()) == sorted(plain.collect())
    finally:
        uni.unpersist()


def test_determinism_across_parallelism(spark, pages):
    # the two-cluster-size protocol in miniature: same input, different
    # partitioning → identical ordered output
    a = extract_pages(salted_repartition(pages, 2)).orderBy("url")
    b = extract_pages(salted_repartition(pages, 16, salt=7)).orderBy("url")
    rows_a = [(r["url"], r["text"]) for r in a.collect()]
    rows_b = [(r["url"], r["text"]) for r in b.collect()]
    assert rows_a == rows_b


def test_column_pruning_reaches_scan(spark, pages):
    # the KeepKeys analog must be visible in the physical plan: columns
    # the UDF doesn't need (lang, n_chars) are pruned out of the parquet
    # read (SURVEY.md §4)
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[-1]
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_spans_match_schema(spark, pages):
    row = extract_pages(pages).select("spans").first()
    s = row["spans"][0]
    assert set(s.asDict()) == {"block_id", "start", "end", "tag", "score"}
