"""Pages the fast scanner bails on are counted: ``scan_blocks`` marks the
sink, ``extract_batch`` sums the marks, and the lineage row carries the
sum as ``reference_pages``. Also the tokenizer's engine check, which
names the entry point the caller used."""

import pytest
from pyspark.sql import functions as F

from webextract.config import DEFAULT_CONFIG
from webextract.functions.extract import extract_batch
from webextract.functions.tokenizer import scan_blocks, tokenize_blocks
from webextract.operators.extract import extract_pages_with_lineage, split_lineage
from webextract.sources.pages import gen_fixture_pages

CDATA = b"<![CDATA[ if (a < b) { go(); } ]]>"
K = 5


def _pages_with_k_cdata() -> list[bytes]:
    pages = [p["html"] for p in gen_fixture_pages()]
    for i in range(K):
        at = pages[i].index(b"<body>") + len(b"<body>")
        pages[i] = pages[i][:at] + CDATA + pages[i][at:]
    return pages


@pytest.mark.parametrize("fn", [scan_blocks, tokenize_blocks])
def test_unknown_engine_names_the_entry_point(fn):
    with pytest.raises(ValueError, match=rf"^{fn.__name__}: unknown engine 'fast'"):
        fn("<p>x</p>", engine="fast")


def test_scan_blocks_marks_the_reference_path():
    assert not scan_blocks("<p>x</p>").reference
    assert scan_blocks("<p>x</p>", engine="reference").reference
    assert scan_blocks("<p>x</p><![CDATA[y]]>").reference


def test_extract_batch_counts_reference_pages():
    assert extract_batch(_pages_with_k_cdata(), DEFAULT_CONFIG).reference_pages == K
    assert extract_batch([], DEFAULT_CONFIG).reference_pages == 0


def test_lineage_counts_reference_pages(spark):
    pages = spark.createDataFrame(
        [(f"https://ref.example/{i}", h) for i, h in enumerate(_pages_with_k_cdata())],
        "url string, html binary",
    ).repartition(3)
    _, lineage = split_lineage(extract_pages_with_lineage(pages))
    row = lineage.agg(F.sum("reference_pages"), F.sum("urls_in")).first()
    assert row[0] == K
    assert row[1] == len(gen_fixture_pages())
