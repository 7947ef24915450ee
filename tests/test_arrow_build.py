"""Extraction's Arrow batches are built over numpy buffers: each equals
the batch ``pa.array`` builds from the same Python lists, schema
included, passes full validation, and a value that does not fit its
Arrow type raises instead of wrapping.

In-process, no Spark.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.extract import ExtractedPages
from webextract.operators.extract import (
    _EXTRACTED_PA,
    _LINEAGE_PA,
    _SPANS_PA,
    _UNIFIED_PA,
    _bool_array,
    _extract,
    _extracted_record_batch,
    _fixed_array,
    _lineage_batches,
    _string_array,
)
from webextract.sources.pages import gen_fixture_pages

FIXTURES = [p["html"] for p in gen_fixture_pages()]
NON_ASCII = [
    p.encode()
    for p in (
        "<p>Ünïcödé prose: naïve café, 東京の夜, emoji 🎉 and more words.</p>",
        "<p>שלום עולם, זהו טקסט בעברית שנכתב מימין לשמאל.</p>",
        "<p>مرحبا بالعالم، هذا نص عربي يكتب من اليمين إلى اليسار.</p>",
    )
]
NO_KEPT_BLOCKS = b"<nav><a href='/'>home</a> <a href='/x'>x</a></nav><script>s</script>"
LONG = ("<p>" + "A long paragraph of plain words. " * 20 + "</p>").encode()

CASES = {
    "fixture_matrix": (FIXTURES, DEFAULT_CONFIG),
    "non_ascii": (NON_ASCII, DEFAULT_CONFIG),
    "rtl_reversed": (NON_ASCII + FIXTURES[:8], ExtractConfig(rtl_reverse=True)),
    "no_kept_blocks": ([NO_KEPT_BLOCKS, LONG, NO_KEPT_BLOCKS], DEFAULT_CONFIG),
    "truncated": ([LONG, NON_ASCII[0], LONG], ExtractConfig(max_html_bytes=64)),
    "empty": ([], DEFAULT_CONFIG),
}


def _input(pages: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://h.example/doc/{i}" for i in range(len(pages))]),
            pa.array(pages, type=pa.binary()),
        ],
        names=["url", "html"],
    )


def _reference(rb: pa.RecordBatch, batch: ExtractedPages) -> pa.RecordBatch:
    """The extracted batch built from Python objects with ``pa.array``."""
    m = batch.merged
    fields = list(_SPANS_PA.value_type)
    struct = pa.StructArray.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(m.span_columns, fields)],
        fields=fields,
    )
    t = _EXTRACTED_PA.types
    return pa.RecordBatch.from_arrays(
        [
            rb.column(0),
            pa.array(m.text, type=t[1]),
            pa.ListArray.from_arrays(m.span_offsets, struct, type=_SPANS_PA),
            pa.array(m.mean_score, type=t[3]),
            pa.array(batch.blocks_total, type=t[4]),
            pa.array(m.blocks_kept, type=t[5]),
            pa.array(batch.bytes_in, type=t[6]),
            pa.array(batch.truncated, type=t[7]),
        ],
        schema=_EXTRACTED_PA,
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_extracted_batch_equals_pa_array_build(case):
    pages, cfg = CASES[case]
    rb = _input(pages)
    batch = _extract(rb, cfg)
    out = _extracted_record_batch(rb, batch)
    out.validate(full=True)
    assert out.schema.equals(_EXTRACTED_PA)
    assert out.equals(_reference(rb, batch))
    if case == "truncated":
        assert out.column("truncated").to_pylist() == [True] * 3
    if case == "no_kept_blocks":
        assert out.column("blocks_kept").to_pylist()[0] == 0


@pytest.mark.parametrize("case", ["fixture_matrix", "no_kept_blocks"])
def test_lineage_batches_equal_pa_array_build(case):
    pages, cfg = CASES[case]
    rb = _input(pages)
    batch = _extract(rb, cfg)
    n = rb.num_rows
    page_rows = pa.RecordBatch.from_arrays(
        [pa.repeat("page", n), *_reference(rb, batch).columns]
        + [pa.nulls(n, type=f.type) for f in _LINEAGE_PA],
        schema=_UNIFIED_PA,
    )
    out = list(_lineage_batches(iter([rb]), cfg))
    for b in out:
        b.validate(full=True)
        assert b.schema.equals(_UNIFIED_PA)
    assert len(out) == 2 and out[0].equals(page_rows)
    lineage = {
        "rec_type": "lineage",
        "partition_id": -1,  # no TaskContext outside Spark
        "urls_in": n,
        "lineage_bytes_in": sum(batch.bytes_in),
        "lineage_blocks_kept": sum(batch.merged.blocks_kept),
        "reference_pages": batch.reference_pages,
        "extract_ms": 0.0,
    }
    ref = pa.RecordBatch.from_pylist([lineage], schema=_UNIFIED_PA)
    assert out[1].column("extract_ms")[0].as_py() > 0
    assert out[1].drop_columns(["extract_ms"]).equals(ref.drop_columns(["extract_ms"]))
    assert list(_lineage_batches(iter([_input([])]), cfg)) == []


@given(st.lists(st.text()))
@settings(max_examples=200, deadline=None)
def test_string_array_equals_pa_array(values):
    out = _string_array(values)
    out.validate(full=True)
    assert out.equals(pa.array(values, type=pa.string()))


@given(st.lists(st.booleans()))
@settings(max_examples=100, deadline=None)
def test_bool_array_equals_pa_array(values):
    out = _bool_array(values)
    out.validate(full=True)
    assert out.equals(pa.array(values, type=pa.bool_()))


@pytest.mark.parametrize(
    "type_, values",
    [
        (pa.int32(), [0, 1, -1, 2**31 - 1, -(2**31)]),
        (pa.int64(), [0, 2**63 - 1, -(2**63), 2**31]),
        (pa.float64(), [0.0, -1.5, 1e308, 2.0**-1074]),
        (pa.int32(), []),
    ],
)
def test_fixed_array_equals_pa_array(type_, values):
    out = _fixed_array(values, type_)
    out.validate(full=True)
    assert out.equals(pa.array(values, type=type_))


@pytest.mark.parametrize("value", [2**31, -(2**31) - 1])
def test_int32_out_of_range_raises_and_does_not_wrap(value):
    with pytest.raises(pa.ArrowInvalid):
        pa.array([value], type=pa.int32())
    with pytest.raises(pa.ArrowInvalid):
        _fixed_array([1, value], pa.int32())
    with pytest.raises(pa.ArrowInvalid):
        _fixed_array(np.array([value], np.int64), pa.int32())


def test_int64_out_of_range_raises():
    with pytest.raises(OverflowError):
        _fixed_array([2**63], pa.int64())


def test_string_column_past_int32_offsets_raises():
    # 2048 references to one 1 MiB string: 2**31 bytes of column, one
    # byte past the last int32 offset, with no 2 GiB buffer made
    with pytest.raises(pa.ArrowInvalid):
        _string_array(["x" * 2**20] * 2048)
