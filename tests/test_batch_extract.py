"""The batch contract of extraction: an Arrow batch scored and merged in
one pass gives every page exactly what extracting it alone gives, and
the pass really is one per batch.

In-process, no Spark: ``_extract_record_batch`` is the body of the
extraction ``mapInArrow``.
"""

import string
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import webextract
from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions import extract as extract_mod
from webextract.functions import merger, scorer
from webextract.functions.extract import extract_page
from webextract.functions.merger import merge_spans
from webextract.functions.scorer import score_blocks, score_pages
from webextract.functions.tokenizer import block_offsets, tokenize_blocks
from webextract.operators.extract import _extract_record_batch
from webextract.sources.pages import gen_fixture_pages

CONFIGS = [
    DEFAULT_CONFIG,
    ExtractConfig(markdown=True),
    ExtractConfig(score_mode="slow"),
    ExtractConfig(max_blocks=2),
    ExtractConfig(smooth_margin=0.4),
    ExtractConfig(rtl_reverse=True),
]
SPAN_FIELDS = ("block_id", "start", "end", "tag", "score")

# a kept paragraph, and a deep div that scores just under drop_score
# (0.3875 with the default weights: a near-miss smoothing can rescue)
KEPT = "<p>" + "x" * 400 + "</p>"
NEAR_MISS = "<div>" * 30 + "y" * 100 + "</div>" * 30

# every fixture but the 1.86 MB giant page (too slow to draw often)
_FIXTURES = [p["html"] for p in gen_fixture_pages() if p["case"] != "giant_page"]

_chunk = st.one_of(
    st.text(alphabet=string.ascii_letters + " .,", min_size=0, max_size=30),
    st.sampled_from(
        ["<p>", "</p>", "<div>", "</div>", "<a href='/'>", "</a>", "<nav>",
         "</nav>", "<li>", "<h1>", "</h1>", "<pre>\n", "</pre>", "<br>",
         "<script>", "</script>", "&amp;", "שלום ",
         KEPT, NEAR_MISS, "<p>same paragraph text here</p>"]
    ),
)
_soup = st.lists(_chunk, max_size=25).map(lambda c: "".join(c).encode())
_page = st.one_of(
    st.sampled_from(_FIXTURES), _soup, st.just(None), st.just(b""),
    st.just(b"<script>no blocks</script>"),
)
_trailing_empty = st.lists(
    st.sampled_from([None, b"", b"<p> </p>"]), max_size=3
)


def _batch(pages: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://h.example/doc/{i}" for i in range(len(pages))]),
            pa.array(pages, type=pa.binary()),
        ],
        names=["url", "html"],
    )


def _alone(pages: list, cfg: ExtractConfig) -> list[dict]:
    """Each page extracted by itself, as an extracted Arrow row."""
    rows = []
    for i, raw in enumerate(pages):
        r = extract_page(raw, cfg)
        rows.append(
            {
                "url": f"https://h.example/doc/{i}",
                "text": r["text"],
                "spans": [dict(zip(SPAN_FIELDS, s)) for s in r["spans"]],
                "mean_score": r["mean_score"],
                "blocks_total": r["blocks_total"],
                "blocks_kept": r["blocks_kept"],
                "bytes_in": r["bytes_in"],
                "truncated": r["truncated"],
            }
        )
    return rows


@given(st.lists(_page, max_size=12), _trailing_empty, st.sampled_from(CONFIGS))
@settings(max_examples=150, deadline=None)
def test_batch_equals_pages_alone(pages, trailing, cfg):
    pages = pages + trailing
    out = _extract_record_batch(_batch(pages), cfg).to_pylist()
    assert out == _alone(pages, cfg)
    for row in out:  # bit for bit one np.mean over the page's span scores
        scores = [s["score"] for s in row["spans"]]
        assert row["mean_score"] == (np.mean(scores) if scores else 0.0)


def test_smoothing_stops_at_page_boundary():
    # page A ends with a kept block, page B starts with a near-miss and
    # then a kept block: run as one page the near-miss is sandwiched
    # and rescued, run as two pages of one batch it is not
    a, b = KEPT, NEAR_MISS + KEPT
    one_page = extract_page((a + b).encode(), DEFAULT_CONFIG)
    assert one_page["blocks_kept"] == 3
    out = _extract_record_batch(_batch([a.encode(), b.encode()]), DEFAULT_CONFIG)
    page_b = out.to_pylist()[1]
    assert [s["block_id"] for s in page_b["spans"]] == [1]
    assert page_b == _alone([b.encode()], DEFAULT_CONFIG)[0] | {"url": page_b["url"]}

    # the same at the block-table level: pages [p, p] and [div, p]
    table = tokenize_blocks(a + a + b)
    _, keep = score_pages(table, [0, 2, 4], DEFAULT_CONFIG)
    assert keep.tolist() == [True, True, False, True]
    _, keep_flat = score_pages(table, [0, 4], DEFAULT_CONFIG)
    assert keep_flat.tolist() == [True, True, True, True]


@given(st.lists(st.lists(st.text(max_size=6), max_size=5), max_size=6))
def test_block_offsets_equal_the_per_page_loop(pages):
    # the prefix-sum offsets of a block table of several pages, empty
    # pages anywhere, against each page's own running offset
    texts = [t for page in pages for t in page]
    offsets = np.cumsum([0] + [len(page) for page in pages])
    start, text_len = block_offsets(texts, offsets)
    expected = []
    for page in pages:
        off = 0
        for t in page:
            expected.append((off, len(t)))
            off += len(t) + 1  # the "\n" joiner
    assert list(zip(start.tolist(), text_len.tolist())) == expected


@pytest.mark.parametrize(
    "cfg", [DEFAULT_CONFIG, ExtractConfig(max_blocks=1), ExtractConfig(smooth_margin=0.4)]
)
@pytest.mark.parametrize("last", [b"<script>x</script>", b"", None])
def test_trailing_page_without_blocks(cfg, last):
    # the top-K counts and the doc_text offsets index one past the last
    # block for such a page
    pages = [(KEPT + NEAR_MISS + KEPT + KEPT).encode(), last]
    out = _extract_record_batch(_batch(pages), cfg).to_pylist()
    assert out == _alone(pages, cfg)
    assert out[1]["blocks_total"] == 0 and out[1]["spans"] == []


def test_empty_batches():
    for pages in ([b""], [None, b""]):
        out = _extract_record_batch(_batch(pages), DEFAULT_CONFIG).to_pylist()
        assert out == _alone(pages, DEFAULT_CONFIG)
    assert _extract_record_batch(_batch([]), DEFAULT_CONFIG).num_rows == 0


def test_one_scoring_and_merging_pass_per_batch(monkeypatch):
    calls = {"score": 0, "merge": 0}
    real_score, real_merge = scorer.score_pages, merger.merge_pages

    def score_spy(*args):
        calls["score"] += 1
        return real_score(*args)

    def merge_spy(*args):
        calls["merge"] += 1
        return real_merge(*args)

    for module in (scorer, extract_mod):
        monkeypatch.setattr(module, "score_pages", score_spy)
    for module in (merger, extract_mod):
        monkeypatch.setattr(module, "merge_pages", merge_spy)

    pages = [f"<h1>Title {i}</h1>{KEPT}<nav><a href='/'>x</a></nav>".encode() for i in range(50)]
    assert _extract_record_batch(_batch(pages), DEFAULT_CONFIG).num_rows == 50
    assert calls == {"score": 1, "merge": 1}

    # the per-page entry points are batches of one through the same pass
    extract_page(pages[0], DEFAULT_CONFIG)
    assert calls == {"score": 2, "merge": 2}
    blocks = tokenize_blocks(pages[0].decode())
    scores, keep = score_blocks(blocks, DEFAULT_CONFIG)
    merge_spans(blocks, scores, keep, DEFAULT_CONFIG)
    assert calls == {"score": 3, "merge": 3}


def test_one_blend_under_functions():
    package = Path(webextract.__file__).parent / "functions"
    hits = [
        f"{py.name}:{n}"
        for py in sorted(package.rglob("*.py"))
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "np.clip(" in line
    ]
    assert len(hits) == 1 and hits[0].startswith("scorer.py:"), hits

