"""Fused extraction: bytes → {text, spans, counters}, per Arrow batch.

The analog of ``TextSystem.__call__`` (tools/infer/predict_system.py:
67-120), which fuses det → sort/crop → rec → filter per image. Fusing
all stages into ONE function means the Spark plan crosses the
JVM↔Python worker boundary exactly once per Arrow batch (vs the
reference's two native-runtime crossings per image) — see SURVEY.md §4.
Inside the batch, :func:`extract_batch` tokenizes page by page but
scores and merges all pages in one vectorized pass;
:func:`extract_page` is a batch of one page.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any, NamedTuple

import numpy as np

from webextract.config import ExtractConfig
from webextract.functions.htmlnorm import decode_cut_html, decode_html
from webextract.functions.merger import MergedPages, merge_pages
from webextract.functions.scorer import score_pages
from webextract.functions.tokenizer import scan_blocks


def page_text(raw: bytes | None, cfg: ExtractConfig) -> tuple[str, int, bool]:
    """The one html prologue of every page operator: raw bytes →
    ``(html_text, bytes_in, truncated)``. None reads as empty bytes,
    bytes past ``cfg.max_html_bytes`` are cut (a utf-8 character the
    cut splits is dropped, :func:`decode_cut_html`), the rest is
    decoded and, with ``cfg.fix_mojibake``, repaired."""
    if raw is None:
        raw = b""
    bytes_in = len(raw)
    truncated = bytes_in > cfg.max_html_bytes
    if truncated:
        html_text = decode_cut_html(raw[: cfg.max_html_bytes])
    else:
        html_text = decode_html(raw)
    if cfg.fix_mojibake:
        # classify-then-correct, the cls-stage analog (predict_cls.py):
        # repairs double-encoded pages, leaves healthy pages untouched
        from webextract.functions.mojibake import fix_mojibake

        html_text = fix_mojibake(html_text)
    return html_text, bytes_in, truncated


def extract_page(raw: bytes | None, cfg: ExtractConfig) -> dict[str, Any]:
    """Extract main content from one raw html document (total function).

    Returns ``{text, spans, mean_score, blocks_total, blocks_kept,
    bytes_in, truncated}``. Never raises: empty/None/poison input yields
    the empty result (the empty-det early-exit analog,
    predict_system.py:79-83). The batch of one page of
    :func:`extract_batch`.
    """
    batch = extract_batch([raw], cfg)
    out = batch.merged.page(0)
    out.update(
        blocks_total=batch.blocks_total[0],
        bytes_in=batch.bytes_in[0],
        truncated=batch.truncated[0],
    )
    return out


class ExtractedPages(NamedTuple):
    """:func:`extract_batch`' columnar result, entry p per column
    belonging to page p (``merged`` as :class:`MergedPages`), and the
    count of pages the reference tokenizer read."""

    merged: MergedPages
    blocks_total: list[int]
    bytes_in: list[int]
    truncated: list[bool]
    reference_pages: int


def extract_batch(raws: Iterable[bytes | None], cfg: ExtractConfig) -> ExtractedPages:
    """Extract a batch of raw html documents, each exactly as
    :func:`extract_page` would alone.

    Each page is decoded and tokenized in turn and only its block
    columns are kept (the decoded html is dropped); then one
    :func:`score_pages` pass scores every block of the batch and one
    :func:`merge_pages` walk assembles every page.
    """
    block_ids: list[int] = []
    texts: list[str] = []
    tags: list[str] = []
    depths: list[int] = []
    link_lens: list[int] = []
    boilers: list[bool] = []
    offsets = [0]
    bytes_in: list[int] = []
    truncated: list[bool] = []
    reference_pages = 0
    for raw in raws:
        html_text, n_bytes, cut = page_text(raw, cfg)
        sink = scan_blocks(html_text)
        block_ids += range(len(sink.texts))
        texts += sink.texts
        tags += sink.tags
        depths += sink.depths
        link_lens += sink.link_lens
        boilers += sink.boilers
        offsets.append(len(texts))
        bytes_in.append(n_bytes)
        truncated.append(cut)
        reference_pages += sink.reference
    if cfg.rtl_reverse:
        # per-block segment reversal BEFORE scoring/merge: lengths are
        # preserved, so starts/ends and the span-slice invariant hold
        from webextract.functions.rtl import rtl_segment_reverse

        texts = [rtl_segment_reverse(t) for t in texts]

    # page-local doc_text offsets: a block starts where the K+1-long
    # prefix sum of (length + joiner) stands minus its page's base, so
    # a trailing page with no blocks still indexes inside the sums
    offs = np.asarray(offsets, dtype=np.intp)
    sizes = offs[1:] - offs[:-1]
    text_len = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    before = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(text_len + 1, out=before[1:])
    start = before[:-1] - np.repeat(before[offs[:-1]], sizes)
    blocks = {
        "block_id": block_ids,
        "tag": tags,
        "depth": depths,
        "text": texts,
        "start": start.tolist(),
        "end": (start + text_len).tolist(),
        "text_len": text_len,
        "link_text_len": link_lens,
        "is_boiler": boilers,
    }
    scores, keep = score_pages(blocks, offs, cfg)
    return ExtractedPages(
        merged=merge_pages(blocks, scores, keep, offs, cfg),
        blocks_total=sizes.tolist(),
        bytes_in=bytes_in,
        truncated=truncated,
        reference_pages=reference_pages,
    )
