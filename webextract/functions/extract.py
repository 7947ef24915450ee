"""Fused per-page extraction: bytes → {text, spans, counters}.

The analog of ``TextSystem.__call__`` (tools/infer/predict_system.py:
67-120), which fuses det → sort/crop → rec → filter per image. Fusing
all stages into ONE function means the Spark plan crosses the
JVM↔Python worker boundary exactly once per Arrow batch (vs the
reference's two native-runtime crossings per image) — see SURVEY.md §4.
"""

from __future__ import annotations

from typing import Any

from webextract.config import ExtractConfig
from webextract.functions.htmlnorm import decode_html
from webextract.functions.merger import merge_spans
from webextract.functions.scorer import score_blocks
from webextract.functions.tokenizer import tokenize_blocks


def page_text(raw: bytes | None, cfg: ExtractConfig) -> tuple[str, int, bool]:
    """The one html prologue of every page operator: raw bytes →
    ``(html_text, bytes_in, truncated)``. None reads as empty bytes,
    bytes past ``cfg.max_html_bytes`` are cut, the rest is decoded and,
    with ``cfg.fix_mojibake``, repaired."""
    if raw is None:
        raw = b""
    bytes_in = len(raw)
    truncated = bytes_in > cfg.max_html_bytes
    if truncated:
        raw = raw[: cfg.max_html_bytes]
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
    predict_system.py:79-83).
    """
    html_text, bytes_in, truncated = page_text(raw, cfg)
    blocks = tokenize_blocks(html_text)
    if cfg.rtl_reverse:
        # per-block segment reversal BEFORE scoring/merge: lengths are
        # preserved, so starts/ends and the span-slice invariant hold
        from webextract.functions.rtl import rtl_segment_reverse

        texts = [rtl_segment_reverse(t) for t in blocks["text"]]
        blocks["text"] = texts
        blocks["doc_text"] = "\n".join(texts)
    scores, keep = score_blocks(blocks, cfg)
    merged = merge_spans(blocks, scores, keep, cfg)
    merged.update(
        blocks_total=len(blocks["block_id"]),
        bytes_in=bytes_in,
        truncated=truncated,
    )
    return merged
