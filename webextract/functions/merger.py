"""Span-merge decoder: retained blocks → final text + spans.

The analog of the reference's CTC greedy decode + result assembly:
``CTCLabelDecode`` argmaxes per step, drops repeats of the previous
step, drops blanks, and joins (ppocr/postprocess/rec_postprocess.py:
70-100,106-129); ``TextSystem`` then orders boxes (predict_system.py:
123-144) and applies ``drop_score`` (:112-117). Here:

 * document order IS reading order (the DOM is linear — our
   ``sorted_boxes`` is the identity);
 * adjacent duplicate dedup: a retained block whose text equals the
   previous retained block's text is dropped (the CTC
   neighbor-dedup analog, rec_postprocess.py:76-81);
 * retained texts join with the frozen separator; spans carry
   (block_id, start, end, tag, score) with offsets into ``doc_text``
   so ``sep.join(doc_text[s:e])`` reproduces the output byte-for-byte
   (span-slice invariant, FIXTURES.md).

:func:`merge_pages` merges a block table of many pages back to back
(an Arrow batch's) in one walk over the kept blocks and returns the
batch's columns; :func:`merge_spans` is its batch of one page.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any, NamedTuple

import numpy as np

from webextract.config import ExtractConfig


# markdown decorations by block tag (cfg.markdown=True): pure,
# length-transparent — spans keep slicing the raw block text, the
# OUTPUT text carries the decorated form
_MD_HEADING = {f"h{n}": "#" * n + " " for n in range(1, 7)}


def md_decorate(tag: str, text: str) -> str:
    """Markdown form of one retained block (pure function of
    (tag, text); whitespace inside ``text`` was already canonicalized
    by the tokenizer, so decorations are single-line except the pre
    fence)."""
    p = _MD_HEADING.get(tag)
    if p is not None:
        return p + text
    if tag == "li":
        return "- " + text
    if tag == "blockquote":
        return "> " + text
    if tag == "pre":
        return "```\n" + text + "\n```"
    return text


class MergedPages(NamedTuple):
    """:func:`merge_pages`' columnar result. Entry p of ``text``,
    ``mean_score`` and ``blocks_kept`` belongs to page p; page p's
    spans are entries ``span_offsets[p]:span_offsets[p+1]`` of the
    five ``span_columns`` (block_id, start, end, tag, score)."""

    text: list[str]
    mean_score: list[float]
    blocks_kept: list[int]
    span_offsets: list[int]
    span_columns: tuple[list[int], list[int], list[int], list[str], list[float]]

    def page(self, p: int) -> dict[str, Any]:
        """Page p as :func:`merge_spans`' dict."""
        lo, hi = self.span_offsets[p], self.span_offsets[p + 1]
        return {
            "text": self.text[p],
            "spans": list(zip(*(c[lo:hi] for c in self.span_columns))),
            "mean_score": self.mean_score[p],
            "blocks_kept": self.blocks_kept[p],
        }


def merge_spans(
    blocks: dict[str, list],
    scores: np.ndarray,
    keep: np.ndarray,
    cfg: ExtractConfig,
) -> dict[str, Any]:
    """Return ``{text, spans, mean_score, blocks_kept}`` for one page.

    ``spans`` is a list of ``(block_id, start, end, tag, score)`` tuples
    in document order.
    """
    return merge_pages(blocks, scores, keep, [0, len(blocks["block_id"])], cfg).page(0)


def merge_pages(
    blocks: Mapping[str, Sequence],
    scores: np.ndarray,
    keep: np.ndarray,
    offsets: Sequence[int],
    cfg: ExtractConfig,
) -> MergedPages:
    """Merge a block table of several pages, page p being rows
    ``offsets[p]:offsets[p+1]``. ``blocks`` needs the columns
    ``block_id, start, end, text, tag``, with page-local ids and
    offsets. Adjacent duplicates are only dropped within a page."""
    texts = blocks["text"]
    tags = blocks["tag"]
    kept = keep.nonzero()[0]
    bounds = np.searchsorted(kept, offsets).tolist()
    kept = kept.tolist()
    sep = cfg.separator
    sel: list[int] = []
    out_text: list[str] = []
    span_offsets = [0]
    by_count: dict[int, list[int]] = {}  # span count → pages with it
    for p, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        page: list[str] = []
        prev_text = None
        for i in kept[lo:hi]:
            t = texts[i]
            if t == prev_text:
                continue  # CTC-style adjacent-duplicate drop (raw text)
            sel.append(i)
            page.append(md_decorate(tags[i], t) if cfg.markdown else t)
            prev_text = t
        out_text.append(sep.join(page))
        span_offsets.append(len(sel))
        if page:
            by_count.setdefault(len(page), []).append(p)

    span_scores = scores[sel].tolist()
    # each page's mean span score, bit for bit np.mean's (its sum, then
    # its division), taken row-wise over the pages with the same span
    # count: one reduction per distinct count; 0.0 on a page with none
    mean_score = [0.0] * len(out_text)
    for n, pages in by_count.items():
        rows = np.array([span_scores[span_offsets[p] : span_offsets[p] + n] for p in pages])
        for p, m in zip(pages, (np.add.reduce(rows, axis=1) / n).tolist()):
            mean_score[p] = m
    b_ids, starts, ends = blocks["block_id"], blocks["start"], blocks["end"]
    return MergedPages(
        text=out_text,
        mean_score=mean_score,
        blocks_kept=[hi - lo for lo, hi in zip(span_offsets, span_offsets[1:])],
        span_offsets=span_offsets,
        span_columns=(
            [b_ids[i] for i in sel],
            [starts[i] for i in sel],
            [ends[i] for i in sel],
            [tags[i] for i in sel],
            span_scores,
        ),
    )
