"""Block scorer: vectorized content-vs-boilerplate classification.

The analog of the reference's DB postprocess (region proposal scoring +
thresholding): ``DBPostProcess.__call__`` thresholds a probability map,
scores each candidate region with a masked mean (``box_score_fast``,
ppocr/postprocess/db_postprocess.py:182-197,220-246) and drops regions
below ``box_thresh``. Here the "probability" is a frozen linear blend
of text-density, link-density, tag-prior and depth features, computed
with numpy over a whole block table at once (no per-block Python).

The table may hold many pages back to back: :func:`score_pages` runs
the blend ONCE over every block of an Arrow batch (page p owns rows
``offsets[p]:offsets[p+1]``), so the ~15 numpy calls cost once per
batch instead of once per page. Only neighbor smoothing and the top-K
cap look across rows; both respect the page boundaries.
:func:`score_blocks` is the batch of one page.

Also implements:
 * score_mode "slow" — the ``box_score_slow`` analog
   (db_postprocess.py:199-218, selected at :131-133): the content-mass
   evidence is measured over the exact non-link text (the polygon
   mean) instead of the whole block extent (the bbox mean). Opt-in;
   default "fast" keeps goldens byte-frozen;
 * neighbor smoothing — the ``use_dilation`` analog
   (db_postprocess.py:54-55): a near-miss block sandwiched between two
   kept blocks is rescued;
 * per-page top-K cap — the ``max_candidates`` analog
   (db_postprocess.py:37,120).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from itertools import repeat

import numpy as np

from webextract.config import DEFAULT_TAG_BONUS, TAG_BONUS, ExtractConfig


def score_blocks(blocks: dict[str, list], cfg: ExtractConfig) -> tuple[np.ndarray, np.ndarray]:
    """Return ``(scores: float64[K], keep: bool[K])`` for one block table."""
    return score_pages(blocks, [0, len(blocks["block_id"])], cfg)


def score_pages(
    blocks: Mapping[str, Sequence], offsets: Sequence[int], cfg: ExtractConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Return ``(scores: float64[K], keep: bool[K])`` for a block table
    of several pages, page p being rows ``offsets[p]:offsets[p+1]``.

    ``blocks`` needs the columns ``text_len, link_text_len, depth,
    is_boiler, tag``. Each block scores exactly as it would in a table
    of its page alone: the blend is elementwise (its floating-point
    operation order is frozen), and smoothing and the cap never look
    past a page boundary.
    """
    offs = np.asarray(offsets, dtype=np.intp)
    k = int(offs[-1])
    if k == 0:
        return np.zeros(0), np.zeros(0, dtype=bool)

    text_len = np.asarray(blocks["text_len"], dtype=np.float64)
    link_len = np.fromiter(blocks["link_text_len"], np.float64, count=k)
    depth = np.fromiter(blocks["depth"], np.float64, count=k)
    boiler = np.fromiter(blocks["is_boiler"], np.float64, count=k)
    tag_bonus = np.fromiter(
        map(TAG_BONUS.get, blocks["tag"], repeat(DEFAULT_TAG_BONUS)), np.float64, count=k
    )

    # score_mode analog (db_postprocess.py:40-43,131-133): "fast"
    # measures content mass over the block's whole text extent (the
    # bbox mean); "slow" over the exact non-link content only (the
    # polygon mean — anchor glyphs excluded from the evidence).
    if cfg.score_mode == "slow":
        content_len = np.maximum(text_len - link_len, 0.0)
    else:
        content_len = text_len
    len_score = np.minimum(content_len, cfg.len_norm) / cfg.len_norm
    link_density = link_len / np.maximum(text_len, 1.0)
    depth_pen = np.minimum(np.maximum(depth - cfg.depth_norm, 0.0) / cfg.depth_norm, 1.0)

    raw = (
        cfg.w_tag * tag_bonus
        + cfg.w_len * len_score
        + cfg.w_link * (1.0 - link_density)
        - cfg.w_depth * depth_pen
        - cfg.w_boiler * boiler
    )
    scores = np.clip(raw, 0.0, 1.0)
    keep = scores >= cfg.drop_score

    # neighbor smoothing (dilation analog): rescue near-misses between
    # two kept blocks of the same page. One pass, computed on the
    # pre-smoothing mask. Every offset is a page's first block and
    # every offset - 1 a page's last (a page with fewer than 3 blocks
    # has no other), so neither is ever sandwiched; the mask has one
    # spare slot at index k for the offset k and the offset 0 - 1.
    if k >= 3 and cfg.smooth_margin > 0.0:
        near = (~keep) & (scores >= cfg.drop_score - cfg.smooth_margin)
        sandwiched = np.zeros(k + 1, dtype=bool)
        sandwiched[1 : k - 1] = keep[:-2] & keep[2:]
        sandwiched[offs] = False
        sandwiched[offs - 1] = False
        keep = keep | (near & sandwiched[:k])

    # top-K cap (max_candidates analog), only on pages keeping more
    # than K: keep the K highest-scoring, ties broken by document order
    # (stable argsort on -score). K+1-long prefix sums, so a trailing
    # page with no blocks still has a count.
    if np.count_nonzero(keep) > cfg.max_blocks:
        kept_before = np.zeros(k + 1, dtype=np.intp)
        np.cumsum(keep, out=kept_before[1:])
        counts = kept_before[offs[1:]] - kept_before[offs[:-1]]
        for p in np.flatnonzero(counts > cfg.max_blocks):
            lo, hi = offs[p], offs[p + 1]
            kept_idx = lo + np.flatnonzero(keep[lo:hi])
            order = kept_idx[np.argsort(-scores[kept_idx], kind="stable")]
            keep[lo:hi] = False
            keep[order[: cfg.max_blocks]] = True

    return scores, keep
