"""Pipeline configuration.

The reference wires its stages from YAML configs + argparse defaults
(tools/infer/utility.py:30-160, configs/det/det_mv3_db.yml). We use one
frozen dataclass: every numeric here is the analog of a reference knob
and is FROZEN once goldens are cut (byte-identity depends on them).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    # drop_score analog (tools/infer/utility.py:104 default 0.5):
    # blocks scoring below this are boilerplate and dropped.
    drop_score: float = 0.5

    # max_candidates analog (ppocr/postprocess/db_postprocess.py:37):
    # hard cap on retained blocks per page (bounds worst-case DOM cost).
    max_blocks: int = 1000

    # poison-page guard: html larger than this is truncated before
    # tokenization (skew defense; no reference analog — the reference's
    # resize caps at operators.py:271-293 play this role for images).
    max_html_bytes: int = 2 * 1024 * 1024

    # neighbor smoothing (use_dilation analog, db_postprocess.py:54-55):
    # a block within `smooth_margin` below drop_score is kept when both
    # its retained neighbors pass.
    smooth_margin: float = 0.15

    # frozen separator joining retained block texts (span-slice invariant
    # in FIXTURES.md depends on it).
    separator: str = "\n\n"

    # scorer weights (frozen; the analog of DBPostProcess thresh/box_thresh
    # at db_postprocess.py:33-36).
    w_tag: float = 0.35
    w_len: float = 0.45
    w_link: float = 0.30
    w_depth: float = 0.20
    w_boiler: float = 0.50
    len_norm: int = 400
    depth_norm: int = 12

    # mojibake repair (the use_angle_cls analog, predict_cls.py:39-122:
    # classify-then-correct, opt-in): detect double-encoded UTF-8 and
    # re-decode before tokenization. Default off — goldens frozen.
    fix_mojibake: bool = False

    # Markdown rendering of the extracted text (the analog of
    # PP-Structure's structure-preserving output — recovered table
    # HTML at ppstructure/predict_system.py:111-117 — applied to the
    # text stream): retained blocks are decorated by tag (headings →
    # '#'*level, li → '- ', blockquote → '> ', pre → fenced) and
    # joined with the frozen separator. Off by default — plain-text
    # goldens stay byte-frozen; spans always slice the UNDECORATED
    # block text (functions/merger.py::md_decorate).
    markdown: bool = False

    # region-score mask (the score_mode analog, db_postprocess.py:
    # 40-43,131-133: "fast" = bbox mean over the whole candidate box,
    # "slow" = mean over the exact polygon): "fast" scores a block's
    # length on its WHOLE text extent; "slow" on the exact non-link
    # content mass (text_len - link_text_len) — the finer mask that
    # excludes the anchor glyphs from the content evidence. Default
    # "fast" — goldens frozen.
    score_mode: str = "fast"

    # RTL segment reversal (the arabic pred_reverse analog,
    # rec_postprocess.py:51-65): off by default — goldens are cut with
    # passthrough. Enable for an 'ar'-tagged subset of pages:
    # extract_pages(ar_pages, ExtractConfig(rtl_reverse=True)).
    rtl_reverse: bool = False

    def __post_init__(self) -> None:
        if not (0.0 <= self.drop_score <= 1.0):
            raise ValueError("drop_score must be in [0,1]")
        if self.max_blocks <= 0 or self.max_html_bytes <= 0:
            raise ValueError("caps must be positive")
        if self.score_mode not in ("fast", "slow"):
            raise ValueError("score_mode must be 'fast' or 'slow'")


DEFAULT_CONFIG = ExtractConfig()


# Tag classes (frozen). The analog of the reference's char-dict lookup
# tables broadcast into decode (ppocr/utils/ppocr_keys_v1.txt via
# rec_postprocess.py:30-49) — here the vocabulary is HTML tags.
SKIP_TAGS = frozenset(
    {"script", "style", "template", "noscript", "head", "svg", "iframe", "object"}
)
# tags that open/close a text block (flush points). Everything else is
# inline and flows through (the analog of inline style tokens stripped at
# ppstructure/predict_system.py:151-162).
BLOCK_TAGS = frozenset(
    {
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
        "blockquote", "pre", "div", "article", "section", "main",
        "aside", "nav", "header", "footer", "figcaption", "summary",
        "dt", "dd", "caption", "tr", "table", "ul", "ol", "dl",
        "figure", "form", "fieldset", "body", "html", "hr", "menu",
    }
)
# ancestry that marks a block as boilerplate-context.
BOILER_TAGS = frozenset({"nav", "footer", "header", "aside", "form", "menu"})

# per-tag content prior (tag_bonus); unlisted tags get DEFAULT_TAG_BONUS.
TAG_BONUS: dict[str, float] = {
    "p": 1.0, "article": 1.0, "blockquote": 1.0, "pre": 1.0,
    "main": 0.9, "h1": 0.8, "h2": 0.8, "h3": 0.8, "h4": 0.8,
    "h5": 0.8, "h6": 0.8, "section": 0.8, "figcaption": 0.6,
    "caption": 0.6, "summary": 0.6, "li": 0.55, "dd": 0.55,
    "dt": 0.55, "td": 0.5, "th": 0.4,
    "nav": 0.1, "footer": 0.1, "header": 0.1, "aside": 0.1,
    "form": 0.1, "menu": 0.1,
}
DEFAULT_TAG_BONUS = 0.5
