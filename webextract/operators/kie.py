"""Key-information extraction: definition-list key→value pairing and
list-region item recovery.

The PP-Structure KIE analog. The reference's KIE module labels text
regions as QUESTION/ANSWER (SER — semantic entity recognition) and
links each answer to its question in reading order (RE — relation
extraction): ppstructure/kie/predict_kie_token_ser.py and
predict_kie_token_ser_re.py drive a VI-LayoutXLM model over OCR boxes.
The deterministic web-text graft is the DOM structure that already
encodes the same thing: in a ``<dl>`` definition list, ``<dt>`` IS the
question/key and the ``<dd>``(s) that follow in reading order ARE its
answers/values. SER ⇒ the dt/dd tag itself; RE ⇒ linear reading-order
pairing — the same pairing rule the reference applies to its sorted
text lines. :func:`list_items` applies the same reading-order model to
list regions (the layout model's 'list' box,
ppstructure/predict_system.py:111-117) at item granularity.

Pairing semantics (frozen; linear DOM order, like the reference's
reading-order RE):
 - a non-empty ``dt`` block becomes the CURRENT key;
 - every non-empty ``dd`` block pairs with the current key (so a key
   with several ``dd`` values emits one row per value);
 - a ``dd`` before any ``dt`` has no key and is dropped;
 - a ``dt`` never followed by a ``dd`` emits nothing;
 - ``pair_id`` is the per-page 1-based emission sequence.

Scale shape: ONE ``mapInArrow`` crossing per operator, run by
:func:`webextract.operators.extract.map_page_rows` — extraction's own
page prologue and partition loop, so block order agrees exactly with
the extraction spans; the walk is O(blocks) per page inside the
batch — no shuffle at all, the output is url-partitioned exactly like
its input. Everything downstream (grouping, joins against extraction)
stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.functions.tokenizer import tokenize_blocks
from webextract.operators.extract import map_page_rows

KIE_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)

LIST_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("list_id", T.IntegerType(), False),
        T.StructField("ordinal", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)


def pair_blocks(tags: list[str], texts: list[str]) -> list[tuple[str, str]]:
    """The frozen pairing walk over one page's (tag, text) block
    stream — exposed for property tests."""
    out: list[tuple[str, str]] = []
    key: str | None = None
    for tag, text in zip(tags, texts):
        if not text:
            continue
        if tag == "dt":
            key = text
        elif tag == "dd" and key is not None:
            out.append((key, text))
    return out


def group_list_items(
    tags: list[str], texts: list[str]
) -> list[tuple[int, int, str]]:
    """The frozen list-grouping walk over one page's (tag, text) block
    stream: maximal runs of consecutive non-empty ``li`` blocks form
    one list, broken by any intervening non-li block with TEXT (a
    paragraph, a heading). Container blocks (``ul``/``ol``) carry no
    text of their own and are dropped by the tokenizer, so ADJACENT
    lists merge and NESTED lists flatten into their parent's run —
    the same linear reading-order model as the rest of the engine
    (frozen, stated as such in the oracle). Returns
    (list_id, ordinal, text) triples, both ids 1-based per page.
    Exposed for property tests."""
    out: list[tuple[int, int, str]] = []
    list_id = 0
    ordinal = 0
    in_run = False
    for tag, text in zip(tags, texts):
        if not text:
            continue
        if tag == "li":
            if not in_run:
                list_id += 1
                ordinal = 0
                in_run = True
            ordinal += 1
            out.append((list_id, ordinal, text))
        else:
            in_run = False
    return out


def _pair_rows(html_text: str) -> list[tuple]:
    blocks = tokenize_blocks(html_text)
    pairs = pair_blocks(blocks["tag"], blocks["text"])
    return [(i, k, v) for i, (k, v) in enumerate(pairs, start=1)]


def _list_rows(html_text: str) -> list[tuple]:
    blocks = tokenize_blocks(html_text)
    return group_list_items(blocks["tag"], blocks["text"])


def kie_pairs(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) → (url, pair_id, key, value): every
    definition-list key with each of its reading-order values."""
    return map_page_rows(pages, KIE_PAIRS_SCHEMA, _pair_rows, cfg)


def list_items(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) → (url, list_id, ordinal, text): every
    list item with its list membership and 1-based position — the
    PP-Structure list-REGION recovery at item granularity. Grouping
    semantics: :func:`group_list_items`."""
    return map_page_rows(pages, LIST_ITEMS_SCHEMA, _list_rows, cfg)
