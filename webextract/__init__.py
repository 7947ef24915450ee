"""webextract — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the staged detect→recognize→postprocess
pipeline of the reference (bLUe1RuI/PaddleOCR, see SURVEY.md) as an
HTML/web-text pipeline over Common-Crawl-style page tables:

  * ``functions/`` — pure, Spark-free stage functions (decode, tokenize,
    score, merge) mirroring the reference's operator library ``ppocr/``
    (ppocr/data/imaug/operators.py, ppocr/postprocess/db_postprocess.py,
    ppocr/postprocess/rec_postprocess.py).
  * ``operators/`` — Spark DataFrame operators (Arrow-batched extraction,
    dedup, similarity, text stats, PDF text and mixed html/pdf dispatch).
  * ``sources/`` — page-table synthesis + parquet/Iceberg-style IO.
  * ``plans/`` — pipeline wiring (salted repartition, lineage side-output,
    checkpoint/resume manifest) mirroring the reference's drivers
    ``tools/infer/predict_system.py``.

Everything here derives from public knowledge only (Apache Spark API and
the reference repo's observable behavior).
"""

__version__ = "0.1.0"

from webextract.api import WebExtractor, WebStructure  # noqa: F401
from webextract.config import ExtractConfig  # noqa: F401
from webextract.functions.extract import extract_page  # noqa: F401
from webextract.operators.extract import (  # noqa: F401
    extract_pages,
    extract_pages_with_lineage,
    salted_repartition,
    split_lineage,
    to_json_lines,
)
from webextract.session import get_spark  # noqa: F401
