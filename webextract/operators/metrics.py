"""Corpus-level evaluation metrics.

``extraction_eval`` is the engine's version of the reference's metric
stack: the pred↔gt equi-join (ppocr/metrics/det_metric.py:24-72 — ours
joins on url instead of matching polygons by IoU), exact-match rate
(rec_metric.py:39-78 ``correct_num/all_num``) and Levenshtein distance
(rec_metric.py:15,51 ``norm_edit_dis``) — all with Spark built-ins
(``F.levenshtein`` is JVM-side), aggregated partial+final like the
reference's ``combine_results`` (det_metric.py:58-69).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extraction_eval(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Join extracted vs golden on url; return one corpus-metrics row:
    (n_urls, n_exact, pass_rate, mean_edit, max_edit).

    Byte-identity is the product gate (pass_rate must be 1.0); the edit
    distance is the diagnostic for *how wrong* a miss is.
    """
    g = golden.select("url", F.col("text").alias("expected"))
    j = extracted.select("url", "text").join(g, "url", "full_outer")
    exact = (F.col("text") == F.col("expected")).cast("int")
    edit = F.levenshtein(
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("expected"), F.lit("")),
    )
    per = j.select(exact.alias("exact"), edit.alias("edit"))
    return per.agg(
        F.count("*").alias("n_urls"),
        F.sum("exact").alias("n_exact"),
        (F.sum("exact").cast("double") / F.count("*").cast("double")).alias(
            "pass_rate"
        ),
        (F.sum("edit").cast("double") / F.count("*").cast("double")).alias(
            "mean_edit"
        ),
        F.max("edit").alias("max_edit"),
    )


def span_eval(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Span-level detection metrics — the det-IoU analog
    (ppocr/metrics/eval_det_iou.py via det_metric.py:24-72, which
    matches pred polygons to gt polygons at IoU ≥ 0.5 and reports
    precision/recall/hmean). Here the geometry is 1-D: a pred span
    matches a gold span on the same url when their interval IoU is
    ≥ 0.5, decided in EXACT integer arithmetic
    (``2·intersection ≥ union`` ⇔ IoU ≥ 1/2 — no float enters the
    match decision, which is what makes the metric restatable in ANSI
    SQL). Counting is any-match (a gold is detected if ≥1 pred
    matches it; a pred is correct if ≥1 gold matches it) — equal to
    the reference's one-to-one greedy matching whenever spans within
    one side are disjoint, which DOM block streams are by
    construction.

    Inputs are (url, start, end) on both sides; returns ONE corpus
    row: (n_gold, n_pred, n_gold_matched, n_pred_matched, prec,
    recall, hmean). prec/recall are each a single IEEE division of
    exact ints; hmean is the same three-op expression on both engines.

    Scale shape: one url equi-join (per-url span counts are bounded by
    page structure, so the fan-out is constant per url), then four
    single-row aggregates cross-joined — nothing else shuffles.
    """
    p = pred.select(
        "url", F.col("start").alias("ps"), F.col("end").alias("pe")
    )
    g = gold.select(
        "url", F.col("start").alias("gs"), F.col("end").alias("ge")
    )
    inter = F.greatest(
        F.lit(0), F.least("pe", "ge") - F.greatest("ps", "gs")
    )
    union = (
        (F.col("pe") - F.col("ps")) + (F.col("ge") - F.col("gs")) - inter
    )
    m = (
        p.join(g, "url")
        .filter((inter > 0) & (2 * inter >= union))
        .localCheckpoint(eager=False)  # feeds both distinct counts
    )
    gm = (
        m.select("url", "gs", "ge").distinct()
        .agg(F.count("*").alias("n_gold_matched"))
    )
    pm = (
        m.select("url", "ps", "pe").distinct()
        .agg(F.count("*").alias("n_pred_matched"))
    )
    ng = g.agg(F.count("*").alias("n_gold"))
    np_ = p.agg(F.count("*").alias("n_pred"))
    prec = F.col("n_pred_matched").cast("double") / F.col("n_pred").cast(
        "double"
    )
    rec = F.col("n_gold_matched").cast("double") / F.col("n_gold").cast(
        "double"
    )
    hmean = F.when(
        (F.col("n_pred_matched") == 0) & (F.col("n_gold_matched") == 0),
        F.lit(0.0),
    ).otherwise(F.lit(2.0) * prec * rec / (prec + rec))
    return (
        ng.crossJoin(np_).crossJoin(gm).crossJoin(pm)
        .select(
            "n_gold",
            "n_pred",
            "n_gold_matched",
            "n_pred_matched",
            prec.alias("prec"),
            rec.alias("recall"),
            hmean.alias("hmean"),
        )
    )


def table_similarity(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """TEDS-lite table-structure similarity — the
    ppocr/metrics/table_metric.py analog, reduced to what
    tree-edit-distance similarity degenerates to on grid-shaped
    tables: per-table Dice over exact (row_id, col_id, cell_text)
    cell matches, ``2·|pred ∩ gold| / (|pred| + |gold|)``, then the
    corpus rollup → ONE row (n_tables, mean_similarity,
    n_perfect). A structure error (wrong grid slot), a text error, a
    missing or hallucinated cell each cost symmetric Dice mass, like
    TEDS costs tree edits.

    Portability: each table's Dice is one IEEE division of exact
    ints; the corpus mean follows the corpus_report pattern —
    DECIMAL(38,6) sum (order-insensitive, exact) divided by the table
    count in one final division.

    Scale shape: both sides shuffle once on (url, table_id) — the
    intersection is an equi-join on the full cell key, per-table
    counts are partial+final aggs, and the final rollup is one row.
    """
    key = ["url", "table_id"]
    cell = key + ["row_id", "col_id", "cell_text"]
    pc = pred.groupBy(key).agg(F.count("*").alias("n_p"))
    gc = gold.groupBy(key).agg(F.count("*").alias("n_g"))
    ic = (
        pred.select(cell)
        .join(gold.select(cell), cell)
        .groupBy(key)
        .agg(F.count("*").alias("n_i"))
    )
    dice = (F.lit(2.0) * F.coalesce(F.col("n_i"), F.lit(0)).cast("double")) / (
        F.coalesce(F.col("n_p"), F.lit(0)) + F.coalesce(F.col("n_g"), F.lit(0))
    ).cast("double")
    per = (
        pc.join(gc, key, "full_outer")
        .join(ic, key, "left")
        .select(dice.alias("dice"))
    )
    return per.agg(
        F.count("*").alias("n_tables"),
        (
            F.sum(F.col("dice").cast("decimal(38,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_similarity"),
        F.sum((F.col("dice") == 1.0).cast("int")).alias("n_perfect"),
    )
