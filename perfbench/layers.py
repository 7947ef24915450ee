"""Per-layer metrics for ``--trace 1``, measured from outside the
program through its public entry points, on the workload's own inputs.

functions.*        In-process over ``workload.sample``: per page, time
                   decode_html → tokenize_blocks → score_blocks →
                   merge_spans composed exactly as extract_page does,
                   keep the spans (page id, stage, start, end) in memory
                   and reduce them at the end. Every composed result must
                   equal extract_page's. An untraced extract_page call on
                   each page, just before the traced one, is the baseline
                   for ``trace.overhead_pct``.
operators.extract  One extract_pages_with_lineage run for partition skew,
                   then three Spark plans over the workload's parquet,
                   one run each: scan → noop, scan → identity mapInArrow
                   → noop, scan → extract_pages → noop.
plans.pipeline     One run_extraction into a fresh directory, 64 buckets
                   in waves of PIPELINE_WAVE_SIZE; wave times
                   are read back from the committed _manifest/wave-*.json.
                   Its output is gated like the workload's own, and the
                   snapshot log must cover every bucket.
relational ops     Nine registry queries from ``__spark_entry__.queries()``
                   over a seeded documents table, one after another in a
                   fixed order, each timed while its result is collected
                   to the driver and then checked against its DuckDB
                   ``oracle_sql()`` twin. One pass only: a second, warm
                   pass would not fit the run's time limit.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import inputs
from workloads import noop, timed

# the default 64 buckets in one wave, not four: each wave costs 5-15 s
# of Spark jobs on a 4-core host, and a traced run must end within 180 s
PIPELINE_WAVE_SIZE = 64
RESUME_CHECK_REPS = 5
QUERY_DOCS = 200
QUERIES = (
    "bloom_seen", "kv_scan", "url_dedup", "dedup_clusters", "simhash_clusters",
    "bpe_merges", "pagerank", "count_min", "latest_snapshot",
)


class _NullSink:
    """Event sink for counting fastscan bails without building blocks."""

    def starttag(self, tag): pass
    def endtag(self, tag): pass
    def startendtag(self, tag): pass
    def data(self, d): pass


def function_layers(sample: list[bytes]) -> tuple[dict, int, int]:
    from webextract.config import DEFAULT_CONFIG as cfg
    from webextract.functions import (
        decode_html, extract_page, fastscan, merge_spans, score_blocks, tokenize_blocks,
    )
    from webextract.functions.htmlnorm import sniff_charset

    n = len(sample)
    spans: list[tuple[int, str, int, int]] = []
    blocks_total = blocks_kept = bad = untraced_ns = 0
    clock = time.perf_counter_ns
    for pid, raw in enumerate(sample):
        # untraced and traced back to back on each page, so drift and
        # cache state hit both alike
        t0 = clock()
        expected = extract_page(raw, cfg)
        untraced_ns += clock() - t0
        p0 = clock()
        bytes_in = len(raw)
        truncated = bytes_in > cfg.max_html_bytes
        if truncated:
            raw = raw[: cfg.max_html_bytes]
        a = clock()
        html_text = decode_html(raw)
        b = clock()
        blocks = tokenize_blocks(html_text)
        c = clock()
        scores, keep = score_blocks(blocks, cfg)
        d = clock()
        merged = merge_spans(blocks, scores, keep, cfg)
        e = clock()
        merged.update(
            blocks_total=len(blocks["block_id"]), bytes_in=bytes_in, truncated=truncated
        )
        p1 = clock()
        spans += [
            (pid, "page", p0, p1), (pid, "decode", a, b), (pid, "tokenize", b, c),
            (pid, "score", c, d), (pid, "merge", d, e),
        ]
        blocks_total += merged["blocks_total"]
        blocks_kept += merged["blocks_kept"]
        bad += merged != expected

    busy = dict.fromkeys(("page", "decode", "tokenize", "score", "merge"), 0)
    for _, stage, start, end in spans:
        busy[stage] += end - start

    non_utf8 = bails = 0
    ref_ns = 0
    for raw in sample:
        non_utf8 += sniff_charset(raw) not in ("utf-8", "utf-8-bom")
        html_text = decode_html(raw[: cfg.max_html_bytes])
        try:
            fast = fastscan.scan(html_text, _NullSink())
        except Exception:  # the tokenizer takes the reference path then too
            fast = False
        bails += not fast
        t0 = clock()
        tokenize_blocks(html_text, engine="reference")
        ref_ns += clock() - t0

    html_bytes = sum(len(raw) for raw in sample)
    metrics = {
        "htmlnorm.us_per_page": (busy["decode"] / n / 1e3, "us"),
        "htmlnorm.non_utf8_pages": (non_utf8, "count"),
        "tokenizer.us_per_page": (busy["tokenize"] / n / 1e3, "us"),
        "tokenizer.ns_per_byte": (busy["tokenize"] / html_bytes, "ns/B"),
        "tokenizer.blocks_per_page": (blocks_total / n, "count"),
        "fastscan.bail_pages": (bails, "count"),
        "fastscan.fast_path_ratio": ((n - bails) / n, "ratio"),
        "tokenizer.reference_us_per_page": (ref_ns / n / 1e3, "us"),
        "scorer.us_per_page": (busy["score"] / n / 1e3, "us"),
        "scorer.ns_per_block": (busy["score"] / max(blocks_total, 1), "ns"),
        "merger.us_per_page": (busy["merge"] / n / 1e3, "us"),
        "merger.kept_ratio": (blocks_kept / max(blocks_total, 1), "ratio"),
        "extract.us_per_page": (untraced_ns / n / 1e3, "us"),
        "trace.overhead_pct": ((busy["page"] - untraced_ns) / untraced_ns * 100, "%"),
    }
    return metrics, n, bad


def operator_layers(spark, workload, extract_us_per_page: float) -> dict:
    from webextract.operators.extract import (
        extract_pages, extract_pages_with_lineage, split_lineage,
    )

    pages = workload.read_pages(spark).select("url", "html")

    def identity(batches):
        yield from batches

    # the lineage run goes first: it warms the JVM, the Python workers
    # and their webextract import, so each plan below is timed warm once
    _, lineage = split_lineage(extract_pages_with_lineage(pages))
    ms = [r[0] for r in lineage.select("extract_ms").collect()]
    t = {
        "scan": timed(noop, pages),
        "identity": timed(noop, pages.mapInArrow(identity, pages.schema)),
        "extract": timed(noop, extract_pages(pages)),
    }
    udf_s = t["extract"] - t["identity"]
    return {
        "operators.extract.scan_s": (t["scan"], "s"),
        "operators.extract.crossing_s": (t["identity"] - t["scan"], "s"),
        "operators.extract.udf_s": (udf_s, "s"),
        "operators.extract.udf_overhead_us_per_page": (
            udf_s * workload.cores / workload.pages * 1e6 - extract_us_per_page, "us"
        ),
        "operators.extract.partition_skew": (max(ms) / statistics.median(ms), "ratio"),
    }


def pipeline_layer(spark, workload) -> tuple[dict, int, int]:
    from webextract.plans.pipeline import JobConfig, run_extraction
    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(
        output_dir=os.path.join(workload.dir, "pipeline-out"), wave_size=PIPELINE_WAVE_SIZE
    )
    run_s = timed(run_extraction, spark, workload.read_pages(spark), cfg)
    secs = []
    for path in sorted(glob.glob(os.path.join(cfg.output_dir, "_manifest", "wave-*.json"))):
        with open(path) as f:
            secs.append(json.load(f)["sec"])
    n_files = n_bytes = 0
    for top, _dirs, names in os.walk(cfg.output_dir):
        for name in names:
            n_files += name.endswith(".parquet")
            n_bytes += os.path.getsize(os.path.join(top, name))

    log = SnapshotLog(cfg.output_dir)
    resume = []
    for _ in range(RESUME_CHECK_REPS):
        t0 = time.perf_counter()
        covered = log.buckets_as_of() == set(range(cfg.n_buckets))
        resume.append((time.perf_counter() - t0) * 1e3)
    attempted, failed = workload.check(workload.gate_outputs(spark, log.read_as_of(spark)))
    metrics = {
        "pipeline.waves": (len(secs), "count"),
        "pipeline.wave_s": (statistics.median(secs), "s"),
        "pipeline.commit_overhead_s": (run_s - sum(secs), "s"),
        "pipeline.files_written": (n_files, "count"),
        "pipeline.bytes_written_per_html_byte": (n_bytes / workload.html_bytes, "ratio"),
        "snapshots.resume_check_ms": (statistics.median(resume), "ms"),
    }
    return metrics, attempted + 1, failed + (not covered)


def normalize(df):
    """The normalisation ``scripts/check_oracle.py`` applies to both
    sides: columns by name, object columns as str, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(spark_df, oracle_df) -> bool:
    """check_oracle.py's verdict: same columns, rows, numeric dtype
    kinds and exact values."""
    import pandas as pd

    a, b = normalize(spark_df), normalize(oracle_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    numeric = {"i", "u", "f"}
    if any(
        a[c].dtype.kind != b[c].dtype.kind and {a[c].dtype.kind, b[c].dtype.kind} <= numeric
        for c in a.columns
    ):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def query_layer(spark, workload) -> tuple[dict, int, int]:
    import duckdb

    import __spark_entry__

    docs_dir = os.path.join(workload.work, "query-docs")
    path = os.path.join(docs_dir, "documents.parquet")
    inputs.write_documents(path, QUERY_DOCS, workload.seed)
    registry = __spark_entry__.queries()
    sql = __spark_entry__.oracle_sql()

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        oracle = {n: con.sql(sql[n]).df() for n in QUERIES}
    finally:
        con.close()
    metrics, bad = {}, 0
    for n in QUERIES:
        t0 = time.perf_counter()
        result = registry[n](spark, docs_dir).toPandas()
        metrics[f"query.{n}_s"] = (time.perf_counter() - t0, "s")
        bad += not frames_equal(result, oracle[n])
    return metrics, len(QUERIES), bad


def traced_run(spark, workload) -> tuple[dict, int, int]:
    """Every per-layer metric for ``workload``: (metrics, attempted,
    failed), metrics as name → (value, unit)."""
    t0 = time.perf_counter()
    metrics, attempted, failed = function_layers(workload.sample)
    t1 = time.perf_counter()
    metrics.update(
        operator_layers(spark, workload, metrics["extract.us_per_page"][0])
    )
    took = [f"functions={t1 - t0:.1f}", f"operators={time.perf_counter() - t1:.1f}"]
    for layer in (pipeline_layer, query_layer):
        t1 = time.perf_counter()
        m, a, f = layer(spark, workload)
        took.append(f"{layer.__name__.removesuffix('_layer')}={time.perf_counter() - t1:.1f}")
        metrics.update(m)
        attempted += a
        failed += f
    print(f"# traced run {time.perf_counter() - t0:.1f} s ({' '.join(took)})", flush=True)
    return metrics, attempted, failed
