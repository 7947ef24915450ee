"""Resumable extraction pipeline: bucketed waves + snapshot-log checkpoint.

The production driver (the analog of the reference's CLI batch runner
``tools/infer/predict_system.py:147-270``, which shards statically and
has NO failure recovery) — ours is resumable and idempotent:

 * the corpus is split into ``n_buckets`` url-hash buckets
   (``pmod(xxhash64(url), B)``) — the unit of checkpointing;
 * buckets are processed in WAVES (one Spark job per wave, each wave a
   group of buckets) writing ``output/pages/bucket=K/`` partitions plus
   a lineage partition per wave;
 * a wave COMMITS by appending one snapshot to the SNAPSHOT LOG
   (``plans/snapshots.py`` — atomic append, parent-chained snapshot
   ids, per-snapshot data-file manifest: Iceberg commit semantics,
   executable without the Iceberg jar); a human-readable wave manifest
   (``_manifest/wave-*.json``) mirrors each commit, and nothing reads
   it back to decide what is committed;
 * resume reads the snapshot log ONLY: VALIDATE the chain (gaps /
   broken parents / double-committed buckets raise), skip the buckets
   it commits, reprocess the rest — a bucket that only a wave manifest
   names included. A half-written wave is safely overwritten (dynamic
   partition overwrite) because its snapshot was never appended — and
   snapshot readers (``SnapshotLog.read_as_of``) never see its files
   at all, because scans plan from the log, not directory listing.

When an Iceberg catalog IS on the classpath, the same protocol rides
the real table format: :func:`run_extraction_iceberg` commits each
wave with ``writeTo(...).overwritePartitions()`` (the table must be
partitioned by ``bucket`` — overwrite is what keeps a crashed,
unlogged wave idempotent on rerun) and records Iceberg's OWN snapshot
id in the log (:func:`iceberg_available` gates it). Both entry points
run the one wave loop, :func:`_run_waves`; they differ only in how a
wave's pages are written and how the wave commits.

The checkpoint unit mirrors the reference's resumable training
checkpoints (tools/program.py:218-224, load via tools/train.py:174).
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webextract.config import DEFAULT_CONFIG, ExtractConfig
from webextract.operators.extract import extract_pages_with_lineage, split_lineage
from webextract.plans.snapshots import SnapshotLog, publish_json


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath+config."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Py4JJavaError:
        return False


@dataclass(frozen=True)
class JobConfig:
    output_dir: str
    n_buckets: int = 64          # checkpoint granularity (10^12 scale: ~4096)
    wave_size: int = 16          # buckets per wave = one Spark job
    extract: ExtractConfig = DEFAULT_CONFIG


def _commit_wave(
    cfg: JobConfig, out_pages: str, buckets: list[int], stats: dict
) -> dict:
    """THE wave commit: append one snapshot (atomic) naming the data
    files the wave just wrote, then mirror a human-readable wave
    manifest carrying the snapshot id. A crash before the snapshot
    append leaves the wave uncommitted (rerun + dynamic overwrite); a
    crash after it is a completed commit."""
    files = [
        f
        for b in buckets
        for f in glob.glob(os.path.join(out_pages, f"bucket={b}", "*.parquet"))
    ]
    rec = SnapshotLog(cfg.output_dir).append(buckets, files, **stats)
    publish_json(
        os.path.join(cfg.output_dir, "_manifest", f"wave-{min(buckets):05d}.json"),
        {"buckets": buckets, "snapshot_id": rec["snapshot_id"], **stats},
    )
    return rec


def _bucket_col(cfg: JobConfig):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.n_buckets)).cast("int")


def _run_waves(
    spark: SparkSession,
    pages: DataFrame,
    cfg: JobConfig,
    write_pages: Callable[[DataFrame], None],
    commit: Callable[[list[int], dict], None],
) -> dict:
    """THE wave loop under both entry points: url-hash bucketing, the
    buckets the snapshot log does not commit sliced into waves, one
    extraction job per wave with its lineage side-output.
    ``write_pages`` writes a wave's extracted rows (carrying
    ``bucket``); ``commit`` then records the wave with its
    ``{"urls", "sec"}`` stats. Returns summary stats."""
    done = SnapshotLog(cfg.output_dir).buckets_as_of()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    bucketed = pages.withColumn("bucket", _bucket_col(cfg))
    todo = sorted(set(range(cfg.n_buckets)) - done)
    waves = [
        todo[i : i + cfg.wave_size] for i in range(0, len(todo), cfg.wave_size)
    ]
    out_lineage = os.path.join(cfg.output_dir, "lineage")

    total = {"waves": 0, "buckets_done": len(done), "urls": 0}
    for wave in waves:
        t0 = time.perf_counter()
        # one job: repartition by bucket so each output partition is
        # written by the tasks that own it (no tiny-file explosion)
        wave_pages = bucketed.filter(F.col("bucket").isin(wave))
        uni = extract_pages_with_lineage(
            wave_pages.repartition(len(wave), "bucket").select(
                "url", "html", "bucket"
            ),
            cfg.extract,
        ).persist()
        try:
            extracted, lineage = split_lineage(uni)
            # re-derive the bucket from the url (the UDF consumed it)
            write_pages(extracted.withColumn("bucket", _bucket_col(cfg)))
            n_urls = int(
                lineage.agg(F.sum("urls_in")).first()[0] or 0
            )
            # partitioned by wave + dynamic overwrite: a crash between
            # this write and the commit reruns the wave and OVERWRITES
            # its lineage partition instead of appending a duplicate
            # set (same idempotency rule as the pages side)
            lineage.withColumn(
                "wave_start_bucket", F.lit(min(wave))
            ).write.mode("overwrite").partitionBy("wave_start_bucket").parquet(
                out_lineage
            )
        finally:
            uni.unpersist()
        commit(wave, {"urls": n_urls, "sec": round(time.perf_counter() - t0, 3)})
        total["waves"] += 1
        total["buckets_done"] += len(wave)
        total["urls"] += n_urls
    return total


def run_extraction(
    spark: SparkSession, pages: DataFrame, cfg: JobConfig
) -> dict:
    """Run (or resume) the full extraction over ``pages``.

    Returns summary stats. Safe to re-invoke after any failure: only
    buckets the snapshot log does not commit are (re)processed. Each wave writes
    ``extracted/bucket=K/`` parquet partitions and commits through
    :func:`_commit_wave`.
    """
    out_pages = os.path.join(cfg.output_dir, "extracted")

    def write_pages(extracted: DataFrame) -> None:
        extracted.write.mode("overwrite").partitionBy("bucket").parquet(out_pages)

    def commit(wave: list[int], stats: dict) -> None:
        _commit_wave(cfg, out_pages, wave, stats)

    return _run_waves(spark, pages, cfg, write_pages, commit)


def _check_iceberg_log(log: SnapshotLog, known_ids: set) -> None:
    """Snapshot-validated resume for :func:`run_extraction_iceberg`:
    every committed wave must carry an Iceberg snapshot id, and that
    id must still be in the table history (``known_ids``). A log
    written by :func:`run_extraction`, or a table dropped or rolled
    back under it, raises instead of resuming against missing data."""
    for rec in log.entries():
        if "iceberg_snapshot_id" not in rec:
            raise RuntimeError(
                f"snapshot {rec['seq']} (buckets {rec['buckets']}) was "
                "committed by the parquet path (no iceberg_snapshot_id) — "
                "mixed commit paths in one output_dir; resume with "
                "run_extraction or restart from a clean output_dir"
            )
        if rec["iceberg_snapshot_id"] not in known_ids:
            raise RuntimeError(
                f"snapshot {rec['iceberg_snapshot_id']} in the log is "
                "missing from the table's snapshots — table was rewritten; "
                "restart from a clean output_dir"
            )


def run_extraction_iceberg(
    spark: SparkSession, pages: DataFrame, cfg: JobConfig, table: str
) -> dict:
    """The Iceberg-catalog variant of :func:`run_extraction`: the same
    wave loop (:func:`_run_waves`), lineage side-output and stats
    contract, but each wave writes with
    ``writeTo(table).overwritePartitions()`` — the v2 dynamic-partition
    overwrite, so the ``table`` MUST be partitioned by ``bucket``.
    Overwrite (not append) is what makes a crash between the Iceberg
    commit and the snapshot-log append safe: the rerun REPLACES the
    orphan wave's bucket partitions instead of appending the same rows
    twice. The log records Iceberg's OWN snapshot id, read back from
    ``<table>.snapshots``, and resume cross-checks the log against the
    table history (:func:`_check_iceberg_log`).

    GATED: requires the Iceberg Spark runtime on the classpath
    (:func:`iceberg_available`); without it this raises
    ``RuntimeError`` before touching ``cfg.output_dir``.
    """
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; use run_extraction "
            "(parquet + snapshot log) instead"
        )
    log = SnapshotLog(cfg.output_dir)
    _check_iceberg_log(
        log,
        {
            r["snapshot_id"]
            for r in spark.sql(f"SELECT snapshot_id FROM {table}.snapshots").collect()
        },
    )

    def write_pages(extracted: DataFrame) -> None:
        extracted.writeTo(table).overwritePartitions()

    def commit(wave: list[int], stats: dict) -> None:
        snap = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()[0]
        # Iceberg owns the file manifest; the log keeps its id
        log.append(wave, [], iceberg_snapshot_id=snap, **stats)

    return _run_waves(spark, pages, cfg, write_pages, commit)
