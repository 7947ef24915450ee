"""The Iceberg commit path's reachable behaviour without an Iceberg
runtime: the gate, and the resume cross-check of the snapshot log
against the table's snapshot ids."""

import pytest

from webextract.plans.pipeline import (
    JobConfig,
    _check_iceberg_log,
    iceberg_available,
    run_extraction,
    run_extraction_iceberg,
)
from webextract.plans.snapshots import SnapshotLog
from webextract.sources.pages import pages_from_documents

SF = "/root/testdata/sf0.001"


def test_log_from_parquet_path_refuses_iceberg_resume(spark, tmp_path):
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=2, wave_size=2)
    run_extraction(spark, pages_from_documents(spark, SF), cfg)
    log = SnapshotLog(cfg.output_dir)
    assert len(log.entries()) == 1
    with pytest.raises(RuntimeError, match="mixed commit paths"):
        _check_iceberg_log(log, set())


def test_log_snapshot_missing_from_table_refuses_resume(tmp_path):
    log = SnapshotLog(str(tmp_path))
    log.append([0, 1], [], iceberg_snapshot_id=7, urls=3, sec=0.1)
    log.append([2, 3], [], iceberg_snapshot_id=9, urls=4, sec=0.1)
    _check_iceberg_log(log, {7, 9, 11})
    with pytest.raises(RuntimeError, match="table was rewritten"):
        _check_iceberg_log(log, {7, 11})


def test_iceberg_path_without_runtime_raises_and_writes_nothing(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("an Iceberg runtime is on the classpath")
    out = tmp_path / "out"
    cfg = JobConfig(output_dir=str(out), n_buckets=2, wave_size=2)
    with pytest.raises(RuntimeError, match="Iceberg runtime not on the classpath"):
        run_extraction_iceberg(
            spark, pages_from_documents(spark, SF), cfg, "cat.db.pages"
        )
    assert not out.exists()
