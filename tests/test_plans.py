"""Checkpoint/resume pipeline tests: full run, resume skip, and
idempotent re-run after a simulated mid-job failure."""

import json
import os

import pytest
from pyspark.sql import functions as F

from webextract.plans.pipeline import (
    JobConfig,
    run_extraction,
)
from webextract.plans.snapshots import SnapshotLog
from webextract.sources.pages import pages_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def pages(spark):
    return pages_from_documents(spark, SF)


def test_full_run_then_resume_noop(spark, pages, tmp_path):
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=4)
    stats = run_extraction(spark, pages, cfg)
    assert stats["waves"] == 2
    assert stats["buckets_done"] == 8
    assert stats["urls"] == 500
    out = spark.read.parquet(os.path.join(cfg.output_dir, "extracted"))
    assert out.count() == 500
    assert out.select("url").distinct().count() == 500
    # lineage written alongside
    lin = spark.read.parquet(os.path.join(cfg.output_dir, "lineage"))
    assert lin.agg(F.sum("urls_in")).first()[0] == 500

    # resume: everything manifested → zero new waves
    stats2 = run_extraction(spark, pages, cfg)
    assert stats2["waves"] == 0
    assert stats2["urls"] == 0


def test_resume_processes_only_missing_buckets(spark, pages, tmp_path):
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=8)
    # simulate a prior partial run: pretend buckets 0-5 are committed
    SnapshotLog(cfg.output_dir).append([0, 1, 2, 3, 4, 5], [])
    stats = run_extraction(spark, pages, cfg)
    assert stats["waves"] == 1
    assert SnapshotLog(cfg.output_dir).buckets_as_of() == set(range(8))
    out = spark.read.parquet(os.path.join(cfg.output_dir, "extracted"))
    # only buckets 6,7 were written
    assert set(r["bucket"] for r in out.select("bucket").distinct().collect()) == {6, 7}
    # every written url hashes into those buckets (partition correctness)
    n_bad = out.filter(
        F.pmod(F.xxhash64("url"), F.lit(8)).cast("int") != F.col("bucket")
    ).count()
    assert n_bad == 0


def test_resume_ignores_a_wave_manifest_without_a_snapshot(spark, pages, tmp_path):
    """The snapshot log is the only commit record: a wave manifest
    that no snapshot backs commits nothing, so its buckets are
    processed and the snapshot scan holds the whole corpus."""
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=8)
    os.makedirs(os.path.join(cfg.output_dir, "_manifest"))
    with open(
        os.path.join(cfg.output_dir, "_manifest", "wave-00000.json"), "w"
    ) as f:
        json.dump({"buckets": [0, 1, 2, 3, 4, 5]}, f)
    stats = run_extraction(spark, pages, cfg)
    assert stats["waves"] == 1 and stats["urls"] == 500
    log = SnapshotLog(cfg.output_dir)
    assert log.buckets_as_of() == set(range(8))
    cur = log.read_as_of(spark)
    assert cur.count() == 500
    assert cur.select("url").distinct().count() == 500


def test_rerun_overwrites_unmanifested_bucket(spark, pages, tmp_path):
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=4, wave_size=4)
    run_extraction(spark, pages, cfg)
    # wipe the commit records (simulates dying between the parquet
    # write and the snapshot append — the wave was never committed)
    for d in ("_manifest", "_snapshots"):
        full = os.path.join(cfg.output_dir, d)
        for name in os.listdir(full):
            os.remove(os.path.join(full, name))
    stats = run_extraction(spark, pages, cfg)
    assert stats["waves"] == 1
    out = spark.read.parquet(os.path.join(cfg.output_dir, "extracted"))
    # dynamic partition overwrite → no duplicated urls
    assert out.count() == 500
    assert out.select("url").distinct().count() == 500


# -- snapshot log (Iceberg commit semantics over parquet) -------------------

def test_log_names_files_relative_to_the_table_root(tmp_path, monkeypatch):
    """A file appended through a relative output_dir is stored relative
    to the table root, so the log resolves it from any working
    directory; a file outside the root is refused."""
    work = tmp_path / "work"
    data = work / "rel" / "out" / "extracted" / "bucket=0"
    data.mkdir(parents=True)
    (data / "part-0.parquet").write_bytes(b"PAR1")
    monkeypatch.chdir(work)
    log = SnapshotLog("rel/out")
    log.append([0], ["rel/out/extracted/bucket=0/part-0.parquet"])
    assert log.entries()[0]["files"] == [
        os.path.join("extracted", "bucket=0", "part-0.parquet")
    ]
    with pytest.raises(ValueError, match="outside the table root"):
        log.append([1], ["elsewhere/part-1.parquet"])

    monkeypatch.chdir(tmp_path)
    for reader in (log, SnapshotLog(str(work / "rel" / "out"))):
        files = reader.files_as_of()
        assert files == [str(data / "part-0.parquet")]
        assert all(os.path.isabs(f) and os.path.exists(f) for f in files)


def test_snapshot_append_fsyncs_before_it_renames(tmp_path, monkeypatch):
    """A snapshot record is on disk before the rename makes it visible."""
    calls = []
    fsync, replace = os.fsync, os.replace

    def rec_fsync(fd):
        calls.append("fsync")
        fsync(fd)

    def rec_replace(src, dst):
        calls.append(("replace", os.path.basename(dst)))
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", rec_fsync)
    monkeypatch.setattr(os, "replace", rec_replace)
    rec = SnapshotLog(str(tmp_path / "out")).append([0], [])
    assert calls == [
        "fsync",
        ("replace", f"snap-00000-{rec['snapshot_id']}.json"),
    ]


def test_snapshot_chain_and_time_travel(spark, pages, tmp_path):
    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=4)
    run_extraction(spark, pages, cfg)
    log = SnapshotLog(cfg.output_dir)
    recs = log.validate()
    # one snapshot per wave, parent-chained, seq 0..n
    assert [r["seq"] for r in recs] == [0, 1]
    assert recs[0]["parent_id"] is None
    assert recs[1]["parent_id"] == recs[0]["snapshot_id"]
    assert log.buckets_as_of() == set(range(8))
    # every committed file is recorded and exists
    files = log.files_as_of()
    assert files and all(os.path.exists(f) for f in files)
    # time travel: first snapshot sees only its waves' buckets/urls
    first = log.read_as_of(spark, recs[0]["snapshot_id"])
    cur = log.read_as_of(spark)
    assert 0 < first.count() < cur.count() == 500
    assert cur.select("url").distinct().count() == 500
    # wave manifests mirror the snapshot ids
    mdir = os.path.join(cfg.output_dir, "_manifest")
    ids = {r["snapshot_id"] for r in recs}
    for name in os.listdir(mdir):
        with open(os.path.join(mdir, name)) as f:
            assert json.load(f)["snapshot_id"] in ids


def test_snapshot_resume_appends_to_chain(spark, pages, tmp_path):
    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=4)
    log = SnapshotLog(cfg.output_dir)
    # a prior partial run committed buckets 0-3 as snapshot 0
    run_extraction(
        spark,
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int") < 4),
        JobConfig(output_dir=cfg.output_dir, n_buckets=8, wave_size=4),
    )
    # note: that run manifests ALL 8 buckets as attempted; rebuild a
    # truthful partial state instead: keep only snapshot seq 0
    for name in sorted(os.listdir(log.dir))[1:]:
        os.remove(os.path.join(log.dir, name))
    for name in os.listdir(os.path.join(cfg.output_dir, "_manifest")):
        os.remove(os.path.join(cfg.output_dir, "_manifest", name))
    done_before = log.buckets_as_of()
    assert done_before == set(log.entries()[0]["buckets"])
    stats = run_extraction(spark, pages, cfg)
    # resumed run processes exactly the missing buckets, extending the
    # same parent chain
    assert stats["waves"] == 1
    recs = log.validate()
    assert len(recs) == 2 and recs[1]["parent_id"] == recs[0]["snapshot_id"]
    assert log.buckets_as_of() == set(range(8))


def test_snapshot_corruption_refuses_resume(spark, pages, tmp_path):
    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=4)
    run_extraction(spark, pages, cfg)
    log = SnapshotLog(cfg.output_dir)
    # delete the FIRST snapshot → gap + broken parent chain
    os.remove(os.path.join(log.dir, sorted(os.listdir(log.dir))[0]))
    with pytest.raises(RuntimeError, match="corrupt"):
        run_extraction(spark, pages, cfg)
    with pytest.raises(RuntimeError):
        log.validate()


def test_two_writers_on_one_log_fail_loudly(spark, pages, tmp_path, monkeypatch):
    """The log has a single writer: two appends that read the same head
    both take seq 1, and validate() and resume then refuse, naming the
    second writer rather than a missing file."""
    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=8, wave_size=4)
    first, second = SnapshotLog(cfg.output_dir), SnapshotLog(cfg.output_dir)
    first.append([0], [])
    head = second.entries()  # the state both writers read
    first.append([1], [])
    monkeypatch.setattr(second, "entries", lambda: head)
    second.append([2], [])
    assert sorted(r["seq"] for r in first.entries()) == [0, 1, 1]
    with pytest.raises(RuntimeError, match="seq 1 appears twice.*second writer"):
        first.validate()
    with pytest.raises(RuntimeError, match="seq 1 appears twice"):
        run_extraction(spark, pages, cfg)


def test_snapshot_reader_ignores_uncommitted_files(spark, pages, tmp_path):
    """A file written but never committed is invisible to snapshot
    reads (scan planning comes from the log, not directory listing)."""
    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=4, wave_size=4)
    run_extraction(spark, pages, cfg)
    log = SnapshotLog(cfg.output_dir)
    n = log.read_as_of(spark).count()
    # orphan file appears in the directory but in no snapshot
    stray_dir = os.path.join(cfg.output_dir, "extracted", "bucket=0")
    stray = os.path.join(stray_dir, "part-stray.parquet")
    spark.read.parquet(stray_dir).limit(7).write.mode("overwrite").parquet(
        str(tmp_path / "stray")
    )
    import shutil

    src = next(
        f for f in os.listdir(str(tmp_path / "stray")) if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(str(tmp_path / "stray"), src), stray)
    assert log.read_as_of(spark).count() == n


def test_orphan_detection_and_vacuum(spark, pages, tmp_path):
    """A crashed wave's uncommitted parquet is detected as an orphan
    and vacuumed; committed files and the snapshot log are untouched,
    and the time-travel scan is identical before and after."""
    import shutil

    from webextract.plans.snapshots import SnapshotLog

    cfg = JobConfig(output_dir=str(tmp_path / "out"), n_buckets=4, wave_size=4)
    run_extraction(spark, pages, cfg)
    log = SnapshotLog(cfg.output_dir)
    data_dir = os.path.join(cfg.output_dir, "extracted")
    n = log.read_as_of(spark).count()
    assert log.orphan_files(data_dir) == []

    # plant a crashed-wave leftover
    stray_dir = os.path.join(data_dir, "bucket=1")
    spark.read.parquet(stray_dir).limit(3).write.mode("overwrite").parquet(
        str(tmp_path / "stray2")
    )
    src = next(
        f
        for f in os.listdir(str(tmp_path / "stray2"))
        if f.endswith(".parquet")
    )
    stray = os.path.join(stray_dir, "part-crashed-wave.parquet")
    shutil.copy(os.path.join(str(tmp_path / "stray2"), src), stray)

    assert log.orphan_files(data_dir) == [stray]
    removed = log.remove_orphans(data_dir)
    assert removed == [stray] and not os.path.exists(stray)
    # committed data, chain, and scan all intact
    log.validate()
    assert log.orphan_files(data_dir) == []
    assert log.read_as_of(spark).count() == n


def test_orphan_paths_anchor_to_log_not_cwd(tmp_path, monkeypatch):
    """A log whose snapshots record RELATIVE file paths (written with a
    relative output_dir) must not classify the whole committed table
    as orphans when maintenance runs from a different CWD — and
    remove_orphans must refuse outright if no committed file resolves
    under the data dir."""
    from webextract.plans.snapshots import SnapshotLog

    workdir = tmp_path / "work"
    data = workdir / "rel" / "out" / "extracted" / "bucket=0"
    data.mkdir(parents=True)
    (data / "part-0.parquet").write_bytes(b"PAR1")
    monkeypatch.chdir(workdir)  # write-time CWD: paths recorded relative
    log = SnapshotLog("rel/out")
    log.append([0], ["rel/out/extracted/bucket=0/part-0.parquet"])

    monkeypatch.chdir(tmp_path)  # maintenance runs from a DIFFERENT CWD
    log2 = SnapshotLog(str(workdir / "rel" / "out"))
    data_dir = str(workdir / "rel" / "out" / "extracted")
    assert log2.orphan_files(data_dir) == []  # nothing falsely orphaned
    assert log2.remove_orphans(data_dir) == []
    assert (data / "part-0.parquet").exists()

    # a real orphan next to the committed file is still caught
    (data / "part-crashed.parquet").write_bytes(b"PAR1")
    assert log2.remove_orphans(data_dir) == [
        str(data / "part-crashed.parquet")
    ]

    # guard: a wrong data_dir with parquet in it must refuse, not delete
    decoy = tmp_path / "decoy"
    decoy.mkdir()
    (decoy / "live.parquet").write_bytes(b"PAR1")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="refused"):
        log2.remove_orphans(str(decoy))
    assert (decoy / "live.parquet").exists()


def test_remove_orphans_refuses_empty_log_and_missing_committed(tmp_path):
    """Both mass-deletion guards: an empty log with data present, and
    a committed path that resolves nowhere on disk."""
    import pytest as _pytest

    from webextract.plans.snapshots import SnapshotLog

    data = tmp_path / "out" / "extracted"
    data.mkdir(parents=True)
    (data / "live.parquet").write_bytes(b"PAR1")

    # empty log + data files → refuse
    empty = SnapshotLog(str(tmp_path / "out"))
    with _pytest.raises(RuntimeError, match="log is empty"):
        empty.remove_orphans(str(data))
    assert (data / "live.parquet").exists()

    # a log whose committed path resolves nowhere → refuse
    log = SnapshotLog(str(tmp_path / "out"))
    log.append([0], [str(tmp_path / "out" / "extracted" / "gone.parquet")])
    with _pytest.raises(RuntimeError, match="resolve"):
        log.remove_orphans(str(data))
    assert (data / "live.parquet").exists()
