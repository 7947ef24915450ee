"""Snapshot log: Iceberg-style commit semantics over plain parquet.

The north rule's checkpoint contract is "resumable from checkpoint via
Iceberg snapshot + processed-partition manifest" (reference analog:
resumable training checkpoints, tools/program.py:218-224, loaded at
tools/train.py:174-175). No Iceberg runtime jar can exist in this
sandbox, so this module implements the SAME commit semantics directly,
executably, on the filesystem the pipeline already writes:

 * the log is the ONE commit record: resume, time travel and orphan
   vacuum read it and nothing else;
 * a commit is ONE atomic append of a snapshot record (:func:`publish_json`:
   fsync a tmp file, then ``os.replace``, the primitive Iceberg's
   HadoopCatalog uses for ``version-hint.text``) — readers never see a
   half-commit, and a visible record is already on disk;
 * each snapshot carries a random ``snapshot_id``, its
   ``parent_id``, a monotonically increasing ``seq``, the bucket ids
   it commits, and the DATA FILE LIST those buckets produced (the
   manifest-file role — readers plan scans from the log, not by
   listing directories), each file RELATIVE TO THE TABLE ROOT
   (``output_dir``), so every reader resolves it the same way;
 * the snapshot chain is VALIDATED on resume: sequence gaps, broken
   parent links or a bucket committed twice all raise instead of
   silently resuming from a corrupt log;
 * a table has a SINGLE writer. ``append`` reads the chain's head and
   then publishes ``snap-{seq}-{uuid}.json``, with no lock between the
   two, so a second run appending to the same ``output_dir`` at the
   same time leaves two records with one seq. Nothing is overwritten,
   and the next ``validate()`` raises;
 * time travel: ``read_as_of(spark, snapshot_id)`` reads exactly the
   files committed up to that snapshot.

When an Iceberg catalog IS on the classpath (``iceberg_available``),
``webextract.plans.pipeline.run_extraction_iceberg`` rides the real
table format and records Iceberg's own snapshot ids in this same log —
the protocol is identical, only the commit primitive changes.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def publish_json(path: str, payload: dict) -> None:
    """THE commit-point primitive: write ``payload`` to a tmp file
    beside ``path``, flush and fsync it, then atomically rename it over
    ``path``. A reader sees no record or the whole record, and a
    visible record is already on disk."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class SnapshotLog:
    """Append-only snapshot chain under ``<output_dir>/_snapshots``."""

    def __init__(self, output_dir: str):
        self.root = os.path.abspath(output_dir)
        self.dir = os.path.join(self.root, "_snapshots")

    # -- commit ------------------------------------------------------------

    def append(
        self, buckets: list[int], files: list[str], **stats
    ) -> dict:
        """Commit one snapshot atomically; returns the record. Each of
        ``files`` is stored relative to the table root; a file outside
        the root raises ``ValueError``."""
        root = os.path.realpath(self.root)
        rel = sorted(os.path.relpath(os.path.realpath(f), root) for f in files)
        outside = [f for f in rel if f.split(os.sep)[0] == os.pardir]
        if outside:
            raise ValueError(f"data file {outside[0]!r} lies outside the table root {root!r}")
        recs = self.entries()
        cur = recs[-1] if recs else None
        rec = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": cur["snapshot_id"] if cur else None,
            "seq": (cur["seq"] + 1) if cur else 0,
            "buckets": sorted(buckets),
            "files": rel,
            **stats,
        }
        publish_json(
            os.path.join(self.dir, f"snap-{rec['seq']:05d}-{rec['snapshot_id']}.json"),
            rec,
        )
        return rec

    # -- read --------------------------------------------------------------

    def entries(self) -> list[dict]:
        """All snapshots ordered by sequence number."""
        if not os.path.isdir(self.dir):
            return []
        recs = []
        for name in sorted(os.listdir(self.dir)):
            if name.startswith("snap-") and name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    recs.append(json.load(f))
        return sorted(recs, key=lambda r: r["seq"])

    def validate(self) -> list[dict]:
        """Raise if the chain is corrupt; return the validated entries.

        Checks: contiguous sequence numbers from 0 (a repeated one
        means two writers appended at once), every parent link
        matches the previous snapshot, no bucket committed twice (a
        correct resume skips committed buckets, so a duplicate means
        the log and the data diverged).
        """
        recs = self.entries()
        seen_buckets: set[int] = set()
        prev_id = None
        for i, r in enumerate(recs):
            if r["seq"] < i:
                raise RuntimeError(
                    f"snapshot log corrupt: seq {r['seq']} appears twice "
                    "(a second writer appended concurrently — the log has "
                    "a single writer)"
                )
            if r["seq"] != i:
                raise RuntimeError(
                    f"snapshot log corrupt: seq {r['seq']} at position {i} "
                    "(gap or reorder — restore the missing snapshot file)"
                )
            if r["parent_id"] != prev_id:
                raise RuntimeError(
                    f"snapshot log corrupt: snapshot {r['snapshot_id']} "
                    f"parent {r['parent_id']} != previous {prev_id}"
                )
            dup = seen_buckets & set(r["buckets"])
            if dup:
                raise RuntimeError(
                    f"snapshot log corrupt: buckets {sorted(dup)} committed "
                    "twice (data/log divergence)"
                )
            seen_buckets.update(r["buckets"])
            prev_id = r["snapshot_id"]
        return recs

    # -- derived views -----------------------------------------------------

    def _as_of(self, snapshot_id: str | None) -> list[dict]:
        recs = self.validate()
        if snapshot_id is None:
            return recs
        for i, r in enumerate(recs):
            if r["snapshot_id"] == snapshot_id:
                return recs[: i + 1]
        raise KeyError(f"unknown snapshot_id {snapshot_id!r}")

    def buckets_as_of(self, snapshot_id: str | None = None) -> set[int]:
        return {b for r in self._as_of(snapshot_id) for b in r["buckets"]}

    def files_as_of(self, snapshot_id: str | None = None) -> list[str]:
        """Absolute paths of the files committed up to ``snapshot_id``:
        stored paths joined onto the table root (an older log's absolute
        path joins to itself)."""
        return [
            os.path.join(self.root, f) for r in self._as_of(snapshot_id) for f in r["files"]
        ]

    def read_as_of(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Time-travel scan: exactly the data files committed up to
        ``snapshot_id`` (default: current). Planning comes from the
        log, never from directory listing — half-written files of an
        uncommitted wave are invisible, same as an Iceberg scan."""
        files = self.files_as_of(snapshot_id)
        if not files:
            raise ValueError("no committed snapshots to read")
        return spark.read.parquet(*files)

    # -- maintenance --------------------------------------------------------

    def _orphans(self, data_dir: str) -> tuple[list[str], bool, list[str]]:
        """(committed files, whether any of them is under ``data_dir``,
        the orphans): ``*.parquet`` files under ``data_dir`` that no
        committed snapshot references, as found by one walk."""
        files = self.files_as_of()
        committed = {os.path.realpath(f) for f in files}
        on_disk: dict[str, str] = {}  # realpath -> as-found path
        for top, _dirs, names in os.walk(data_dir):
            for name in names:
                if name.endswith(".parquet"):
                    p = os.path.join(top, name)
                    on_disk[os.path.realpath(p)] = p
        orphans = sorted(p for rp, p in on_disk.items() if rp not in committed)
        return files, not committed.isdisjoint(on_disk), orphans

    def orphan_files(self, data_dir: str) -> list[str]:
        """Data files on disk under ``data_dir`` that NO committed
        snapshot references — the leftovers of a crashed, uncommitted
        wave. Readers never see them anyway (scan planning comes from
        the log, not directory listing); this is the storage-reclaim
        view — the ``remove_orphan_files`` maintenance action of the
        real table format. Only ``*.parquet`` files are considered;
        the snapshot log itself is never a candidate."""
        return self._orphans(data_dir)[2]

    def remove_orphans(self, data_dir: str) -> list[str]:
        """Delete (and return) the orphans. Safe at any point: a file
        is an orphan only if no committed snapshot references it, and
        a wave's files are committed ATOMICALLY after they are fully
        written — so a concurrent wave's in-flight files are the only
        deletable-but-wanted case, which callers rule out by running
        maintenance between waves (exactly Iceberg's contract for
        ``remove_orphan_files``).

        Mass-deletion guards (each raises rather than deleting):
         * an EMPTY log with data files present is indistinguishable
           from a mistyped ``output_dir`` pointing at the wrong table;
         * NOT ONE committed file under ``data_dir`` means the
           data_dir itself is wrong for this log;
         * EVERY committed file must resolve to an existing file —
           one committed path that resolves nowhere means the log
           belongs to another table or the table is already corrupt,
           and the "orphans" may be the live data."""
        files, any_under, orphans = self._orphans(data_dir)
        if orphans and not files:
            raise RuntimeError(
                "remove_orphans refused: the snapshot log is empty but "
                f"{data_dir!r} contains data files — wrong output_dir or "
                "missing log; deleting would destroy a live table"
            )
        if orphans and not any_under:
            raise RuntimeError(
                "remove_orphans refused: no committed file resolves "
                f"under {data_dir!r} — wrong data_dir for this log; "
                "deleting would destroy a live table"
            )
        missing = [f for f in files if not os.path.exists(f)]
        if orphans and missing:
            raise RuntimeError(
                "remove_orphans refused: committed file(s) resolve "
                f"nowhere on disk (e.g. {missing[0]!r}) — path anchoring "
                "is wrong or the table is corrupt; the 'orphans' may be "
                "the live data"
            )
        for p in orphans:
            os.remove(p)
        return orphans
