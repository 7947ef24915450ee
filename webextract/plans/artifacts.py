"""Model/artifact registry: named, versioned, checksum-verified
tokenizer artifacts (SURVEY §2 S8 — the reference's model registry).

The reference resolves a model NAME to a cached artifact directory and
only trusts it after the files materialize (``MODEL_URLS`` name→url
resolution, paddleocr.py:66,402-495; ``maybe_download`` cache-or-fetch,
ppocr/utils/network.py:55-75). The webtext pipeline's "models" are the
tokenizer artifacts :func:`~webextract.operators.bpe.bpe_train`
produces — the merge table and the trained vocabulary — and the
registry stores them the way the snapshot log stores table commits:

- layout ``<store>/<name>/v00001/{merges.parquet, vocab.parquet,
  manifest.json}``; the manifest is written LAST via the snapshot
  log's commit primitive (``snapshots.publish_json``: fsync'd tmp file
  + atomic rename), so a crashed save leaves an invisible
  (manifest-less) version directory, never a half-published model;
- the manifest carries order-independent content fingerprints
  (``bit_xor(xxhash64(row))`` — a distributed aggregate, no driver
  collect of the vocabulary) and row counts; :meth:`load_tokenizer`
  recomputes both from the parquet it just read and REFUSES a
  mismatch — the md5-checked download analog, tamper = error, not
  silent acceptance;
- ``version=None`` resolves "latest" (highest published version),
  mirroring the reference's default-model resolution by name alone.

A deployment trains once (``bpe_train`` → ``save_tokenizer``) and
every later crawl tokenizes with ``load_tokenizer`` + ``bpe_apply`` —
the train/apply seam with the artifact handoff made durable.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webextract.plans.snapshots import publish_json

__all__ = ["ModelRegistry", "ArtifactError"]

_VDIR = re.compile(r"^v(\d{5})$")


class ArtifactError(ValueError):
    """Raised on unknown model/version, fingerprint mismatch, or a
    malformed manifest — loading never silently degrades."""


def _fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row_count, order-independent content hash) of ``df`` over
    ``cols``: ``bit_xor`` of per-row ``xxhash64`` on the canonical
    ``:``-joined string. Distributed, one aggregate, no collect; XOR
    is commutative so partitioning/order never changes the value."""
    # hash the columns STRUCTURALLY (xxhash64 over the typed values,
    # not a delimiter-joined string): concat_ws would skip NULLs and
    # make values containing the delimiter ambiguous, letting distinct
    # rows collide — unacceptable in a trust gate
    canon = F.xxhash64(*[F.col(c) for c in cols])
    r = (
        df.select(canon.alias("x"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(x)"), F.lit(0)).alias("fp"),
        )
        .collect()[0]
    )
    return int(r["n"]), int(r["fp"])


MERGE_COLS = ["step", "left_sym", "right_sym", "merged", "pair_cnt"]
VOCAB_COLS = ["syms", "cnt"]

# manifest fields the registry computes itself; caller **meta that
# shadowed one (e.g. version=7) would publish a manifest pointing at a
# directory that does not exist, or a permanently "tampered" model
_RESERVED_KEYS = frozenset(
    {
        "name",
        "version",
        "kind",
        "n_merges",
        "merges_fingerprint",
        "n_vocab",
        "vocab_fingerprint",
    }
)


class ModelRegistry:
    """Named, versioned artifact store rooted at ``store_dir``."""

    def __init__(self, store_dir: str):
        self.store_dir = store_dir

    # -- paths -------------------------------------------------------------

    def _name_dir(self, name: str) -> str:
        # "." and ".." match the charset but resolve OUTSIDE the name
        # directory (store root / its parent) — reject any name without
        # an alphanumeric along with the charset violations
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or not re.search(
            r"[A-Za-z0-9]", name
        ):
            raise ArtifactError(f"invalid model name {name!r}")
        return os.path.join(self.store_dir, name)

    def _version_dirs(self, name: str) -> list[tuple[int, str]]:
        nd = self._name_dir(name)
        if not os.path.isdir(nd):
            return []
        out = []
        for entry in os.listdir(nd):
            m = _VDIR.match(entry)
            if m:
                out.append((int(m.group(1)), os.path.join(nd, entry)))
        return sorted(out)

    def versions(self, name: str) -> list[dict]:
        """Published versions (manifest present), ascending."""
        out = []
        for v, path in self._version_dirs(name):
            mf = os.path.join(path, "manifest.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    out.append(json.load(f))
        return out

    def models(self) -> list[str]:
        """All names with at least one published version."""
        if not os.path.isdir(self.store_dir):
            return []
        return sorted(
            n
            for n in os.listdir(self.store_dir)
            if os.path.isdir(os.path.join(self.store_dir, n))
            and self.versions(n)
        )

    # -- save --------------------------------------------------------------

    def save_tokenizer(
        self, merges: DataFrame, vocab: DataFrame, name: str, **meta
    ) -> dict:
        """Persist one trained tokenizer as the next version of
        ``name``; returns the manifest. The version number skips ANY
        existing ``v*`` directory — including manifest-less leftovers
        of a crashed save — so a partial directory is never written
        into."""
        clash = set(meta) & _RESERVED_KEYS
        if clash:
            raise ArtifactError(
                f"meta keys {sorted(clash)} are reserved manifest fields"
            )
        dirs = self._version_dirs(name)
        version = (dirs[-1][0] + 1) if dirs else 1
        vdir = os.path.join(self._name_dir(name), f"v{version:05d}")
        merges_path = os.path.join(vdir, "merges.parquet")
        vocab_path = os.path.join(vdir, "vocab.parquet")
        merges.select(*MERGE_COLS).write.mode("errorifexists").parquet(
            merges_path
        )
        vocab.select(*VOCAB_COLS).write.mode("errorifexists").parquet(
            vocab_path
        )
        spark = merges.sparkSession
        n_m, fp_m = _fingerprint(
            spark.read.parquet(merges_path), MERGE_COLS
        )
        n_v, fp_v = _fingerprint(spark.read.parquet(vocab_path), VOCAB_COLS)
        manifest = {
            "name": name,
            "version": version,
            "kind": "bpe_tokenizer",
            "n_merges": n_m,
            "merges_fingerprint": fp_m,
            "n_vocab": n_v,
            "vocab_fingerprint": fp_v,
            **meta,
        }
        publish_json(os.path.join(vdir, "manifest.json"), manifest)
        return manifest

    # -- load --------------------------------------------------------------

    def load_tokenizer(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> tuple[DataFrame, DataFrame, dict]:
        """Resolve ``name`` (latest published version unless pinned),
        read both artifacts, recompute fingerprints and counts, and
        REFUSE any mismatch. Returns (merges, vocab, manifest)."""
        published = self.versions(name)
        if not published:
            raise ArtifactError(f"unknown model {name!r}")
        if version is None:
            manifest = published[-1]
        else:
            by_v = {m["version"]: m for m in published}
            if version not in by_v:
                raise ArtifactError(
                    f"model {name!r} has no published version {version}"
                )
            manifest = by_v[version]
        vdir = os.path.join(
            self._name_dir(name), f"v{manifest['version']:05d}"
        )
        merges = spark.read.parquet(os.path.join(vdir, "merges.parquet"))
        vocab = spark.read.parquet(os.path.join(vdir, "vocab.parquet"))
        n_m, fp_m = _fingerprint(merges, MERGE_COLS)
        n_v, fp_v = _fingerprint(vocab, VOCAB_COLS)
        if (n_m, fp_m) != (
            manifest["n_merges"],
            manifest["merges_fingerprint"],
        ) or (n_v, fp_v) != (
            manifest["n_vocab"],
            manifest["vocab_fingerprint"],
        ):
            raise ArtifactError(
                f"fingerprint mismatch for {name!r} "
                f"v{manifest['version']}: artifact does not match its "
                "manifest (tampered or partially written)"
            )
        return merges, vocab, manifest
