"""The benchmark workloads. Each one generates its inputs from the seed
(``prepare``), times one closed-loop repetition per ``run_once`` call
(scan → ``extract_pages`` → noop sink), and checks every output of an
untimed extraction (``gate`` then ``check``).

=================  =====================================================
bulk_small_pages   pages_replicated-shaped pages, ~2.9 KB, all utf-8
heavy_tail_pages   fixture variety matrix + seeded CDATA template pages
=================  =====================================================
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

import inputs

# sizes per --size; "full" is what the benchmark measures
BULK_DOCS = {"full": 2500, "tiny": 500}
BULK_REPLICAS = {"full": 2, "tiny": 2}
HEAVY_REPLICAS = {"full": 16, "tiny": 1}
TRACE_SAMPLE_BULK = 2000       # pages the traced run times in-process
TRACE_SAMPLE_HEAVY_REPLICAS = 4
_REPLICA = re.compile(r"/r/[^/]+$")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


class Workload:
    name = ""
    files_per_core = 2

    def __init__(self, root: str, work: str, seed: int, size: str, cores: int):
        self.root, self.work, self.seed, self.size, self.cores = root, work, seed, size, cores
        self.dir = os.path.join(work, self.name)
        self.pages_dir = os.path.join(self.dir, "pages")
        self.pages = 0
        self.html_bytes = 0
        self.sample: list[bytes] = []

    def _write(self, pages: list[dict]) -> None:
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        inputs.write_pages(pages, self.pages_dir, self.files_per_core * self.cores, self.seed)
        self.pages = len(pages)
        self.html_bytes = sum(len(p["html"]) for p in pages)

    def read_pages(self, spark):
        return spark.read.parquet(self.pages_dir)

    def prepare(self) -> None:
        """Generate and write this workload's inputs."""
        raise NotImplementedError

    def gate_outputs(self, spark, extracted):
        """Run the Spark side of the correctness gate over an extracted
        (url, text, ...) frame; ``check`` compares what it returns."""
        raise NotImplementedError

    def check(self, outputs) -> tuple[int, int]:
        """(outputs attempted, outputs wrong)."""
        raise NotImplementedError

    def gate(self, spark):
        """Extract the pages once more and gather what ``check`` needs."""
        from webextract.operators.extract import extract_pages

        return self.gate_outputs(spark, extract_pages(self.read_pages(spark)))

    def run_once(self, spark) -> float:
        from webextract.operators.extract import extract_pages

        return timed(noop, extract_pages(self.read_pages(spark)))


class BulkSmallPages(Workload):
    name = "bulk_small_pages"

    def prepare(self) -> None:
        self.docs_dir = os.path.join(self.dir, "docs")
        docs = inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"), BULK_DOCS[self.size], self.seed
        )
        pages = inputs.bulk_pages(docs, BULK_REPLICAS[self.size], self.seed)
        self._write(pages)
        self.sample = [p["html"] for p in pages[:TRACE_SAMPLE_BULK]]

    def gate_outputs(self, spark, extracted) -> tuple[int, int]:
        """(rows, rows whose text differs from ``expected_extraction``
        of their url without the replica suffix), in one Spark job."""
        from pyspark.sql import functions as F

        from webextract.sources.pages import expected_extraction

        ext = extracted.select(
            F.regexp_replace("url", _REPLICA.pattern, "").alias("base"), "text"
        )
        exp = expected_extraction(spark, self.docs_dir).select(
            F.col("url").alias("exp_url"), F.col("text").alias("expected")
        )
        bad = F.col("expected").isNull() | (F.col("text") != F.col("expected"))
        row = (
            ext.join(exp, ext.base == exp.exp_url, "left")
            .agg(F.count("*"), F.sum(bad.cast("long")))
            .first()
        )
        return int(row[0]), int(row[1] or 0)

    def check(self, outputs) -> tuple[int, int]:
        n_out, n_bad = outputs
        return self.pages, min(self.pages, n_bad + abs(self.pages - n_out))


class HeavyTailPages(Workload):
    name = "heavy_tail_pages"
    files_per_core = 4

    def prepare(self) -> None:
        pages = inputs.heavy_pages(HEAVY_REPLICAS[self.size], self.seed)
        self._write(pages)
        traced = tuple(f"/r/{k}" for k in range(TRACE_SAMPLE_HEAVY_REPLICAS))
        self.sample = [p["html"] for p in pages if p["url"].endswith(traced)]
        with open(os.path.join(self.root, "tests", "goldens", "golden.json")) as f:
            self.golden_md5 = {
                url: hashlib.md5(g["text"].encode()).hexdigest()
                for url, g in json.load(f).items()
            }

    def gate_outputs(self, spark, extracted) -> list:
        from pyspark.sql import functions as F

        return extracted.select("url", F.md5("text")).collect()

    def check(self, outputs) -> tuple[int, int]:
        got = dict(outputs)
        bad = sum(
            self.golden_md5.get(_REPLICA.sub("", url)) != md5 for url, md5 in got.items()
        )
        return self.pages, min(self.pages, bad + abs(self.pages - len(got)))


WORKLOADS = {w.name: w for w in (BulkSmallPages, HeavyTailPages)}
