"""Smoke test of the benchmark itself at a tiny input size. From the
root of a checkout:

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs in both modes; each must print every metric that
BENCHMARK.json names, with its unit, and get every output right. The
benchmark must refuse a directory that holds only itself, and its
Python-built bulk pages must equal ``pages_replicated``'s.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_and_every_output_right(workload, trace):
    proc = bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True  # error_rate == 0
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    env = json.loads(proc.stdout.strip().splitlines()[-2].removeprefix("# env "))
    assert env["cores"] == len(os.sched_getaffinity(0))
    assert env["master"] == f"local[{env['cores']}]"
    assert env["pages"] > 0 and env["html_bytes"] > 0


def test_refuses_a_directory_holding_only_the_benchmark():
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path), os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = bench(WORKLOADS[0], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_bulk_pages_equal_pages_replicated():
    sys.path[:0] = [ROOT, HERE]
    import inputs
    import run

    from pyspark.sql import functions as F

    from webextract.sources.pages import pages_replicated

    work = os.path.join(ROOT, ".bench_work", "smoke-bulk")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT
    spark = run.start_spark(2, work)
    try:
        docs_dir = os.path.join(work, "docs")
        docs = inputs.write_documents(os.path.join(docs_dir, "documents.parquet"), 200, 3)
        ours = inputs.bulk_pages(docs, 2, 3)
        theirs = pages_replicated(spark, docs_dir, 2).select(
            F.regexp_replace("url", r"/r/\d+$", "").alias("base"), "html"
        ).collect()
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    strip = re.compile(r"/r/[^/]+$")
    assert len(ours) == len(theirs) == 400
    assert len({p["url"] for p in ours}) == 400
    assert sorted((strip.sub("", p["url"]), p["html"]) for p in ours) == sorted(
        (r["base"], bytes(r["html"])) for r in theirs
    )
