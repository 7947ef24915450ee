"""Two-cluster-size scaling protocol (BASELINE.md): run the IDENTICAL
extraction job at local[N] and local[4N] on the same input and report
throughput at both plus efficiency = thr(4N) / (4 * thr(N)).

This is the sandbox stand-in for N vs 4N executors (a local[k] master
is fixed per JVM, so each level runs in its own python subprocess) and
mirrors the reference's sp-vs-mp benchmark protocol
(benchmark/readme.md:15, skip-warmup rule run_benchmark_det.sh:16).

Usage: python scripts/scaling_bench.py [sf_dir] [N] [replicas] [rounds]
Writes scaling JSON to stdout (last line) for BENCH/BASELINE.md.

With ``rounds`` > 1 the two levels run INTERLEAVED (N, 4N, N, 4N, …)
so both sample the same host weather: a load swing that lands between
the N and 4N phases of a sequential run fabricates (or destroys)
efficiency, which is exactly what the r2/r3 run history shows — the
N-level spread alone was 1.7×. Reported: efficiency from the min
wall time per level across rounds (each level's least-contended
measurement) AND the median of the per-round time-adjacent pairings.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_GEN = r"""
import sys
sys.path.insert(0, "/root/repo")
from webextract.session import get_spark
from webextract.sources.pages import pages_replicated

sf_dir, replicas, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark("pages-gen", master="local[32]")
# 64 output files -> any parallelism level up to 64 gets full splits,
# mirroring a real many-file crawl table
pages_replicated(spark, sf_dir, replicas, partitions=64) \
    .write.mode("overwrite").parquet(out)
spark.stop()
"""

# The measured job is the production shape: parquet scan -> one
# mapInArrow extraction stage -> sink. No synthesis in the timed path.
_WORKER = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from webextract.session import get_spark
from webextract.operators.extract import extract_pages

pages_path, cpus = sys.argv[1], int(sys.argv[2])
batch = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
runs = int(sys.argv[4]) if len(sys.argv) > 4 else 2
spark = get_spark("scaling-bench", master=f"local[{cpus}]",
                  shuffle_partitions=cpus,
                  extra={"spark.sql.execution.arrow.maxRecordsPerBatch":
                         str(batch)})
pages = spark.read.parquet(pages_path)
n = pages.count()

def run():
    t0 = time.perf_counter()
    extract_pages(pages).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0

run()                             # warm-up, discarded
secs = min(run() for _ in range(runs))
print(json.dumps({"cpus": cpus, "pages": n, "sec": secs,
                  "pages_per_sec": n / secs, "arrow_batch": batch}))
spark.stop()
"""


def run_level(
    pages_path: str, cpus: int, batch: int = 1024, runs: int = 2
) -> dict:
    """One cluster size = one pinned core budget: the whole JVM + its
    python workers share exactly ``cpus`` cores (taskset), exactly as an
    N-core cluster would. Without pinning, the small config borrows the
    idle cores for its JVM scan/Arrow threads and the comparison is not
    N vs 4N."""
    cmd = [sys.executable, "-c", _WORKER, pages_path, str(cpus),
           str(batch), str(runs)]
    total = os.cpu_count() or cpus
    if cpus < total:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


# Host-ceiling reference: the SAME extraction workload as a raw
# multiprocessing pool under the same pinned core budget. On one box,
# N -> 4N shares DRAM bandwidth and clocks (a real 4x-machines cluster
# quadruples those too), so this measures the hardware's attainable
# scaling; the engine's efficiency is reported raw AND relative to it.
_CEILING = r"""
import glob, json, sys, time, multiprocessing as mp
sys.path.insert(0, "/root/repo")

pages_path, procs = sys.argv[1], int(sys.argv[2])

def work(files):
    # each worker reads its own parquet split (no pickle of html bytes)
    import duckdb
    from webextract.functions.extract import extract_page
    from webextract.config import DEFAULT_CONFIG
    htmls = []
    for f in files:
        htmls.extend(r[0] for r in duckdb.sql(
            f"SELECT html FROM '{f}'").fetchall())
    t0 = time.perf_counter()
    for h in htmls:
        extract_page(h, DEFAULT_CONFIG)
    return (len(htmls), time.perf_counter() - t0)

if __name__ == "__main__":
    files = sorted(glob.glob(f"{pages_path}/*.parquet"))
    chunks = [files[i::procs] for i in range(procs)]
    with mp.Pool(procs) as p:
        stats = p.map(work, chunks)
    n = sum(s[0] for s in stats)
    wall = max(s[1] for s in stats)   # extraction-only time, slowest worker
    print(json.dumps({"procs": procs, "sec": wall, "pages_per_sec": n / wall}))
"""


def run_ceiling(pages_path: str, procs: int) -> dict:
    cmd = [sys.executable, "-c", _CEILING, pages_path, str(procs)]
    total = os.cpu_count() or procs
    if procs < total:
        cmd = ["taskset", "-c", f"0-{procs - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    pages_path = os.environ.get("WEBEXTRACT_BENCH_PAGES", "/tmp/webextract_bench_pages")
    subprocess.run(
        [sys.executable, "-c", _GEN, sf_dir, str(replicas), pages_path],
        capture_output=True, text=True, check=True,
    )
    per_round_runs = 2 if rounds == 1 else 1
    los, his = [], []
    for _ in range(rounds):
        los.append(run_level(pages_path, n, runs=per_round_runs))
        his.append(run_level(pages_path, 4 * n, runs=per_round_runs))
    lo = min(los, key=lambda r: r["sec"])
    hi = min(his, key=lambda r: r["sec"])
    eff = hi["pages_per_sec"] / (4 * lo["pages_per_sec"])
    paired = sorted(
        h["pages_per_sec"] / (4 * l["pages_per_sec"])
        for l, h in zip(los, his)
    )
    median_paired = paired[len(paired) // 2] if len(paired) % 2 else (
        (paired[len(paired) // 2 - 1] + paired[len(paired) // 2]) / 2
    )
    c_lo = run_ceiling(pages_path, n)
    c_hi = run_ceiling(pages_path, 4 * n)
    ceiling = c_hi["pages_per_sec"] / (4 * c_lo["pages_per_sec"])
    result = {
        "sf_dir": sf_dir,
        "pages": lo["pages"],
        "n_cpus": n,
        "rounds": rounds,
        "throughput_N": round(lo["pages_per_sec"], 1),
        "throughput_4N": round(hi["pages_per_sec"], 1),
        "sec_N": round(lo["sec"], 2),
        "sec_4N": round(hi["sec"], 2),
        "throughput_N_all": [round(r["pages_per_sec"], 1) for r in los],
        "throughput_4N_all": [round(r["pages_per_sec"], 1) for r in his],
        "scaling_efficiency": round(eff, 3),
        "paired_efficiency_median": round(median_paired, 3),
        "host_ceiling_throughput_N": round(c_lo["pages_per_sec"], 1),
        "host_ceiling_throughput_4N": round(c_hi["pages_per_sec"], 1),
        "host_ceiling_efficiency": round(ceiling, 3),
        "efficiency_vs_host_ceiling": round(eff / ceiling, 3) if ceiling else None,
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
