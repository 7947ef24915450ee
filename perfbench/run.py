"""webextract benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload bulk_small_pages --seed 1 \\
        --seconds 6 --trace 0

The workloads are defined in ``workloads.py``. Each one is a closed
loop: this one driver process submits one Spark job at a time and
waits for it, on ``local[N]`` with N the number of usable cores.

``--trace 0`` prints the end-to-end metrics: the median of the timed
repetitions made in ``--seconds`` seconds, the median of three
set-ups, and the peak worker memory. A set-up starts the session,
generates the inputs and makes one discarded warm-up run. The first
set-up's warm-up run is the correctness gate, which checks every output
of an extraction; the others run the timed plan. ``--trace 1`` starts
the session, generates the inputs and prints the per-layer metrics of
``layers.py`` instead, whose layers check their own outputs.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the environment (cores, versions, seed, input sizes). All
scratch files live under ``.bench_work/`` in the checkout and are
removed on exit; the JVM is stopped and waited for before the result
is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

# a checkout has these; a directory holding only the benchmark does not
REQUIRED = ("webextract/__init__.py", "__spark_entry__.py", "tests/goldens/golden.json")
SETUPS = 3        # set-ups per run; setup_s is their median
MIN_REPS = 3      # timed repetitions per run, even past --seconds


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the smoke test",
    )
    return p.parse_args(argv)


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # one input parquet file = one partition, so the seeded file
        # placement of ``inputs.write_pages`` is the task placement
        "spark.sql.files.openCostInBytes": str(1 << 30),
    }


def start_spark(cores: int, work: str):
    from webextract.session import get_spark

    return get_spark(
        "webextract-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra=session_conf(work),
    )


def stop_jvm() -> None:
    """Stop the session, then the JVM, and wait for it to exit (it
    exits when its stdin closes) and for its Python workers to end."""
    from pyspark import SparkContext

    from procmon import descendants, wait_gone

    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return  # no JVM was launched
    workers = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(workers)


def environment(cores: int, args, workload) -> dict:
    import pyarrow
    import pyspark
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    return {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "cores": cores,
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "python": sys.version.split()[0],
        "pages": workload.pages,
        "html_bytes": workload.html_bytes,
    }


def timed_run(args, workload, cores: int, work: str) -> tuple[dict, int, int]:
    """Three set-ups, then the timed loop: (metrics, attempted, failed)."""
    from procmon import PeakSampler

    setup_times: list[float] = []
    spark = None
    for k in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_spark(cores, work)
        workload.prepare()
        if k == 0:
            # the first set-up pays the JVM launch and is never the
            # median, so its warm-up run is the correctness gate
            attempted, failed = workload.check(workload.gate(spark))
        else:
            workload.run_once(spark)  # the discarded warm-up run
        setup_times.append(time.perf_counter() - t0)
    times: list[float] = []
    with PeakSampler() as mem:
        t_end = time.perf_counter() + args.seconds
        while len(times) < MIN_REPS or time.perf_counter() < t_end:
            times.append(workload.run_once(spark))
    print(
        f"# timed reps={len(times)} run_s={[round(t, 4) for t in times]} "
        f"setups={[round(t, 3) for t in setup_times]}",
        flush=True,
    )
    run_s = statistics.median(times)
    metrics = {
        "pages_per_s": (workload.pages / run_s, "1/s"),
        "html_mb_per_s": (workload.html_bytes / 1e6 / run_s, "MB/s"),
        "run_s": (run_s, "s"),
        "setup_s": (statistics.median(setup_times), "s"),
        "worker_peak_rss_mb": (mem.peak, "MB"),
    }
    return metrics, attempted, failed


def measure(args, root: str, work: str, cores: int) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload](root, work, args.seed, args.size, cores)
    try:
        if args.trace:
            import layers

            # one set-up without a warm-up run: each layer's plans run
            # twice or more, and the layers check what they produce
            spark = start_spark(cores, work)
            workload.prepare()
            metrics, attempted, failed = layers.traced_run(spark, workload)
        else:
            metrics, attempted, failed = timed_run(args, workload, cores, work)
        print(f"# error_rate={failed / attempted} ({failed} of {attempted})", flush=True)
        env = environment(cores, args, workload)
    finally:
        stop_jvm()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return env, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: {root} is not a webextract checkout (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # pinned before the JVM or any temp file exists: scratch stays in
    # the checkout, the workers import this checkout's webextract, and
    # the session gets a numeric core count
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    try:
        env, result = measure(args, root, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there
    print("# env " + json.dumps(env), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
