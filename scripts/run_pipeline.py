"""spark-submit entry point: the production extraction driver.

The north-rule deployment shape:

    cd /root/repo && python -m zipapp webextract -o /tmp/webextract.zip  # or:
    (cd /root/repo && zip -qr /tmp/webextract_py.zip webextract)
    spark-submit --master local[32] \
        --py-files /tmp/webextract_py.zip \
        scripts/run_pipeline.py \
        --pages /path/to/pages_parquet \
        --output /path/to/out \
        --buckets 64 --wave-size 16

Reads a pages table (url, warc_ts, html, text, lang), runs the
resumable bucketed-wave extraction (webextract.plans.pipeline) and
writes extracted/ + lineage/ + _snapshots/ + _manifest/ under
--output. Re-running after a failure resumes from the snapshot log.
This is the analog of the reference's CLI batch runner
(tools/infer/predict_system.py:147-254) with recovery the reference
lacks.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=16)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("webextract-pipeline")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from webextract.plans.pipeline import JobConfig, run_extraction

    pages = spark.read.parquet(args.pages)
    cfg = JobConfig(
        output_dir=args.output,
        n_buckets=args.buckets,
        wave_size=args.wave_size,
    )
    stats = run_extraction(spark, pages, cfg)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
