"""SparkSession factory with the engine's frozen defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "webextract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    ``local[N]`` in this sandbox; on a real cluster the same configs
    apply (AQE on, Arrow on, UTC). ``spark.sql.shuffle.partitions``
    defaults to the core count — not 200 — per partition-sizing rule.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else os.cpu_count())
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
