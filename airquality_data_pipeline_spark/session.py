"""SparkSession factory.

Local-mode defaults fit the box they run on: local[N] over all cores and a
driver heap of a quarter of physical RAM (the JVM's own default), unless
SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY say otherwise. Every other setting
here is the one you'd also want on a 1000-executor cluster: AQE for
runtime re-planning (skew join, partition coalescing), UTC session
timezone (oracle parity + sanity), Arrow for any Pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airquality_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{max(ram // 4 >> 20, 1024)}m"
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000, cores_per_executor: int = 4
) -> dict[str, str]:
    """Recommended conf for a real multi-executor deployment of this
    engine (the local factory above covers local[N] testing). Pass as
    extra_conf to get_spark or to spark-submit --conf.

    Rationale per key:
      - shuffle.partitions ~ 2-3x total cores; AQE coalesces DOWN from
        here at runtime, so err high — undersized partitions spill.
      - maxPartitionBytes 256m: 100 TB scan => ~400k input splits; fewer,
        larger splits keep the scheduler and shuffle tracking sane.
      - advisoryPartitionSizeInBytes governs AQE's coalesce/skew-split
        target; 128m balances task overhead vs spill risk.
      - autoBroadcastJoinThreshold 64m: dimension tables (stations,
        cursors, query vectors) broadcast; fact-fact joins never do.
      - shuffle spill compression + zstd: shuffle volume dominates at
        this scale.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": "268435456",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "134217728",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            total_cores * 4
        ),
        "spark.sql.autoBroadcastJoinThreshold": "67108864",
        "spark.io.compression.codec": "zstd",
        "spark.shuffle.compress": "true",
        "spark.sql.parquet.compression.codec": "zstd",
    }
