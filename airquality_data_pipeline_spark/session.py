"""SparkSession factory.

Local-mode defaults fit the box they run on: local[N] over the CPUs the
process may run on and a driver heap of a quarter of physical RAM (the
JVM's own default), unless SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY say
otherwise. Every other setting here is the one you'd also want on a
1000-executor cluster: AQE for runtime re-planning (skew join, partition
coalescing), UTC session timezone (oracle parity + sanity), Arrow for any
Pandas-UDF boundary.

Python workers fork from `worker_daemon` (`spark.python.daemon.module`).
On CPython < 3.13 the stock daemon's workers re-read every zip archive on
`sys.path` in each task (~0.2 CPU-s, ~28,000 directory entries); that
daemon re-reads an archive only when it changed. The workers' PYTHONPATH
(`spark.executorEnv.PYTHONPATH`) holds this package's parent directory, so
they import the daemon and the REST reader whatever the process's cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "airquality_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    # the CPUs this process may run on (taskset, cpusets), not the box's
    cpus = int(env) if env else len(os.sched_getaffinity(0))
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {env!r}")
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
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
