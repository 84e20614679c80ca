"""SparkSession factory.

Local-mode defaults fit the box they run on: local[N] over the CPUs the
process may run on and a driver heap of a quarter of physical RAM (the
JVM's own default), unless SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY say
otherwise. Every other setting here is the one you'd also want on a
1000-executor cluster: AQE for runtime re-planning (skew join, partition
coalescing), UTC session timezone (oracle parity + sanity), Arrow for any
Pandas-UDF boundary.

Every Python process Spark starts (worker daemons, DataSource planners) gets
`spark.executorEnv.PYTHONPATH`: `_startup/`, whose `sitecustomize` hook takes
Spark's source-only pyspark.zip, py4j zip and spark-core jar off `sys.path`
when the installed pyspark and py4j are their releases (import ~0.7 CPU-s, not
~1.6, and no per-task archive re-read on CPython < 3.13), else re-reads a zip
only when it changed; then the package's parent, so any cwd imports it.
The `lookup_data_sources` planner starts with the JVM's own environment
instead, so when this call launches the JVM the same two directories lead
the driver's PYTHONPATH until the JVM is up (that planner's CPU: 1.4 s ->
0.7 s). The workers then list them twice; `site` drops the repeat.

A fresh JVM's first producer cycle pays no one-time set-up it can skip
(first-use costs on a 4-vCPU VM):
- `spark.sql.icu.caseMappings.enabled=false`: `lower`/`upper` use the JDK's
  case mappings, not ICU4J's. ASCII takes the same fast path either way and
  non-ASCII text maps alike (tests/test_unicode_envelope.py); ICU's set-up
  made the first `lower()` in a JVM take 1.7 s, not 0.2.
- `spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK=1`: the SQL runners (Python
  DataSource reads, pandas UDFs) set it in the worker environment and the
  RDD runner does not, and Spark keeps one worker daemon per environment.
  Set for both, one daemon and one pool of workers serves both.
- No SQL text: the first DDL or SQL text a JVM parses sets up the ANTLR
  parser (0.3-0.7 s), so the ETL path gives schemas as StructTypes and
  interval literals as `timedelta`s.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PKG = os.path.dirname(os.path.abspath(__file__))
_PYTHONPATH = os.pathsep.join([os.path.join(_PKG, "_startup"), os.path.dirname(_PKG)])


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
        .config("spark.executorEnv.PYTHONPATH", _PYTHONPATH)
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    old = os.environ.get("PYTHONPATH")
    if SparkContext._gateway is None:  # this call starts the JVM, in this environment
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [_PYTHONPATH, old]))
    try:
        spark = builder.getOrCreate()
    finally:
        if old is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = old
    spark.sparkContext.setLogLevel("WARN")
    return spark
