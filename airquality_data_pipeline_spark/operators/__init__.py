"""Reusable dataflow operators re-expressing the reference pipeline's
semantics (SURVEY.md §2) Spark-first, plus the LLM-data-pipeline operator
family (dedup / similarity / text / multimodal) the north star requires."""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame

_FAN_OUT_LOGGED = False


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism, but only while the
    input is too small for the scan to split it across the cores.

    Why (guide §2.5 "input skew"): a compact parquet file is one row
    group, so its scan plans as ONE task, and every CPU-heavy step
    Catalyst fuses into that stage (explodes, md5, decimal casts,
    partial aggregation) runs on one core. Moving a few MB once buys a
    fully parallel first stage.

    The size is Catalyst's own estimate of the analyzed plan (no Spark
    job, no file listing). The rule fires only below one
    filesMaxPartitionBytes split per core; at 100 TB the scan is
    already parallel and this is a no-op. It fails closed: sources
    without statistics (RDD-backed frames, Python data sources) report
    Long.MaxValue, and a join reports the product of its inputs.
    Project and filter BEFORE fanning out so the exchange carries only
    the needed columns (guide §2.3)."""
    global _FAN_OUT_LOGGED
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    if size >= par * split:
        return df
    if not _FAN_OUT_LOGGED:
        # plan shape depends on input size: one stderr line per process
        # makes an environment-dependent explain() divergence attributable
        _FAN_OUT_LOGGED = True
        print(
            f"fan_out: repartition({par}) fires "
            f"({size} bytes < {par} cores x {split} split)",
            file=sys.stderr,
        )
    return df.repartition(par)
