"""Observation API: pipeline instrumentation metrics collected FROM the
running job itself (no second scan) — the operational counters the
reference logs imperatively per cycle (rows fetched / kept / skipped,
/root/reference/app/main.py logging) expressed as Spark observed
metrics."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table


def test_observed_metrics_match_direct_aggregates(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    obs = Observation("pipeline_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("n_high"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    kept = observed.where(F.col("value") > 50)
    n_kept = kept.count()  # one action drives both the job and the metrics

    m = obs.get
    assert m["n_rows"] == ev.count()
    assert m["n_high"] == n_kept
    direct = ev.agg(F.min("ts"), F.max("ts")).first()
    assert m["min_ts"] == direct[0] and m["max_ts"] == direct[1]


def test_observed_metrics_on_streaming_batch(spark, sf_dir):
    """observe() also instruments streaming micro-batches; check the
    batch-side contract the streaming listener consumes."""
    ev = table(spark, sf_dir, "events")
    obs = Observation()
    _ = ev.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).format("noop").save()
    assert obs.get["n"] == ev.count()
