"""One-shot job entry points (SURVEY.md §3.2/§3.3): the reference ships
six single-cycle modules (de/nl/pl x stations/measurements,
README.md:15-23) plus housekeeping, each run by external orchestration.
Here each is a function over (SparkSession, config) returning the result
frame(s); perfbench's producer cycle and the tests call them.

Live HTTP ingestion is out of scope in this offline environment; the
measurement jobs take a bronze frame (from the REST DataSource, a replay
parquet, or the synthetic source) and run the identical silver plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from airquality_data_pipeline_spark.operators.merge import (
    coalesce_merge,
    retention_filter,
)
from airquality_data_pipeline_spark.plans.pipeline import (
    CycleResult,
    kafka_payload,
    silver_measurements,
)
from airquality_data_pipeline_spark.sources.synthetic import synthetic_measurements


def refresh_catalog_job(
    current: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Stations-catalog refresh (de/nl/pl_stations analog): COALESCE-
    merge incoming rows into the current dimension (K2 semantics —
    nulls never clobber)."""
    return coalesce_merge(current, incoming, key="station_id")


def measurements_job(
    bronze: DataFrame,
    stations: DataFrame,
    cursors: DataFrame,
) -> CycleResult:
    """Single-cycle measurement job (de/nl/pl_measurements analog):
    bronze -> silver -> payload + pending cursors. The bronze is read
    once, here; the payload is materialized and the pending cursors are
    the max ts per key over it. The caller emits
    kafka_payload(result.payload) and, on success, commits
    commit_cursors(cursors, result.pending_cursors) — the reference's
    commit-after-emit ordering (app/main.py:1342-1347)."""
    return silver_measurements([bronze], stations, cursors)


def synthetic_cycle_job(
    spark: SparkSession,
    stations: DataFrame,
    cursors: DataFrame,
    n: int = 100,
) -> tuple[DataFrame, CycleResult]:
    """PIPELINE_LIVE_API=false analog (app/main.py:1336-1338): generate
    a synthetic batch and run the full cycle; returns (wire payload,
    cycle result)."""
    bronze = synthetic_measurements(spark, n=n)
    result = silver_measurements([bronze], stations, cursors)
    return kafka_payload(result.payload), result


def housekeeping_job(
    curated: DataFrame, ts_col: str = "observed_at", keep_days: int = 7
) -> DataFrame:
    """Retention housekeeping (app/housekeeping.py:6-26): returns the
    keep-side of the curated table; the caller overwrites the table (or
    drops partitions at scale)."""
    return retention_filter(curated, ts_col, keep_days=keep_days)
