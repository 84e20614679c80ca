"""One-shot job entry points (SURVEY.md §3.2/§3.3): the reference ships
six single-cycle modules (de/nl/pl x stations/measurements,
README.md:15-23) plus housekeeping, each run by external orchestration.
Here each is a function over frames returning the result frame(s);
perfbench's producer cycle and the tests call them. The cycle's sinks
are `streaming.sinks`: the cursor commit is `commit_cursor_batch` and
the stations upsert `upsert_catalog_batch`.

Live HTTP ingestion is out of scope in this offline environment; the
measurement job takes a bronze frame (from the REST DataSource, a replay
parquet, or the synthetic source) and runs the identical silver plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from airquality_data_pipeline_spark.operators.merge import retention_filter
from airquality_data_pipeline_spark.plans.pipeline import (
    CycleResult,
    silver_measurements,
)


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
    result.pending_cursors with sinks.commit_cursor_batch — the
    reference's commit-after-emit ordering (app/main.py:1342-1347)."""
    return silver_measurements([bronze], stations, cursors)


def housekeeping_job(
    curated: DataFrame, ts_col: str = "observed_at", keep_days: int = 7
) -> DataFrame:
    """Retention housekeeping (app/housekeeping.py:6-26): returns the
    keep-side of the curated table; the caller overwrites the table (or
    drops partitions at scale)."""
    return retention_filter(curated, ts_col, keep_days=keep_days)
