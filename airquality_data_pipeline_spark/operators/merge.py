"""Dimension upsert + retention operators.

  - coalesce_merge: the reference's catalog upsert
    `INSERT ... ON CONFLICT (station_id) DO UPDATE SET col =
    COALESCE(EXCLUDED.col, old.col)` (app/main.py:633-648) — a merge
    that never overwrites a non-null value with null.
  - retention_filter: the housekeeping delete
    `DELETE ... WHERE observed_at < now() - INTERVAL 'N days'`
    (app/housekeeping.py:6-26), expressed as the keep-side filter. At
    100 TB the right physical form is a date-partitioned table where
    retention is a partition drop; the predicate here prunes partitions
    when `ts_col` is (or derives) the partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coalesce_merge(
    target: DataFrame,
    source: DataFrame,
    key: str,
) -> DataFrame:
    """Upsert source into target on `key`; matched rows take
    COALESCE(source.col, target.col) per value column (every target
    column but `key`); unmatched rows from either side carry through
    unchanged."""
    value_cols = [c for c in target.columns if c != key]
    t = target.select(key, *[F.col(c).alias(f"_t_{c}") for c in value_cols])
    s = source.select(key, *[F.col(c).alias(f"_s_{c}") for c in value_cols])
    return t.join(s, key, "full_outer").select(
        key,
        *[
            F.coalesce(F.col(f"_s_{c}"), F.col(f"_t_{c}")).alias(c)
            for c in value_cols
        ],
    )


def retention_filter(
    df: DataFrame,
    ts_col: str,
    keep_days: int = 7,
    reference_time=None,
) -> DataFrame:
    """Keep rows with ts_col >= reference_time - keep_days.

    reference_time=None derives it as max(ts_col) of the data (keeps the
    operator deterministic for testing; production passes now()). The
    one-row aggregate broadcasts — no shuffle of the fact side.
    """
    if reference_time is None:
        bound = df.agg(
            (F.max(ts_col) - F.expr(f"INTERVAL {keep_days} DAYS")).alias("_cutoff")
        )
        return df.crossJoin(F.broadcast(bound)).where(
            F.col(ts_col) >= F.col("_cutoff")
        ).drop("_cutoff")
    return df.where(
        F.col(ts_col)
        >= F.lit(reference_time).cast("timestamp") - F.expr(f"INTERVAL {keep_days} DAYS")
    )
