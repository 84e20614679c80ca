"""The reference's producer cycle (SURVEY.md §3.1, app/main.py:1213-1354)
as one declarative batch plan:

  per-source bronze frames -> ragged unionByName -> null-value filter ->
  pollutant normalization -> broadcast catalog enrichment (J1) ->
  incremental cursor filter with malformed passthrough (F5/J3) ->
  deterministic first-wins dedup (A4), materialized once -> Kafka-shaped
  JSON payload (K1) and pending cursors (K3), the max over that payload,
  committed only after a successful emit (app/main.py:1342-1347).

Every stage is a stock DataFrame op; Catalyst fuses the filters and
projections into the scans, the catalog and cursor joins broadcast, and
the source is read once per cycle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    POLLUTANTS,
    normalize_pollutant,
)
from airquality_data_pipeline_spark.operators.cursor import incremental_filter
from airquality_data_pipeline_spark.operators.dedup import first_wins_dedup


@dataclass
class CycleResult:
    payload: DataFrame          # deduped canonical records, materialized
    pending_cursors: DataFrame  # max ts per key over payload, commit post-emit


def canonical_union(frames: list[DataFrame]) -> DataFrame:
    """P1: merge heterogeneous per-source frames; missing columns
    null-fill (synthetic/OpenAQ rows lack lat/lon, SURVEY.md §1.2)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def silver_measurements(
    bronze_frames: list[DataFrame],
    stations: DataFrame,
    cursors: DataFrame,
) -> CycleResult:
    """Bronze -> silver: the full cycle minus the sinks, run eagerly."""
    raw = canonical_union(bronze_frames)
    # F1: drop null readings (reference app/main.py:752-753, 1130-1131)
    # F4: normalize + allowlist pollutant codes (app/main.py:1045-1056)
    clean = (
        raw.where(F.col("value").isNotNull())
        .withColumn("pollutant", normalize_pollutant("pollutant"))
        .where(F.col("pollutant").isin(*POLLUTANTS))
    )
    # J1: broadcast station enrichment (app/main.py:651-695 lookup caches)
    dim = F.broadcast(
        stations.select(
            "station_id",
            F.col("city").alias("_cat_city"),
            F.col("location_name").alias("_cat_location_name"),
            F.col("lat").alias("_cat_lat"),
            F.col("lon").alias("_cat_lon"),
        )
    )
    enriched = (
        clean.join(dim, "station_id", "left")
        .withColumn("city", F.coalesce("city", "_cat_city"))
        .withColumn("location_name", F.coalesce("location_name", "_cat_location_name"))
        .withColumn("lat", F.coalesce("lat", "_cat_lat"))
        .withColumn("lon", F.coalesce("lon", "_cat_lon"))
        .drop("_cat_city", "_cat_location_name", "_cat_lat", "_cat_lon")
    )
    # F5/J3: incremental high-watermark filter, malformed rows pass
    fresh, _ = incremental_filter(
        enriched,
        cursors,
        keys=("station_id", "pollutant"),
        ts_col="timestamp",
    )
    # A4: first-wins dedup on the composite key, deterministic order.
    # Cut the lineage here: recomputing it for the emit and the cursor
    # commit would read the live source again, and rows that arrived in
    # between would move a cursor past rows never emitted.
    deduped = first_wins_dedup(
        fresh,
        keys=["station_id", "pollutant", "timestamp"],
        order_by=["source"],
    ).localCheckpoint()
    # K3: pending cursors are the max ts per key over the emitted rows
    pending = (
        deduped.dropna(subset=["station_id", "pollutant", "timestamp"])
        .groupBy("station_id", "pollutant")
        .agg(F.max("timestamp").alias("last_observed_at"))
    )
    return CycleResult(payload=deduped, pending_cursors=pending)


def kafka_payload(df: DataFrame) -> DataFrame:
    """K1: Kafka-shaped JSON frame — key = station_id (keeps one
    station's readings in one partition), value = full record."""
    return df.select(
        F.col("station_id").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )

