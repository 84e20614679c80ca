"""Synthetic measurement generator (S8, reference app/main.py:307-332):
3 fixed stations x random pollutant/value, used when live APIs are off.

Spark-first: spark.range + seeded rand() — fully distributed, no driver
loop; the streaming twin is format('rate') + the same projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import country_from_station

_STATIONS = ("DEBB001", "NL01001", "PL0001A")
_POLLUTANTS = ("pm25", "pm10", "no2", "o3")


def synthetic_measurements(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic batch of canonical measurement records
    (schema: io.MEASUREMENT_SCHEMA), one a minute from 2024-01-01
    00:00. value = round(uniform(5, 55), 2) with seed 42 mirrors
    reference app/main.py:324."""
    stations = F.array(*[F.lit(s) for s in _STATIONS])
    polls = F.array(*[F.lit(p) for p in _POLLUTANTS])
    df = spark.range(n).select(
        F.col("id"),
        F.element_at(stations, (F.col("id") % 3 + 1).cast("int")).alias("station_id"),
        F.element_at(polls, (F.col("id") % 4 + 1).cast("int")).alias("pollutant"),
        F.round(F.rand(42) * 50 + 5, 2).alias("value"),
    )
    return df.select(
        "station_id",
        "pollutant",
        "value",
        F.lit("ug/m3").alias("unit"),
        country_from_station("station_id").alias("country"),
        F.lit(None).cast("string").alias("city"),
        F.lit(None).cast("string").alias("location_name"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.date_format(
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("id").cast("int")),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("timestamp"),
        F.lit("synthetic").alias("source"),
    )
