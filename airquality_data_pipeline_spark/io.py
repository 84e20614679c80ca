"""Fixture table loaders + canonical schemas.

Canonical schemas follow the reference's data model (SURVEY.md §1.2-1.4):
  - measurement record built at reference app/main.py:769-783 (DE),
    902-915 (NL), 1139-1153 (PL)
  - station catalog upserted at app/main.py:633-648
  - ingestion cursors DDL at app/main.py:110-117
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one fixture table — columnar, pushdown-capable."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view for spark.sql() use."""
    for name in FIXTURE_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- canonical measurement record (reference app/main.py:769-783) ---------
MEASUREMENT_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("pollutant", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("location_name", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# --- station catalog dimension (reference app/main.py:633-648, §1.3) ------
STATION_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("location_name", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)

# --- ingestion cursor state (reference app/main.py:110-117) ---------------
CURSOR_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("station_id", T.StringType(), False),
        T.StructField("pollutant", T.StringType(), False),
        T.StructField("last_observed_at", T.TimestampType(), False),
    ]
)


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
):
    """PERMISSIVE JSON read split into (good, quarantine) — the
    source-level twin of the cursor path's malformed-row passthrough
    (reference app/main.py:209-237 skips rows it cannot parse but
    keeps the payloads for inspection): well-formed rows parse
    against the explicit schema; malformed lines land verbatim in
    the quarantine frame instead of poisoning the batch (PERMISSIVE)
    or killing the job (FAILFAST).

    Implemented as text-scan + from_json rather than a schema'd
    spark.read.json: Spark raises
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN when a plan
    references only the corrupt column of a raw JSON scan (the
    documented workaround is cache(), unacceptable at scale). With
    from_json the raw line is an ordinary column and both sides
    prune normally from one text scan.

    The corrupt column is declared INSIDE the from_json schema:
    wrong-shape-but-valid JSON (e.g. a top-level array against a
    struct schema) parses to an all-NULL struct, not a NULL struct,
    so struct-nullness alone under-detects — the corrupt column
    catches both that case and unparseable text.
    """
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = spark.read.text(path).select(F.col("value").alias("raw"))
    parsed = raw.select(
        "raw",
        F.from_json(
            "raw",
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ).alias("_p"),
    )
    bad = F.col("_p").isNull() | F.col(f"_p.{corrupt_col}").isNotNull()
    good = parsed.where(~bad).select("_p.*").drop(corrupt_col)
    quarantine = parsed.where(bad).select("raw")
    return good, quarantine
