"""Fixture table loaders + canonical schemas.

Canonical schemas follow the reference's data model (SURVEY.md §1.2-1.4):
  - measurement record built at reference app/main.py:769-783 (DE),
    902-915 (NL), 1139-1153 (PL)
  - station catalog upserted at app/main.py:633-648
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one fixture table — columnar, pushdown-capable."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view for spark.sql() use."""
    for name in FIXTURE_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-side rows as a LocalRelation. They go in as an Arrow table,
    whatever the session's Arrow setting: a list of rows would become a
    Python-RDD scan, and every action over it would start Python tasks.
    `schema` is a StructType or DDL; DDL is parsed in the JVM, whose first
    parse sets up the SQL parser (0.3-0.7 s), so a path that runs once per
    process passes a StructType."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    columns = [list(c) for c in zip(*rows)] or [[] for _ in schema.names]
    return spark.createDataFrame(pa.table(columns, schema=to_arrow_schema(schema)), schema)


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
