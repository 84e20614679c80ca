"""Fixture table reader + canonical schemas.

`table()` is the one reader of a fixture table, for the query catalog,
the streams (`events_layout()`) and perfbench (`register_views()`).

Canonical schemas follow the reference's data model (SURVEY.md §1.2-1.4):
  - measurement record built at reference app/main.py:769-783 (DE),
    902-915 (NL), 1139-1153 (PL)
  - station catalog upserted at app/main.py:633-648
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
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


# Inferred schemas by path. Without a schema every spark.read.parquet()
# runs a one-task footer job while the plan is being built, which makes
# a catalog builder eager (plan construction must run no Spark job) and
# adds a fixed job to every build. Each entry holds the file's
# (st_mtime_ns, st_size) stamp: a fixture rewritten in place, such as
# the events.ts flip that events_layout() branches on, gets a new stamp
# and is read again, and its entry is overwritten. A local os.stat is
# not a Spark job, so plan build stays job-free.
_SCHEMAS: dict[str, tuple[tuple[int, int], T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # Spark raises its own error
    stamp = (st.st_mtime_ns, st.st_size)
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def events_layout(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """The events fixture as stored, and the column that reads its `ts`
    as a session timestamp — the one place that decides the layout, for
    the batch `table()` and the file-source stream alike.

    events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark
    4 rejects unless read as raw int64 via nanosAsLong) and plain
    timestamp[us]. Branch on what the fixture actually holds:
      * bigint  -> nanos-as-long fixture: floor-convert to a micros
        instant (matches DuckDB's nanos->micros truncation).
      * timestamp / timestamp_ntz -> micros fixture: cast to
        session-local timestamp. The session is UTC (`registry.register`
        pins it for every catalog builder; `session.get_spark` sessions,
        which run the streams, start in it), so the wall clock is
        preserved and matches DuckDB's naive timestamps.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw, F.expr("timestamp_micros(ts div 1000)")
    return raw, F.col("ts").cast("timestamp")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one fixture table, read with its cached schema;
    events come with `ts` as a session timestamp."""
    if name == "events":
        raw, ts = events_layout(spark, sf_dir)
        return raw.withColumn("ts", ts)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view for spark.sql() use, read
    through `table()` and so through its schema cache."""
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
