"""Shared registry: query name -> builder, query name -> oracle SQL.

The driver contract (/root/repo/__spark_entry__.py) exposes these via
queries() / oracle_sql(). Builders take (spark, sf_dir) and return a
DataFrame; oracle SQL is ANSI SQL DuckDB can run against the same parquet
tables registered as views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a builder (and optionally its oracle SQL) to the
    catalog. oracle=None => driver runs the weaker rows-only check.
    The oracle is stored as written.

    The registered builder also owns the session time zone: it sets
    spark.sql.session.timeZone to UTC, then calls `fn`. Casts to and
    from timestamp, date_trunc, hour() and window() read the session
    zone when the plan is analyzed, and the oracles compute over naive
    timestamps, i.e. in UTC. A `__spark_entry__` caller brings its own
    session, in any zone, so `session.get_spark` cannot pin it; pinned
    here, no builder can forget it, and none relies on an earlier query
    having left the session in UTC."""

    def deco(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        QUERIES[name] = build
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
