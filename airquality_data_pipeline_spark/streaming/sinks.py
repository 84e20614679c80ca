"""Upsert sinks for external keyed stores via foreachBatch.

The reference commits to Postgres with
  INSERT ... ON CONFLICT (station_id) DO UPDATE SET col =
  COALESCE(EXCLUDED.col, old.col)                  (app/main.py:633-648)
  INSERT ... ON CONFLICT ... DO UPDATE SET last_observed_at =
  GREATEST(old, EXCLUDED.last_observed_at)         (app/main.py:263-267)

Spark has no native JDBC MERGE, so the idiomatic home is foreachBatch:
the micro-batch arrives as a DataFrame, is collected per partition (the
batch is dimension-sized — stations/cursors, not the fact stream), and
the SAME conflict SQL executes against the target. Exercised here
against SQLite (stdlib, same ON CONFLICT dialect); a deployment swaps
the connection factory for psycopg/JDBC — the SQL is unchanged.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from airquality_data_pipeline_spark.io import local_frame

STATIONS_DDL = """
CREATE TABLE IF NOT EXISTS stations (
  station_id TEXT PRIMARY KEY,
  source TEXT, country TEXT, city TEXT, location_name TEXT,
  lat REAL, lon REAL
)
"""

CURSORS_DDL = """
CREATE TABLE IF NOT EXISTS ingestion_cursors (
  source TEXT, station_id TEXT, pollutant TEXT,
  last_observed_at TEXT,
  PRIMARY KEY (source, station_id, pollutant)
)
"""

# the cursor rows load_cursors returns, as a StructType: no SQL text to parse
CURSOR_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("station_id", "pollutant", "last_observed_at")]
)

# Dialect-parameterized conflict SQL. The canonical target is Postgres
# (the reference's psycopg executemany strings, app/main.py:636-644 and
# :258-268, reproduced verbatim in structure); SQLite is the executable
# stand-in in this environment — same ON CONFLICT dialect, with two
# mechanical substitutions: %s placeholders -> ? and GREATEST -> MAX
# (SQLite's scalar max() is the 2-arg GREATEST analog).
_DIALECTS = {
    "postgres": {"ph": "%s", "greatest": "GREATEST"},
    "sqlite": {"ph": "?", "greatest": "MAX"},
}


def stations_upsert_sql(dialect: str = "sqlite") -> str:
    """K2 COALESCE-merge: never overwrite a non-null value with null.
    Matches reference app/main.py:636-644: on conflict only country,
    city, location_name, lat, lon are updated — source is deliberately
    left as first-written."""
    d = _DIALECTS[dialect]
    ph = ", ".join([d["ph"]] * 7)
    return f"""
INSERT INTO stations (station_id, source, country, city, location_name, lat, lon)
VALUES ({ph})
ON CONFLICT (station_id) DO UPDATE SET
  country       = COALESCE(EXCLUDED.country, stations.country),
  city          = COALESCE(EXCLUDED.city, stations.city),
  location_name = COALESCE(EXCLUDED.location_name, stations.location_name),
  lat           = COALESCE(EXCLUDED.lat, stations.lat),
  lon           = COALESCE(EXCLUDED.lon, stations.lon)
"""


def cursors_upsert_sql(dialect: str = "sqlite") -> str:
    """K3 GREATEST-merge: cursors only ever advance (ISO-8601 text
    compares lexicographically = chronologically). Matches reference
    app/main.py:258-268."""
    d = _DIALECTS[dialect]
    ph = ", ".join([d["ph"]] * 4)
    return f"""
INSERT INTO ingestion_cursors (source, station_id, pollutant, last_observed_at)
VALUES ({ph})
ON CONFLICT (source, station_id, pollutant) DO UPDATE SET
  last_observed_at = {d["greatest"]}(ingestion_cursors.last_observed_at,
                                     EXCLUDED.last_observed_at)
"""


# executable (SQLite) forms used by the foreachBatch sinks below
STATIONS_UPSERT = stations_upsert_sql("sqlite")
CURSORS_UPSERT = cursors_upsert_sql("sqlite")


def upsert_catalog_batch(
    db_path: str, batch: DataFrame, connect: Callable = sqlite3.connect
) -> int:
    """K2: COALESCE-merge one micro-batch of station rows. Returns the
    number of rows applied.

    The collect() is bounded by the STATION DIMENSION (a few thousand
    rows per batch at most — the reference's whole catalog fits in one
    API page), not by measurement volume; that bound is what makes the
    driver-side executemany acceptable here. The deploy shape for an
    unbounded key space is foreachPartition with per-partition JDBC
    connections (each executor upserts its slice)."""
    rows = [
        (r.station_id, r.source, r.country, r.city, r.location_name, r.lat, r.lon)
        for r in batch.select(
            "station_id", "source", "country", "city", "location_name", "lat", "lon"
        ).collect()
    ]
    with connect(db_path) as con:
        con.execute(STATIONS_DDL)
        con.executemany(STATIONS_UPSERT, rows)
    return len(rows)


def commit_cursor_batch(
    db_path: str, updates: DataFrame, source: str,
    connect: Callable = sqlite3.connect,
) -> int:
    """K3: GREATEST-merge pending cursor updates. Call AFTER the payload
    emit succeeds (reference app/main.py:1342-1347).

    The collect() is bounded by |stations| x |pollutants| (the cursor
    key space, dimension-sized), never by measurement volume. For an
    unbounded key space use foreachPartition per-executor upserts."""
    rows = [
        (source, r.station_id, r.pollutant, str(r.last_observed_at))
        for r in updates.select(
            "station_id", "pollutant", "last_observed_at"
        ).collect()
    ]
    with connect(db_path) as con:
        con.execute(CURSORS_DDL)
        con.executemany(CURSORS_UPSERT, rows)
    return len(rows)


def load_cursors(db_path: str, source: str, spark, connect: Callable = sqlite3.connect):
    """S10: cursor-state scan back into a DataFrame for the next cycle."""
    with connect(db_path) as con:
        con.execute(CURSORS_DDL)
        rows = con.execute(
            "SELECT station_id, pollutant, last_observed_at "
            "FROM ingestion_cursors WHERE source = ?",
            (source,),
        ).fetchall()
    return local_frame(spark, rows, CURSOR_SCHEMA)
