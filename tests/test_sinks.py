"""External keyed-store upsert sinks (K2/K3) against real SQLite — the
reference's ON CONFLICT SQL semantics executed end-to-end, including the
full cycle: load cursors -> filter -> emit -> commit -> next cycle."""

from __future__ import annotations

import json
import sqlite3
import tempfile

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from airquality_data_pipeline_spark import io
from airquality_data_pipeline_spark.plans import jobs, pipeline
from airquality_data_pipeline_spark.sources import rest
from airquality_data_pipeline_spark.sources.synthetic import synthetic_measurements
from airquality_data_pipeline_spark.streaming import sinks


def _db() -> str:
    return tempfile.mktemp(suffix=".db", prefix="aq_")


def test_catalog_coalesce_upsert(spark):
    db = _db()
    v1 = spark.createDataFrame(
        [("s1", "de", "DE", "Berlin", "Mitte", 52.5, 13.4)],
        "station_id string, source string, country string, city string, "
        "location_name string, lat double, lon double",
    )
    sinks.upsert_catalog_batch(db, v1)
    # second version nulls city and moves lat: null must NOT clobber
    v2 = spark.createDataFrame(
        [("s1", "de", "DE", None, "Mitte-2", 52.6, 13.4)],
        "station_id string, source string, country string, city string, "
        "location_name string, lat double, lon double",
    )
    sinks.upsert_catalog_batch(db, v2)
    got = sqlite3.connect(db).execute(
        "SELECT city, location_name, lat FROM stations WHERE station_id='s1'"
    ).fetchone()
    assert got == ("Berlin", "Mitte-2", 52.6)


def test_cursor_greatest_commit(spark):
    db = _db()
    u1 = spark.createDataFrame(
        [("s1", "pm25", "2024-01-05T00:00:00Z")],
        "station_id string, pollutant string, last_observed_at string",
    )
    sinks.commit_cursor_batch(db, u1, source="synthetic")
    # replay with an OLDER timestamp: must not move backwards
    u2 = spark.createDataFrame(
        [("s1", "pm25", "2024-01-02T00:00:00Z"), ("s2", "o3", "2024-01-09T00:00:00Z")],
        "station_id string, pollutant string, last_observed_at string",
    )
    sinks.commit_cursor_batch(db, u2, source="synthetic")
    got = dict(
        (f"{r[0]}/{r[1]}", r[2])
        for r in sqlite3.connect(db).execute(
            "SELECT station_id, pollutant, last_observed_at FROM ingestion_cursors"
        )
    )
    assert got["s1/pm25"] == "2024-01-05T00:00:00Z"
    assert got["s2/o3"] == "2024-01-09T00:00:00Z"


def test_two_cycle_roundtrip(spark):
    """Full producer loop across two cycles with the store in between:
    cycle 2 must emit nothing new (same synthetic batch, cursors hold)."""
    db = _db()
    stations = spark.createDataFrame(
        [], "station_id string, source string, country string, city string, "
            "location_name string, lat double, lon double",
    )

    def one_cycle() -> int:
        cursors = sinks.load_cursors(db, "synthetic", spark)
        bronze = synthetic_measurements(spark, n=40)
        result = pipeline.silver_measurements([bronze], stations, cursors)
        emitted = result.payload.count()  # the "emit" action
        sinks.commit_cursor_batch(db, result.pending_cursors, source="synthetic")
        return emitted

    first = one_cycle()
    second = one_cycle()
    assert first > 0
    assert second == 0  # everything already covered by committed cursors


PAGES, PAGE_ROWS = 8, 4


def _logging_transport(log: str, grow: bool):
    """Replay transport over PAGES pages that appends one line per call to
    `log`: its calls run in Spark's Python workers, so a file is the
    counter. With grow, every read of a page after its first also serves
    a row newer than any before, as a live API would."""
    rows = [
        {"station_id": f"NL{p:02d}", "pollutant": ("pm25", "no2")[j % 2],
         "value": float(p + j), "timestamp": f"2024-03-01T{j:02d}:00:00Z"}
        for p in range(PAGES) for j in range(PAGE_ROWS)
    ]
    served = rest.fake_transport_from_rows(rows, page_size=PAGE_ROWS)

    def transport(url, params):
        page = str(params["page"])
        with open(log, "a+") as f:
            f.seek(0)
            seen = f.read().split().count(page)
            f.write(page + "\n")
        body = served(url, params)
        if grow and seen:
            newer = f"2024-03-02T00:{seen:02d}:00Z"
            body["data"].append(dict(body["data"][0], timestamp=newer))
        return body

    return transport


def _feed(spark, source: str, transport, **options):
    """One country's replay feed through the REST source."""
    spark.dataSource.register(rest.RestMeasurementsSource)
    return (
        spark.read.format("rest_measurements")
        .option("transport_pickle", rest.transport_option(transport))
        .option("base_url", f"replay://{source}")
        .option("max_pages", str(PAGES))
        .option("num_shards", "2")
        .options(**options)
        .load()
        .withColumn("source", F.lit(source))
    )


def _bronze(spark, *feeds):
    return pipeline.canonical_union(
        [spark.createDataFrame([], io.MEASUREMENT_SCHEMA), *feeds]
    )


def _committed(db: str) -> dict[tuple[str, str], str]:
    return {
        (s, p): ts for s, p, ts in sqlite3.connect(db).execute(
            "SELECT station_id, pollutant, last_observed_at FROM ingestion_cursors"
        )
    }


def _rest_cycle(spark, tmp_path, grow: bool = False):
    """One producer cycle over the REST source: emit the payload to a
    parquet sink, then commit the cursors. Returns the transport calls
    after the emit and after the commit, the committed cursors and the
    max timestamp per key over the written payload."""
    log, db, sink = (str(tmp_path / n) for n in ("calls.log", "state.db", "sink"))
    open(log, "w").close()
    bronze = _bronze(spark, _feed(spark, "nl", _logging_transport(log, grow)))
    result = jobs.measurements_job(
        bronze, spark.createDataFrame([], io.STATION_SCHEMA),
        sinks.load_cursors(db, "nl", spark),
    )
    pipeline.kafka_payload(result.payload).write.parquet(sink)
    calls_after_emit = len(open(log).read().split())
    sinks.commit_cursor_batch(db, result.pending_cursors, source="nl")
    calls_after_commit = len(open(log).read().split())

    emitted: dict[tuple[str, str], str] = {}
    for r in spark.read.parquet(sink).collect():
        m = json.loads(r.value)
        key = (m["station_id"], m["pollutant"])
        emitted[key] = max(emitted.get(key, ""), m["timestamp"])
    return calls_after_emit, calls_after_commit, _committed(db), emitted


def test_cycle_reads_each_page_once(spark, tmp_path):
    """The emit and the cursor commit share one read of the source: the
    transport serves each page once per cycle, as the reference's poll
    does (app/main.py:1213-1354)."""
    after_emit, after_commit, _, _ = _rest_cycle(spark, tmp_path)
    assert after_emit == PAGES
    assert after_commit == PAGES


def test_committed_cursors_are_max_over_emitted_rows(spark, tmp_path):
    """Commit-after-emit (reference app/main.py:1342-1347): with a source
    whose rows change between reads, the committed cursor of every key is
    the newest emitted row, never a row the emit did not send."""
    _, _, committed, emitted = _rest_cycle(spark, tmp_path, grow=True)
    assert len(emitted) == 2 * PAGES
    assert committed == emitted


def test_throttled_feed_fails_the_cycle_before_any_write(spark, tmp_path):
    """A feed whose every request is throttled fails the whole cycle at
    the silver plan's action: the healthy feed beside it is not emitted
    either, no sink is written and no cursor moves, so the next cycle
    starts from the last commit. (Errors-as-rows, ROADMAP item 2, is to
    emit the healthy feed instead.)"""
    _, _, first, _ = _rest_cycle(spark, tmp_path)
    db, sink = str(tmp_path / "state.db"), tmp_path / "sink2"

    def throttled(url, params):
        raise rest.RateLimited("429")

    bronze = _bronze(
        spark,
        _feed(spark, "nl", _logging_transport(str(tmp_path / "calls2.log"), False)),
        _feed(spark, "de", throttled, max_retries="0"),
    )
    with pytest.raises(PythonException, match="RateLimited"):
        result = jobs.measurements_job(
            bronze, spark.createDataFrame([], io.STATION_SCHEMA),
            sinks.load_cursors(db, "nl", spark),
        )
        pipeline.kafka_payload(result.payload).write.parquet(str(sink))
        sinks.commit_cursor_batch(db, result.pending_cursors, source="nl")
    assert first and _committed(db) == first
    assert not sink.exists()


def test_postgres_dialect_sql_text():
    """Pin the EXACT Postgres SQL a deployment would execute (the
    reference's psycopg strings, app/main.py:636-644 / :258-268): psycopg
    %s placeholders, GREATEST (not SQLite MAX), same conflict targets,
    and source deliberately absent from the stations update set."""
    pg_stations = sinks.stations_upsert_sql("postgres")
    assert "VALUES (%s, %s, %s, %s, %s, %s, %s)" in pg_stations
    assert "ON CONFLICT (station_id) DO UPDATE SET" in pg_stations
    for col in ("country", "city", "location_name", "lat", "lon"):
        assert f"{col}" in pg_stations and f"EXCLUDED.{col}" in pg_stations
    assert "EXCLUDED.source" not in pg_stations  # ref leaves source as-is

    pg_cursors = sinks.cursors_upsert_sql("postgres")
    assert "VALUES (%s, %s, %s, %s)" in pg_cursors
    assert "ON CONFLICT (source, station_id, pollutant) DO UPDATE SET" in pg_cursors
    assert "GREATEST(ingestion_cursors.last_observed_at" in pg_cursors
    assert "MAX(" not in pg_cursors

    # the executable SQLite twins differ ONLY by the two mechanical
    # substitutions — proving the tested path runs the reference SQL
    assert sinks.stations_upsert_sql("sqlite") == pg_stations.replace("%s", "?")
    assert sinks.cursors_upsert_sql("sqlite") == pg_cursors.replace(
        "%s", "?"
    ).replace("GREATEST", "MAX")
