"""Schema-on-read parser tests: each reference fallback path exercised
(positional vs dict rows, PL/EN keys, WGS84 discovery, invalid coords)."""

from __future__ import annotations

from airquality_data_pipeline_spark.sources import parsers


def test_de_rows_both_shapes(spark):
    rows = [
        # positional list shape: lon at index 8, lat at index 9 (1-based)
        ('["DEBB001","code","Mitte","Berlin","x","y","z","13.40","52.50"]',),
        # dict shape
        ('{"id":"DEBW002","name":"Mitte2","city":"Stuttgart","lat":"48.7","lon":"9.1"}',),
        # invalid coords -> dropped
        ('{"id":"DEXX003","name":"Bad","city":"Nowhere","lat":"abc","lon":"9.1"}',),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = {r.station_id: r for r in parsers.parse_de_station_rows(df).collect()}
    assert set(got) == {"DEBB001", "DEBW002"}
    assert got["DEBB001"].lat == 52.5 and got["DEBB001"].lon == 13.4
    assert got["DEBW002"].city == "Stuttgart"


def test_pl_rows_key_fallbacks_and_wgs84_discovery(spark):
    rows = [
        ('{"Identyfikator stacji":"PL0001","Nazwa stacji":"Warszawa-Centrum",'
         '"Miejscowość":"Warszawa","WGS84 φ N":"52.22","WGS84 λ E":"21.01",'
         '"Typ stacji":"automatyczny"}',),
        ('{"id":"PL0002","name":"Krakow","city":"Krakow",'
         '"gegrLat":"50.06","gegrLon":"19.94","stationType":"manual"}',),
        ('{"stationId":"PL0003","stationName":"Lodz"}',),
        ('{"no_id_at_all":"x"}',),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = {r.station_id: r for r in parsers.parse_pl_station_rows(df).collect()}
    assert set(got) == {"PL0001", "PL0002", "PL0003"}
    assert got["PL0001"].lat == 52.22 and got["PL0001"].lon == 21.01
    assert got["PL0001"].station_type == "automatyczny"
    assert got["PL0002"].lat == 50.06
    assert got["PL0003"].lat is None  # no coords anywhere -> null, not error


def test_pl_automatic_station_predicate(spark):
    from airquality_data_pipeline_spark.functions.strings import (
        is_automatic_station,
    )

    rows = [
        ('{"Identyfikator stacji":"PL0001","Typ stacji":"automatyczna"}',),
        ('{"Identyfikator stacji":"PL0002","Typ stacji":"manualna"}',),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = dict(
        parsers.parse_pl_station_rows(df)
        .select("station_id", is_automatic_station("station_type"))
        .collect()
    )
    assert got == {"PL0001": True, "PL0002": False}


def test_nl_detail_geometry(spark):
    rows = [
        ('{"number":"NL01491","location":"Amsterdam-Vondelpark",'
         '"municipality":"Amsterdam",'
         '"geometry":{"type":"Point","coordinates":[4.86,52.36]}}',),
        ('{"location":"no-number"}',),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = parsers.parse_nl_station_details(df).collect()
    assert len(got) == 1
    assert got[0].lat == 52.36 and got[0].lon == 4.86


def test_de_measure_payload(spark):
    rows = [
        ("DEBB001",
         '{"2024-01-01 10:00:00":["5","1","17.3","2024-01-01 11:00:00","0"],'
         '"2024-01-01 11:00:00":["5","1",null,"2024-01-01 12:00:00","0"]}'),
    ]
    df = spark.createDataFrame(rows, "station_id string, raw string")
    got = parsers.parse_de_measure_payload(df).collect()
    assert len(got) == 1  # null value dropped (F1)
    assert got[0].value == 17.3 and got[0].component_id == "5"
