"""Schema-on-read parsers for the three national API payload shapes
(SURVEY.md §1.5, §2.1) — the reference's defensive imperative parsing
re-expressed as declarative from_json + coalesce + map_filter plans:

  DE  rows may be positional lists [id, code, name, city, ..., lon@7,
      lat@8] OR dicts {id, name, city, lat, lon}   (app/main.py:384-394)
  PL  Polish/English key fallbacks ("Identyfikator stacji" | "id" |
      "stationId", app/main.py:588) and coordinate keys discovered by
      substring match on "WGS84"                    (app/main.py:596-599)
  NL  station detail carries geometry.coordinates [lon, lat]
                                                    (app/main.py:529-531)

All parsing is permissive: a shape that doesn't match yields nulls, and
candidate extractions merge with coalesce — exactly the reference's
try/fallback chains, but vectorized and codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import coerce_coord


def parse_de_station_rows(df: DataFrame) -> DataFrame:
    """DE catalog rows: positional array OR keyed object, one JSON text
    per row. Both candidate parses run; coalesce picks whichever shape
    matched (from_json is permissive -> null on mismatch).

    The reference's dict branch reads latitude/longitude keys
    (app/main.py:391-394); lat/lon are accepted as lenient aliases. The
    display name falls back to the city when absent (main.py:408:
    ``location_name = name or city``)."""
    as_list = F.from_json(F.col("raw"), "array<string>")
    as_obj = F.from_json(
        F.col("raw"),
        "struct<id:string, name:string, city:string,"
        " latitude:string, longitude:string, lat:string, lon:string>",
    )
    name = F.coalesce(as_obj["name"], F.element_at(as_list, 3))
    city = F.coalesce(as_obj["city"], F.element_at(as_list, 4))
    return df.select(
        F.coalesce(as_obj["id"], F.element_at(as_list, 1)).alias("station_id"),
        F.coalesce(name, city).alias("location_name"),
        city.alias("city"),
        coerce_coord(
            F.coalesce(as_obj["latitude"], as_obj["lat"], F.element_at(as_list, 9))
        ).alias("lat"),
        coerce_coord(
            F.coalesce(as_obj["longitude"], as_obj["lon"], F.element_at(as_list, 8))
        ).alias("lon"),
    ).where(F.col("lat").isNotNull() & F.col("lon").isNotNull())


def _map_value_by_key_substring(m: Column, needle: str) -> Column:
    """First map value whose key contains `needle` — the declarative
    form of the reference's 'find the WGS84 coordinate keys by substring'
    loop (app/main.py:596-599)."""
    filtered = F.map_filter(m, lambda k, _: F.upper(k).contains(needle.upper()))
    # try_element_at: empty map -> null (ANSI element_at would raise)
    return F.try_element_at(F.map_values(filtered), F.lit(1))


def parse_pl_station_rows(df: DataFrame) -> DataFrame:
    """PL catalog rows: Polish/English key fallbacks + WGS84 coordinate
    key discovery over the raw key-value map."""
    m = F.from_json(F.col("raw"), "map<string,string>")
    station_id = F.coalesce(
        m["Identyfikator stacji"], m["id"], m["stationId"]
    )
    name = F.coalesce(m["Nazwa stacji"], m["stationName"], m["name"])
    lat = _map_value_by_key_substring(m, "WGS84 φ")
    lon = _map_value_by_key_substring(m, "WGS84 λ")
    return df.select(
        station_id.alias("station_id"),
        name.alias("location_name"),
        F.coalesce(m["Miejscowość"], m["city"]).alias("city"),
        coerce_coord(F.coalesce(lat, m["gegrLat"], m["lat"])).alias("lat"),
        coerce_coord(F.coalesce(lon, m["gegrLon"], m["lon"])).alias("lon"),
        F.coalesce(m["Typ stacji"], m["stationType"]).alias("station_type"),
    ).where(F.col("station_id").isNotNull())


def parse_nl_station_details(df: DataFrame) -> DataFrame:
    """NL station detail: nested geometry.coordinates = [lon, lat]
    (app/main.py:529-531), municipality as city."""
    s = F.from_json(
        F.col("raw"),
        "struct<number:string, location:string, municipality:string,"
        " geometry:struct<type:string, coordinates:array<double>>>",
    )
    return df.select(
        s["number"].alias("station_id"),
        s["location"].alias("location_name"),
        s["municipality"].alias("city"),
        F.element_at(s["geometry"]["coordinates"], 2).alias("lat"),
        F.element_at(s["geometry"]["coordinates"], 1).alias("lon"),
    ).where(F.col("station_id").isNotNull())


def parse_de_measure_payload(df: DataFrame) -> DataFrame:
    """DE measurements: {ts: [component, scope, value, next_ts, flag]}
    (app/main.py:745-753) — a map explode + positional extraction; null
    values dropped (F1)."""
    m = F.from_json(F.col("raw"), "map<string,array<string>>")
    exploded = df.select(
        F.col("station_id"), F.explode(m).alias("ts", "fields")
    )
    return exploded.select(
        "station_id",
        F.col("ts"),
        F.element_at(F.col("fields"), 1).alias("component_id"),
        F.element_at(F.col("fields"), 3).try_cast("double").alias("value"),
    ).where(F.col("value").isNotNull())
