"""DST-boundary semantics (SURVEY.md §7.4 hard part): the reference
interprets naive local timestamps in Europe/Berlin / Europe/Warsaw
(app/main.py:184-206). Pin cross-engine behavior at the 2024 DST
transitions:

  - normal + NONEXISTENT (spring-forward gap) times: Spark
    to_utc_timestamp and DuckDB timezone() agree (both shift the gap
    forward).
  - AMBIGUOUS (fall-back) times DIVERGE: Spark resolves to the EARLIER
    offset (summer, +2), DuckDB to the LATER (winter, +1). Oracle-checked
    queries must therefore never feed ambiguous local times through tz
    conversion (the fixture events are January-only — safe). This test
    asserts the divergence so an engine behavior change is caught.

Every catalog builder runs in a UTC session whatever zone the caller's
session is in: `registry.register` pins it.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _spark_ms(spark, ts: str, zone: str = "Europe/Berlin") -> int:
    df = spark.createDataFrame([(ts,)], "ts string").select(
        F.unix_millis(
            F.to_utc_timestamp(F.col("ts").cast("timestamp"), zone)
        ).alias("ms")
    )
    return df.collect()[0].ms


def _duck_ms(duck, ts: str, zone: str = "Europe/Berlin") -> int:
    return duck.execute(
        f"SELECT epoch_ms(timezone('{zone}', TIMESTAMP '{ts}'))"
    ).fetchone()[0]


def test_unambiguous_and_gap_times_agree(spark, duck):
    for ts in (
        "2024-03-31 00:30:00",  # CET before spring-forward
        "2024-03-31 02:30:00",  # nonexistent: both engines shift forward
        "2024-03-31 03:30:00",  # CEST after
        "2024-10-27 04:00:00",  # CET after fall-back
        "2024-07-15 12:00:00",  # plain summer
        "2024-01-15 12:00:00",  # plain winter
    ):
        assert _spark_ms(spark, ts) == _duck_ms(duck, ts), ts
    for ts in ("2024-03-31 02:30:00", "2024-10-27 03:30:00"):
        assert _spark_ms(spark, ts, "Europe/Warsaw") == _duck_ms(
            duck, ts, "Europe/Warsaw"
        ), ts


def test_ambiguous_fallback_divergence_is_pinned(spark, duck):
    ts = "2024-10-27 02:30:00"  # occurs twice in Berlin
    s, d = _spark_ms(spark, ts), _duck_ms(duck, ts)
    # Spark: earlier instant (CEST, +2); DuckDB: later (CET, +1)
    assert d - s == 3_600_000, (
        f"engine DST resolution changed: spark={s} duck={d} — revisit "
        "every oracle query that converts local timestamps"
    )


def test_registered_builders_run_in_utc(spark):
    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries.registry import register

    key = "spark.sql.session.timeZone"
    seen = []
    before = spark.conf.get(key)
    try:
        register("zz_zone_probe")(lambda s, _: seen.append(s.conf.get(key)))
        spark.conf.set(key, "America/New_York")
        QUERIES["zz_zone_probe"](spark, "unused")
        assert seen == ["UTC"]
    finally:
        spark.conf.set(key, before)
        QUERIES.pop("zz_zone_probe", None)
