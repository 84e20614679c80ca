"""Pipeline-semantics queries: the reference's actual dataflow behaviors
(SURVEY.md §2.2-2.8) as oracle-checked batch operators over the `events`
fixture (the measurement-stream analog), driven through the reusable
operators in airquality_data_pipeline_spark.operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators.cursor import (
    greatest_merge,
    incremental_filter,
)
from airquality_data_pipeline_spark.operators.dedup import first_wins_dedup
from airquality_data_pipeline_spark.operators.merge import (
    coalesce_merge,
    retention_filter,
)
from airquality_data_pipeline_spark.operators.skew import salted_sum
from airquality_data_pipeline_spark.operators.windows import sessionize
from airquality_data_pipeline_spark.queries.common import (
    dsum,
    sql_dsum,
    sql_floor_ms,
    ts_ms,
)
from airquality_data_pipeline_spark.queries.registry import register


def _batch_with_malformed(spark, sf_dir):
    """events with user 7's key nullified — the malformed-record analog
    (reference app/main.py:223-231: rows with null key bypass dedup)."""
    return table(spark, sf_dir, "events").withColumn(
        "user_id", F.expr("nullif(user_id, 7)")
    )


def _cursors(spark, sf_dir):
    """Simulated prior-run cursor state: per-(user, event_type) max ts
    over everything before 2024-01-15 (reference app/main.py:137-163)."""
    return (
        table(spark, sf_dir, "events")
        .where(
            (F.col("user_id") != 7)
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("last_observed_at"))
    )


_Q23_CTE = """
    WITH batch AS (
      SELECT event_id, nullif(user_id, 7) AS user_id, event_type, ts FROM events
    ), cursors AS (
      SELECT user_id, event_type, max(ts) AS last_observed_at
      FROM events
      WHERE user_id <> 7 AND ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY user_id, event_type
    ), well AS (
      SELECT b.event_id, b.user_id, b.event_type, b.ts
      FROM batch b LEFT JOIN cursors c
        ON b.user_id = c.user_id AND b.event_type = c.event_type
      WHERE b.user_id IS NOT NULL AND b.ts IS NOT NULL
        AND (c.last_observed_at IS NULL OR b.ts > c.last_observed_at)
    )
"""


# --------------------------------------------------------------------------
# q23: incremental high-watermark filter (F5/J3, reference
# app/main.py:209-237) including malformed-row passthrough.
# --------------------------------------------------------------------------
@register(
    "q23_cursor_incremental_filter",
    oracle=_Q23_CTE
    + f"""
    SELECT event_id, user_id, event_type, {sql_floor_ms("ts")} AS ts_ms FROM well
    UNION ALL
    SELECT event_id, user_id, event_type, {sql_floor_ms("ts")} AS ts_ms
    FROM batch WHERE user_id IS NULL OR ts IS NULL
    """,
)
def q23_cursor_incremental_filter(spark, sf_dir):
    out, _ = incremental_filter(
        _batch_with_malformed(spark, sf_dir),
        _cursors(spark, sf_dir),
        keys=("user_id", "event_type"),
        ts_col="ts",
    )
    return out.select("event_id", "user_id", "event_type", ts_ms("ts", "ts_ms"))


# --------------------------------------------------------------------------
# q24: pending cursor updates emitted by the same pass (A1, reference
# app/main.py:233-236).
# --------------------------------------------------------------------------
@register(
    "q24_pending_cursor_updates",
    oracle=_Q23_CTE
    + f"""
    SELECT user_id, event_type, {sql_floor_ms("max(ts)")} AS last_observed_ms
    FROM well GROUP BY user_id, event_type
    """,
)
def q24_pending_cursor_updates(spark, sf_dir):
    _, updates = incremental_filter(
        _batch_with_malformed(spark, sf_dir),
        _cursors(spark, sf_dir),
        keys=("user_id", "event_type"),
        ts_col="ts",
    )
    return updates.select(
        "user_id", "event_type", ts_ms("last_observed_at", "last_observed_ms")
    )


# --------------------------------------------------------------------------
# q25: first-wins batch dedup (A4, reference app/main.py:1194-1203) with
# the deterministic row_number tiebreaker (SURVEY.md §7.4).
# --------------------------------------------------------------------------
@register(
    "q25_first_wins_dedup",
    oracle=f"""
    SELECT event_id, user_id, event_type, {sql_floor_ms("minute")} AS minute_ms
    FROM (
      SELECT event_id, user_id, event_type, date_trunc('minute', ts) AS minute,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type, date_trunc('minute', ts)
               ORDER BY event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q25_first_wins_dedup(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn(
        "minute", F.date_trunc("minute", F.col("ts"))
    )
    kept = first_wins_dedup(
        ev, keys=["user_id", "event_type", "minute"], order_by=["event_id"]
    )
    return kept.select(
        "event_id", "user_id", "event_type", ts_ms("minute", "minute_ms")
    )


# --------------------------------------------------------------------------
# q26: GREATEST-merge cursor upsert (A2/K3, reference app/main.py:263-267):
# replayed or out-of-order updates never move a cursor backwards.
# --------------------------------------------------------------------------
@register(
    "q26_greatest_merge",
    oracle=f"""
    WITH old AS (
      SELECT user_id, event_type, max(ts) AS ts FROM events
      WHERE ts < TIMESTAMP '2024-01-10 00:00:00' GROUP BY user_id, event_type
    ), new AS (
      SELECT user_id, event_type, max(ts) AS ts FROM events
      WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
        AND event_type IN ('view', 'click', 'error')
      GROUP BY user_id, event_type
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           COALESCE(o.event_type, n.event_type) AS event_type,
           {sql_floor_ms("CASE WHEN o.ts IS NULL THEN n.ts WHEN n.ts IS NULL THEN o.ts WHEN o.ts >= n.ts THEN o.ts ELSE n.ts END")} AS last_observed_ms
    FROM old o FULL OUTER JOIN new n
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    """,
)
def q26_greatest_merge(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    old = (
        ev.where(F.col("ts") < F.lit("2024-01-10 00:00:00").cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("last_observed_at"))
    )
    new = (
        ev.where(
            F.col("ts").between(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-20 00:00:00").cast("timestamp"),
            )
            & F.col("event_type").isin("view", "click", "error")
        )
        .groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("last_observed_at"))
    )
    merged = greatest_merge(old, new, keys=("user_id", "event_type"))
    return merged.select(
        "user_id", "event_type", ts_ms("last_observed_at", "last_observed_ms")
    )


# --------------------------------------------------------------------------
# q27: COALESCE-merge catalog upsert (K2, reference app/main.py:633-648):
# incoming nulls never clobber existing values.
# --------------------------------------------------------------------------
@register(
    "q27_coalesce_merge",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
      WHERE c_custkey <= 1000
    ), source AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE concat('v2 ', c_name) END AS c_name,
             nullif(c_mktsegment, 'BUILDING') AS c_mktsegment,
             c_acctbal + 1000 AS c_acctbal
      FROM customer WHERE c_custkey BETWEEN 500 AND 1500
    )
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_name, t.c_name) AS c_name,
           COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
           COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal
    FROM target t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
    """,
)
def q27_coalesce_merge(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    target = cust.where(F.col("c_custkey") <= 1000).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    source = cust.where(F.col("c_custkey").between(500, 1500)).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("v2 "), F.col("c_name"))
        ).alias("c_name"),
        F.expr("nullif(c_mktsegment, 'BUILDING')").alias("c_mktsegment"),
        (F.col("c_acctbal") + 1000).alias("c_acctbal"),
    )
    return coalesce_merge(target, source, key="c_custkey")


# --------------------------------------------------------------------------
# q28: retention (K4, reference app/housekeeping.py:6-26) — the keep side
# of DELETE WHERE observed_at < cutoff, cutoff derived from data max.
# --------------------------------------------------------------------------
@register(
    "q28_retention_filter",
    oracle=f"""
    SELECT event_id, {sql_floor_ms("ts")} AS ts_ms
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    """,
)
def q28_retention_filter(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return retention_filter(ev, "ts", keep_days=7).select(
        "event_id", ts_ms("ts", "ts_ms")
    )


# --------------------------------------------------------------------------
# q29: ragged-schema canonical union (P1, reference §1.2: synthetic/OpenAQ
# rows lack lat/lon/location_name — unionByName(allowMissingColumns)).
# --------------------------------------------------------------------------
@register(
    "q29_ragged_union",
    oracle=f"""
    SELECT event_id, user_id, value, 'web' AS src, NULL AS event_type, NULL AS ts_ms
    FROM events WHERE event_type = 'view'
    UNION ALL BY NAME
    SELECT event_id, event_type, 'backfill' AS src, {sql_floor_ms("ts")} AS ts_ms
    FROM events WHERE event_type = 'purchase'
    """,
)
def q29_ragged_union(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "value", F.lit("web").alias("src")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "event_type", F.lit("backfill").alias("src"), ts_ms("ts", "ts_ms")
    )
    return a.unionByName(b, allowMissingColumns=True)


# --------------------------------------------------------------------------
# q30: sessionization (gaps-and-islands; SURVEY.md §2.8 — the engine's
# session-window surface, batch form of session_window(ts, gap)).
# --------------------------------------------------------------------------
@register(
    "q30_sessionization",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag({sql_floor_ms("ts")}) OVER w IS NULL
                       OR {sql_floor_ms("ts")} - lag({sql_floor_ms("ts")}) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           {sql_floor_ms("min(ts)")} AS session_start_ms,
           {sql_floor_ms("max(ts)")} AS session_end_ms,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q30_sessionization(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts_col="ts", gap_seconds=1800,
                      order_tiebreak="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.unix_millis(F.min("ts")).alias("session_start_ms"),
        F.unix_millis(F.max("ts")).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q31/q32: tumbling + sliding time windows (SURVEY.md §2.8 — batch form
# of window(ts, size[, slide]); streaming twins in streaming/jobs.py).
# --------------------------------------------------------------------------
@register(
    "q31_tumbling_window",
    oracle=f"""
    SELECT {sql_floor_ms("date_trunc('hour', ts)")} AS window_start_ms,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q31_tumbling_window(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q55_salted_agg",
    oracle=f"""
    SELECT event_type,
           {sql_dsum("value")} AS sum_value,
           COUNT(*) AS sum_value_count
    FROM events
    GROUP BY event_type
    """,
)
def q55_salted_agg(spark, sf_dir):
    """Skew-proof two-phase salted aggregation — result identical to a
    plain GROUP BY (the oracle), physically resistant to one event_type
    dominating the stream (operators/skew.py)."""
    ev = table(spark, sf_dir, "events")
    return salted_sum(
        ev,
        keys=["event_type"],
        value=F.col("value"),
        alias="sum_value",
        salt_src="event_id",
        n_salts=8,
    )


@register(
    "q32_sliding_window",
    oracle=f"""
    SELECT {sql_floor_ms("ws")} AS window_start_ms,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM (
      SELECT e.value, u.ws
      FROM events e,
           UNNEST([date_trunc('hour', e.ts),
                   date_trunc('hour', e.ts) - INTERVAL 1 HOUR]) AS u(ws)
    )
    GROUP BY ws
    """,
)
def q32_sliding_window(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "sum_value",
        )
    )
