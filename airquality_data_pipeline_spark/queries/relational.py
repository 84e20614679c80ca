"""Relational core: scans, filters, projections, joins, aggregations,
windows, sorts/limits, set ops, grouping sets, scalar functions.

Covers SURVEY.md §2.1-2.6 — the reference implements P1/P2/F1-F6, J1-J3,
A1-A4, C1-C10 imperatively (file:line cited per query); the rest of the
standard operator surface is required by the engine north star and is
expressed with stock DataFrame ops so Catalyst handles pushdown, pruning
and join selection.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.timeparse import local_to_utc
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.queries.common import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dsum,
    sql_floor_ms,
    table,
    ts_ms,
    utc,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q01: flagship pricing summary (TPC-H Q1 shape).
# Scan + filter + project + hash agg + sort in one plan; the "measurement
# rollup" analog of the reference's canonical fact stream (SURVEY.md §7.1).
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      {sql_dsum('l_quantity', 'sum_qty')},
      {sql_dsum('l_extendedprice', 'sum_base_price')},
      {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
      {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
      {sql_davg('l_quantity', 'avg_qty')},
      {sql_davg('l_extendedprice', 'avg_price')},
      {sql_davg('l_discount', 'avg_disc', scale=6)},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    utc(spark)
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # the 8 decimal-cast aggregates are the stage's CPU; fan the
    # single-row-group scan out so they run at full parallelism
    # (filter + projection stay below the exchange — r12)
    filtered = fan_out(
        li.where(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        ).select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", scale=6),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q02: projection + filter + per-row scalar arithmetic (P1/P2/F1 analog,
# reference app/main.py:769-783, 752-753). Predicate + column pruning must
# reach the parquet scan.
# --------------------------------------------------------------------------
@register(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity
    FROM lineitem
    WHERE l_quantity >= 48 AND l_discount > 0.05
    """,
)
def q02_filter_project(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.where((F.col("l_quantity") >= 48) & (F.col("l_discount") > 0.05)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        "l_quantity",
    )


# --------------------------------------------------------------------------
# q03: shipping priority (TPC-H Q3 shape) — 3-way join + agg + top-k.
# --------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           {sql_floor_ms("o_orderdate")} AS o_orderdate_ms,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark, sf_dir):
    utc(spark)
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            ts_ms("o_orderdate", "o_orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04: EXISTS / left-semi join + count-by-group (A3 analog,
# reference app/main.py:1205-1209).
# --------------------------------------------------------------------------
@register(
    "q04_semi_join_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_semi_join_exists(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q05: multi-way join through the full star (TPC-H Q5 shape): region ->
# nation -> customer -> orders -> lineitem -> supplier with the
# same-nation constraint. Small dims broadcast; fact joins shuffle on keys.
# --------------------------------------------------------------------------
@register(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_local_supplier_volume(spark, sf_dir):
    utc(spark)
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# q06: tight-range scan + single global agg (TPC-H Q6 shape). The whole
# predicate should push to the parquet reader.
# --------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark, sf_dir):
    utc(spark)
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q07: left-anti join — the cursor-drop semantics of J3
# (reference app/main.py:209-237) in its simplest relational form.
# --------------------------------------------------------------------------
@register(
    "q07_anti_join_no_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
    )
    """,
)
def q07_anti_join_no_orders(spark, sf_dir):
    utc(spark)
    cust = table(spark, sf_dir, "customer")
    early = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp")
    )
    return cust.join(early, cust.c_custkey == early.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# q08: left outer join + COALESCE fallback (C9 analog,
# reference app/main.py:640-644 keeps the old value when the new is null).
# --------------------------------------------------------------------------
@register(
    "q08_left_join_coalesce",
    oracle="""
    SELECT o_orderkey,
           COALESCE(c.c_name, 'UNKNOWN') AS cust_name,
           o_totalprice
    FROM orders
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
      ON o_custkey = c_custkey
    WHERE o_orderkey <= 2000
    """,
)
def q08_left_join_coalesce(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    rich = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return orders.join(
        F.broadcast(rich), orders.o_custkey == rich.c_custkey, "left"
    ).select(
        "o_orderkey",
        F.coalesce(F.col("c_name"), F.lit("UNKNOWN")).alias("cust_name"),
        "o_totalprice",
    )


# --------------------------------------------------------------------------
# q09: broadcast dimension join (J1, reference app/main.py:651-695 station
# metadata lookup): fact x small dim must never shuffle the fact side.
# --------------------------------------------------------------------------
@register(
    "q09_broadcast_dim_join",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 30
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q09_broadcast_dim_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(F.col("p_size") >= 30)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q10: top-k per group via ranking window (sorts/limits surface,
# SURVEY.md §2.5 — absent in the reference, required by the engine).
# --------------------------------------------------------------------------
@register(
    "q10_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_orderpriority, rn
    """,
)
def q10_topk_per_group(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    )


# --------------------------------------------------------------------------
# q11: analytic windows — running sum (decimal-exact), lag, lead, rank
# over per-customer order history. The reference's closest analog is the
# per-key running max in F5/A1 (app/main.py:233-236).
# --------------------------------------------------------------------------
@register(
    "q11_window_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_floor_ms("o_orderdate")} AS o_orderdate_ms,
           o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q11_window_running(spark, sf_dir):
    utc(spark)
    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        ts_ms("o_orderdate", "o_orderdate_ms"),
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# --------------------------------------------------------------------------
# q12/q13: ROLLUP and CUBE (grouping-sets surface, SURVEY.md §2.4).
# --------------------------------------------------------------------------
@register(
    "q12_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Pinned engine envelope (tests/test_empty_relation.py): Spark's
    -- grouping-sets over EMPTY input emits 0 rows (Expand + hash agg
    -- on the expanded keys), DuckDB/standard emit the () grand-total
    -- row. Every group over non-empty input has count >= 1, so this
    -- guard is identity except on the empty input, where it aligns
    -- the oracle with Spark's observable behavior.
    HAVING COUNT(*) > 0
    """,
)
def q12_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    # rollup expands every row 3x before the decimal partial agg, all
    # fused into the single-task scan: project the three needed
    # columns and fan out first (guide §2.3 + §2.5; measured warm
    # min-of-3 at sf0.1: 1.23 -> 1.05 s). Scale-guarded no-op at
    # 100 TB.
    li = fan_out(li.select("l_returnflag", "l_linestatus", "l_quantity"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty")
    )


@register(
    "q13_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- empty-input grouping-sets envelope guard, see q12_rollup
    HAVING COUNT(*) > 0
    """,
)
def q13_cube(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_price")
    )


# --------------------------------------------------------------------------
# q14: set operations — UNION (distinct), INTERSECT, EXCEPT
# (SURVEY.md §2.5; reference only ever unions, app/main.py:1329-1331).
# --------------------------------------------------------------------------
@register(
    "q14_set_ops",
    oracle="""
    WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    SELECT 'union' AS op, c_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
)
def q14_set_ops(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(
            a.intersect(b).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "c_custkey"))
    )


# --------------------------------------------------------------------------
# q15: distinct aggregates (SURVEY.md §2.4 "not present" row).
# --------------------------------------------------------------------------
@register(
    "q15_distinct_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q15_distinct_agg(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q16: conditional aggregation (CASE WHEN pivot shape).
# --------------------------------------------------------------------------
@register(
    "q16_conditional_agg",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END", 'qty_open')},
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END", 'qty_fulfilled')},
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q16_conditional_agg(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum(
                F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(
                    F.lit(0.0)
                ),
                "qty_open",
            ),
            dsum(
                F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(
                    F.lit(0.0)
                ),
                "qty_fulfilled",
            ),
            F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias(
                "n_discounted"
            ),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q17: datetime scalar functions (C1-C4, reference app/main.py:166-206):
# timezone normalization Europe/Berlin & Europe/Warsaw -> UTC, truncation,
# field extraction. All outputs instant-based epoch millis.
# --------------------------------------------------------------------------
@register(
    "q17_datetime_tz",
    oracle=f"""
    SELECT event_id,
           {sql_floor_ms("ts")} AS ts_ms,
           {sql_floor_ms("timezone('Europe/Berlin', ts)")} AS berlin_utc_ms,
           {sql_floor_ms("timezone('Europe/Warsaw', ts)")} AS warsaw_utc_ms,
           hour(ts) AS hour_utc,
           {sql_floor_ms("date_trunc('day', ts)")} AS day_ms
    FROM events
    WHERE event_id % 7 = 0
    """,
)
def q17_datetime_tz(spark, sf_dir):
    utc(spark)
    ev = table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    return ev.select(
        "event_id",
        ts_ms("ts", "ts_ms"),
        F.unix_millis(local_to_utc("ts", "de")).alias("berlin_utc_ms"),
        F.unix_millis(local_to_utc("ts", "gios")).alias("warsaw_utc_ms"),
        F.hour("ts").alias("hour_utc"),
        F.unix_millis(F.date_trunc("day", F.col("ts"))).alias("day_ms"),
    )


# --------------------------------------------------------------------------
# q18: JSON extraction (C7/C8, reference parses HTTP JSON bodies throughout,
# e.g. app/main.py:349, 745; fixture events.props is a JSON string).
# --------------------------------------------------------------------------
@register(
    "q18_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           -- DuckDB SUM(BIGINT) -> HUGEINT (int128); cast back so the
           -- pandas dtype matches Spark's int64 under the driver's hash
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q18_json_extract(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q19: string scalar functions (C5/C10, reference app/main.py:898,
# 1045-1056: lower/trim/regexp normalization; :326 prefix extraction).
# Includes the exact pm2.5/pm2,5 -> pm25 normalization rule (F4).
# --------------------------------------------------------------------------
@register(
    "q19_string_funcs",
    # DuckDB's split_part returns '' (not NULL) for NULL input, unlike
    # every other string scalar here and unlike Spark's split/element_at
    # — the CASE pins NULL-in -> NULL-out on both engines (null_text
    # axis)
    oracle="""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE lower(split_part(trim(text), ' ', 1)) END AS first_token,
           substring(text, 1, 2) AS prefix2,
           length(text) AS n_chars_calc,
           regexp_replace(lower('PM2.5'), 'pm2[.,]5', 'pm25') AS norm_code,
           upper(lang) AS lang_uc,
           concat(source, ':', lang) AS src_lang
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def q19_string_funcs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return docs.select(
        "doc_id",
        F.lower(F.element_at(F.split(F.trim(F.col("text")), " "), 1)).alias(
            "first_token"
        ),
        F.substring("text", 1, 2).alias("prefix2"),
        F.length("text").alias("n_chars_calc"),
        F.regexp_replace(F.lower(F.lit("PM2.5")), r"pm2[.,]5", "pm25").alias(
            "norm_code"
        ),
        F.upper("lang").alias("lang_uc"),
        F.concat_ws("", F.col("source"), F.lit(":"), F.col("lang")).alias("src_lang"),
    )
