"""Relational coverage batch 3: GROUPING SETS, statistical aggregates,
IGNORE-NULLS window navigation, full-outer join, LATERAL correlated
subqueries, MapType end-to-end, and date-sequence generation.

All shapes the reference never had (SURVEY.md §2.4-§2.6 "not present"
rows) but a complete engine surface needs; each is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.queries.common import (
    finite,
    spark_sql_dsum,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_finite,
    sql_floor_ms,
    ts_ms,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q78: GROUPING SETS + grouping() markers — three aggregation levels
# (nation x priority, nation, grand total) in one pass. Spark computes
# this as a single Expand + hash aggregate, one shuffle for all levels —
# the scale answer to "run three group-bys".
# --------------------------------------------------------------------------
@register(
    "q78_grouping_sets",
    oracle=f"""
    SELECT n.n_name,
           o.o_orderpriority,
           CAST(grouping(n.n_name) AS INT) AS g_nation,
           CAST(grouping(o.o_orderpriority) AS INT) AS g_prio,
           COUNT(*) AS n_orders,
           {sql_dsum("o.o_totalprice", 2)} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name), ())
    -- empty-input grouping-sets envelope guard, see q12_rollup
    HAVING COUNT(*) > 0
    """,
)
def q78_grouping_sets(spark, sf_dir):
    for name in ("orders", "customer", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT n.n_name,
               o.o_orderpriority,
               CAST(grouping(n.n_name) AS INT) AS g_nation,
               CAST(grouping(o.o_orderpriority) AS INT) AS g_prio,
               COUNT(*) AS n_orders,
               {spark_sql_dsum("o.o_totalprice", 2)}
                 AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name), ())
        """
    )


# --------------------------------------------------------------------------
# q79: statistical aggregates — corr / covar / stddev / variance per
# group. Engines accumulate moments in different orders, so raw doubles
# drift in the last ULP; final values are quantized to DECIMAL(18,12)
# (same half-up rounding of near-identical doubles on both sides).
# --------------------------------------------------------------------------
_Q79_STATS = [
    ("corr_qty_price", f"corr({sql_finite('l_extendedprice')}, l_quantity)"),
    ("sd_disc", "stddev_samp(l_discount)"),
    ("sdp_disc", "stddev_pop(l_discount)"),
    ("var_disc", "var_samp(l_discount)"),
    ("varp_disc", "var_pop(l_discount)"),
    ("cov_qty_disc", "covar_samp(l_discount, l_quantity)"),
    ("covp_qty_disc", "covar_pop(l_discount, l_quantity)"),
]


@register(
    "q79_stat_aggs",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {", ".join(
               f"{sql_double(sql_dec(agg, 12))} AS {alias}"
               for alias, agg in _Q79_STATS
           )}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q79_stat_aggs(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")

    def q(c, alias):
        return c.cast("decimal(18,12)").cast("double").alias(alias)

    # corr as try_divide(covar_pop, sdp_x * sdp_y), NOT F.corr: Spark's
    # fused Corr divides by sqrt(xMk*yMk) and THROWS under ANSI when
    # either variance is 0 (all-ties robustness axis: constant
    # l_quantity), while DuckDB's corr yields NULL. The explicit form
    # is the same statistic off the degenerate case (moment drift is
    # absorbed by the DECIMAL(18,12) quantize) and NULL on it.
    # Non-finite prices NULL out (finite(), nonfinite_values axis:
    # DuckDB's moment accumulators RAISE on inf), and corr is a
    # PAIRWISE statistic — every moment, including stddev_pop of the
    # untouched side, must run over pair-complete rows or the
    # denominator sees rows the covariance skipped.
    fx = finite(F.col("l_extendedprice"))
    x_pair = F.when(F.col("l_quantity").isNotNull(), fx)
    y_pair = F.when(fx.isNotNull(), F.col("l_quantity"))
    corr = F.try_divide(
        F.covar_pop(x_pair, y_pair),
        F.stddev_pop(x_pair) * F.stddev_pop(y_pair),
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        q(corr, "corr_qty_price"),
        q(F.stddev_samp("l_discount"), "sd_disc"),
        q(F.stddev_pop("l_discount"), "sdp_disc"),
        q(F.var_samp("l_discount"), "var_disc"),
        q(F.var_pop("l_discount"), "varp_disc"),
        q(F.covar_samp("l_discount", "l_quantity"), "cov_qty_disc"),
        q(F.covar_pop("l_discount", "l_quantity"), "covp_qty_disc"),
    )


# --------------------------------------------------------------------------
# q80: IGNORE NULLS window navigation — previous/first non-null value
# per user over a gappy series (clicks carry no value here). Values are
# picked, not summed, so doubles pass through bit-exact with no decimal
# quantization needed.
# --------------------------------------------------------------------------
@register(
    "q80_ignore_nulls",
    oracle=f"""
    WITH g AS (
      SELECT event_id, user_id, {sql_floor_ms("ts")} AS ts_ms,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events WHERE user_id < 20
    )
    SELECT event_id, user_id, ts_ms, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_v,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS first_v
    FROM g
    """,
)
def q80_ignore_nulls(spark, sf_dir):
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    g = ev.select(
        "event_id",
        "user_id",
        ts_ms("ts", "ts_ms"),
        F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    order = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    prev = order.rowsBetween(W.unboundedPreceding, -1)
    full = order.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return g.select(
        "event_id",
        "user_id",
        "ts_ms",
        "v",
        F.last("v", ignorenulls=True).over(prev).alias("prev_v"),
        F.first("v", ignorenulls=True).over(full).alias("first_v"),
    )


# --------------------------------------------------------------------------
# q81: FULL OUTER join — high-balance customers vs urgent-order
# activity; both sides contribute unmatched rows (null-padded). At scale
# this is a shuffle hash/sort-merge join; no broadcast possible for
# full-outer, which is why the keys stay the shuffle keys.
# --------------------------------------------------------------------------
@register(
    "q81_full_outer_join",
    oracle="""
    WITH rich AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
    ), urgent AS (
      SELECT o_custkey, COUNT(*) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_custkey
    )
    SELECT r.c_custkey, r.c_name, u.o_custkey, u.n_urgent
    FROM rich r FULL OUTER JOIN urgent u ON r.c_custkey = u.o_custkey
    """,
)
def q81_full_outer_join(spark, sf_dir):
    rich = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
    )
    urgent = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return rich.join(
        urgent, rich["c_custkey"] == urgent["o_custkey"], "full_outer"
    ).select("c_custkey", "c_name", "o_custkey", "n_urgent")


# --------------------------------------------------------------------------
# q82: LATERAL correlated subquery — top-2 customers by balance per
# nation via a per-row dependent subquery with ORDER BY + LIMIT. Catalyst
# decorrelates this into a join + per-key window rank, so it scales as a
# shuffle, not a nested loop.
# --------------------------------------------------------------------------
_Q82_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
"""


@register("q82_lateral_topk", oracle=_Q82_SQL)
def q82_lateral_topk(spark, sf_dir):
    for name in ("nation", "customer"):
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q82_SQL)


# --------------------------------------------------------------------------
# q83: MapType end-to-end — construct (map_from_arrays, map_concat),
# inspect (map_keys sorted, element_at), and flatten (explode) a map
# column. The oracle states the same facts without maps (UNION ALL),
# proving the map surface is semantics-preserving.
# --------------------------------------------------------------------------
@register(
    "q83_map_functions",
    oracle="""
    WITH e AS (SELECT * FROM events WHERE user_id < 10)
    SELECT event_id, 't' AS key, event_type AS val,
           't,u' AS keys_sorted, event_type AS t_val
    FROM e
    UNION ALL
    SELECT event_id, 'u', CAST(user_id AS VARCHAR), 't,u', event_type
    FROM e
    """,
)
def q83_map_functions(spark, sf_dir):
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    m = F.map_concat(
        F.map_from_arrays(
            F.array(F.lit("t")), F.array(F.col("event_type"))
        ),
        F.create_map(F.lit("u"), F.col("user_id").cast("string")),
    )
    withm = ev.select(
        "event_id",
        m.alias("m"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "t").alias("t_val"),
    )
    return withm.select(
        "event_id",
        F.explode(F.col("m")).alias("key", "val"),
        "keys_sorted",
        "t_val",
    ).select("event_id", "key", "val", "keys_sorted", "t_val")


# --------------------------------------------------------------------------
# q84: date-sequence generation — month spine per order priority
# (sequence + explode), the calendar-fill primitive behind gap-free
# rollups. Spark generates the spine executor-side from aggregated
# bounds; no driver loop.
# --------------------------------------------------------------------------
@register(
    "q84_month_spine",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT b.o_orderpriority,
           CAST(strftime(gs.month, '%Y-%m-%d') AS VARCHAR) AS month_start
    FROM b, LATERAL (
      SELECT unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                    INTERVAL 1 MONTH)) AS month
    ) gs
    """,
)
def q84_month_spine(spark, sf_dir):
    b = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
            F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
        )
    )
    return b.select(
        "o_orderpriority",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("m"),
    ).select(
        "o_orderpriority",
        F.date_format("m", "yyyy-MM-dd").alias("month_start"),
    )


# --------------------------------------------------------------------------
# q89: multiset set-ops — EXCEPT ALL / INTERSECT ALL preserve duplicate
# counts (bag semantics), unlike the distinct set-ops in q14. Spark
# implements both as a single aggregate on the value columns with
# count-difference replication — one shuffle, no join.
# --------------------------------------------------------------------------
@register(
    "q89_multiset_ops",
    oracle="""
    WITH a AS (
      SELECT o_orderpriority AS p, CAST(year(o_orderdate) AS INT) AS y
      FROM orders WHERE o_totalprice > 150000
    ), b AS (
      SELECT o_orderpriority, CAST(year(o_orderdate) AS INT)
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'except' AS tag, * FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'intersect', * FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    """,
)
def q89_multiset_ops(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_totalprice") > 150000).select(
        F.col("o_orderpriority").alias("p"),
        F.year("o_orderdate").cast("int").alias("y"),
    )
    b = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("p"),
        F.year("o_orderdate").cast("int").alias("y"),
    )
    return a.exceptAll(b).select(F.lit("except").alias("tag"), "p", "y").unionAll(
        a.intersectAll(b).select(F.lit("intersect").alias("tag"), "p", "y")
    )


# --------------------------------------------------------------------------
# q90: NULLS FIRST ordering + LIMIT/OFFSET pagination — a deterministic
# page (unique tiebreak key) out of a nullable sort. At scale LIMIT+
# OFFSET is a global top-(offset+limit) single-partition tail: fine for
# page-sized k, the documented anti-pattern for deep paging (key-set
# pagination is the 100 TB answer).
# --------------------------------------------------------------------------
@register(
    "q90_nulls_order_pagination",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
    FROM customer
    ORDER BY bal ASC NULLS FIRST, c_custkey
    LIMIT 50 OFFSET 20
    """,
)
def q90_nulls_order_pagination(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return (
        cust.orderBy(F.col("bal").asc_nulls_first(), "c_custkey")
        .offset(20)
        .limit(50)
    )


# --------------------------------------------------------------------------
# q91: running DISTINCT count per key — Spark windows don't accept
# COUNT(DISTINCT) directly; size(collect_set() OVER w) is the idiomatic
# equivalent (set state is bounded by event-type cardinality, so the
# window buffer stays tiny even on unbounded frames).
# --------------------------------------------------------------------------
@register(
    "q91_running_distinct",
    oracle=f"""
    SELECT event_id, user_id, {sql_floor_ms("ts")} AS ts_ms,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY {sql_floor_ms("ts")}, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_types_so_far
    FROM events WHERE user_id < 25
    """,
)
def q91_running_distinct(spark, sf_dir):
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 25)
    base = ev.select(
        "event_id", "user_id", "event_type", ts_ms("ts", "ts_ms")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_so_far"),
    )
