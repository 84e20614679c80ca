"""Relational coverage batch 2: as-of / range joins, pivot / unpivot,
exact percentiles, lexicographic arg-max, sorted collect aggregates, the
spark.sql SQL surface, and approximate aggregates (checked as exact
values + in-bound booleans computed in the same plan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.operators.joins import (
    asof_join,
    bucketed_range_join,
)
from airquality_data_pipeline_spark.queries.common import (
    davg,
    dsum,
    spark_sql_dsum,
    sql_davg,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_floor_ms,
    ts_ms,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q33: as-of join — for each purchase, the user's most recent prior view.
# Right side pre-deduped per (user, ts) so tie-breaking is deterministic
# in both engines.
# --------------------------------------------------------------------------
@register(
    "q33_asof_join",
    oracle=f"""
    WITH views AS (
      SELECT user_id, ts, max(event_id) AS view_event_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ),
    purchases AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, {sql_floor_ms("p.ts")} AS ts_ms,
           v.view_event_id, {sql_floor_ms("v.ts")} AS view_ts_ms
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q33_asof_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
        .withColumn("view_ts", F.col("ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["view_event_id", "view_ts"],
        suffix="",
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_ms("ts", "ts_ms"),
        "view_event_id",
        ts_ms("view_ts", "view_ts_ms"),
    )


# --------------------------------------------------------------------------
# q34: range join — purchases within 5 minutes after a click by the same
# user, via the skew-proof bucketed equi-join.
# --------------------------------------------------------------------------
@register(
    "q34_range_join",
    oracle=f"""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           {sql_floor_ms("c.ts")} AS click_ms, {sql_floor_ms("p.ts")} AS purchase_ms
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 300 SECOND
    """,
)
def q34_range_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = bucketed_range_join(
        clicks.withColumnRenamed("user_id", "u"),
        purchases.withColumnRenamed("p_user_id", "u"),
        key="u",
        left_ts="click_ts",
        right_ts="purchase_ts",
        window_seconds=300,
    )
    return joined.select(
        F.col("l.click_id").alias("click_id"),
        F.col("r.purchase_id").alias("purchase_id"),
        F.col("l.u").alias("user_id"),
        F.unix_millis(F.col("l.click_ts")).alias("click_ms"),
        F.unix_millis(F.col("r.purchase_ts")).alias("purchase_ms"),
    )


# --------------------------------------------------------------------------
# q35: pivot — order counts + decimal-exact totals per priority x status.
# --------------------------------------------------------------------------
@register(
    "q35_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS total_o,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS total_f,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END")} AS total_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q35_pivot(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum("o_totalprice"))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("total_o"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("total_f"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("total_p"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# q36: unpivot / melt — wide per-priority metrics to (metric, value) rows.
# --------------------------------------------------------------------------
@register(
    "q36_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderpriority,
             {sql_dsum("o_totalprice")} AS sum_price,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'sum_price' AS metric, sum_price AS value FROM wide
    UNION ALL
    SELECT o_orderpriority, 'n_orders' AS metric, CAST(n_orders AS DOUBLE) AS value FROM wide
    """,
)
def q36_unpivot(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["sum_price", "n_orders"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# q37: exact percentiles (quantity is integer-valued, so the linear
# interpolation is exact and engine-identical).
# --------------------------------------------------------------------------
@register(
    "q37_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q37_percentiles(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q38: arg-max / arg-min with deterministic lexicographic tie-breaking
# (struct-max in Spark, list-arg_max in DuckDB).
# --------------------------------------------------------------------------
@register(
    "q38_argmax",
    # NULL prices are excluded from the arg aggregates on BOTH engines
    # (null_mass axis): a struct with a NULL field sorts lowest in
    # Spark but highest in DuckDB, so an unguarded struct-min/max picks
    # a null-priced row on exactly one engine. An argmax of a missing
    # score is meaningless anyway; groups survive (NULL args on an
    # all-null group, like arg_max).
    oracle="""
    SELECT o_orderpriority,
           (max(struct_pack(p := o_totalprice, k := o_orderkey))
              FILTER (WHERE o_totalprice IS NOT NULL)).k AS top_order,
           max(o_totalprice) AS top_price,
           (min(struct_pack(p := o_totalprice, k := o_orderkey))
              FILTER (WHERE o_totalprice IS NOT NULL)).k AS bottom_order
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q38_argmax(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    # when() yields a NULL struct for null-priced rows; min/max skip it
    pk = F.when(
        F.col("o_totalprice").isNotNull(),
        F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")),
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.max(pk)["k"].alias("top_order"),
            F.max("o_totalprice").alias("top_price"),
            F.min(pk)["k"].alias("bottom_order"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q39: sorted collect aggregates — deterministic array + string forms.
# --------------------------------------------------------------------------
@register(
    "q39_collect_sorted",
    oracle="""
    SELECT r_name,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations_csv,
           COUNT(DISTINCT n_name) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def q39_collect_sorted(spark, sf_dir):
    # the sorted-collect array is built (array_sort ∘ collect_set) but
    # serialized to CSV in the output projection: the driver's pandas
    # canonicalizer cannot hash list cells (r1: "unhashable type: 'list'")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias(
                "nations_csv"
            ),
            F.countDistinct("n_name").alias("n_nations"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# q53: the SQL API surface — the engine accepts plain SQL text over
# registered views (TPC-H Q10 shape), same Catalyst plan as DataFrame.
# --------------------------------------------------------------------------
_Q53_SQL = """
    SELECT c_custkey, c_name,
           {revenue} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


_Q53_REVENUE = "l_extendedprice * (1 - l_discount)"


@register("q53_sql_api", oracle=_Q53_SQL.format(revenue=sql_dsum(_Q53_REVENUE)))
def q53_sql_api(spark, sf_dir):
    for name in ("customer", "orders", "lineitem", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q53_SQL.format(revenue=spark_sql_dsum(_Q53_REVENUE)))


# --------------------------------------------------------------------------
# q56: array higher-order functions — size / slice / element arithmetic /
# lambda filter / transform+max — over the embedding vectors (the
# nested-type surface, SURVEY.md §2.9: ArrayType columns end-to-end).
# --------------------------------------------------------------------------
@register(
    "q56_array_functions",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           len(v) AS n_dims,
           len(list_filter(v, x -> x > 0)) AS n_pos,
           list_max(list_transform(v, x -> abs(x))) AS max_abs,
           v[1] + v[2] + v[3] AS head_sum,
           v[1:3][1] AS head_1, v[1:3][2] AS head_2, v[1:3][3] AS head_3
    FROM e
    """,
)
def q56_array_functions(spark, sf_dir):
    # slice output flattened to scalar columns: array-typed cells crash
    # the driver's pandas canonicalizer (r1 q56 "unhashable type: 'list'")
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sl = F.slice(v, 1, 3)
    return emb.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.array_max(F.transform(v, F.abs)).alias("max_abs"),
        (F.element_at(v, 1) + F.element_at(v, 2) + F.element_at(v, 3)).alias(
            "head_sum"
        ),
        F.element_at(sl, 1).alias("head_1"),
        F.element_at(sl, 2).alias("head_2"),
        F.element_at(sl, 3).alias("head_3"),
    )


# --------------------------------------------------------------------------
# q57: HAVING — post-aggregation predicate (frequent-buyer segments).
# --------------------------------------------------------------------------
@register(
    "q57_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def q57_having(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .where(F.col("n_orders") >= 15)
    )


# --------------------------------------------------------------------------
# q58: correlated scalar subquery (TPC-H Q17 shape) — line items below
# 20% of their part's average quantity. Spark decorrelates to a join on
# the per-part aggregate; expressed directly as that join (identical
# plan, explicit decimal-exact threshold).
# --------------------------------------------------------------------------
@register(
    "q58_below_avg_quantity",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey,
             {sql_davg("l_quantity")} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey, l.l_orderkey, l.l_linenumber, l.l_quantity,
           p.avg_qty
    FROM lineitem l JOIN part_avg p ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < 0.2 * p.avg_qty
    """,
)
def q58_below_avg_quantity(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(part_avg, li.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity", "avg_qty")
    )


# --------------------------------------------------------------------------
# q59: distribution histogram (TPC-H Q13 shape) — two-level aggregation
# with a left join so zero-order customers count.
# --------------------------------------------------------------------------
@register(
    "q59_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q59_order_distribution(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# q64: ranking-function family — ntile / percent_rank / cume_dist /
# dense_rank under a deterministic total order.
# --------------------------------------------------------------------------
@register(
    "q64_ranking_extras",
    # the sort-key null position is EXPLICIT on both engines
    # (null_mass axis): Spark's ASC default is NULLS FIRST, DuckDB's
    # is NULLS LAST — every positional rank (ntile/percent_rank/
    # cume_dist) over a nullable key silently diverges otherwise.
    # NULLS LAST keeps null-priced orders ranked, deterministically
    # after all priced ones (then by o_orderkey).
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           dense_rank() OVER w AS drank
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice NULLS LAST, o_orderkey)
    """,
)
def q64_ranking_extras(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 100)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


# --------------------------------------------------------------------------
# q65: null-safe equality join (<=> / IS NOT DISTINCT FROM) — null keys
# match null keys, unlike ordinary equi-joins.
# --------------------------------------------------------------------------
@register(
    "q65_nullsafe_join",
    oracle="""
    WITH l AS (
      SELECT DISTINCT nullif(user_id, 7) AS k FROM events
    ), r AS (
      SELECT nullif(user_id, 7) AS k, count(*) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY nullif(user_id, 7)
    )
    SELECT l.k AS user_key, COALESCE(r.n_errors, 0) AS n_errors
    FROM l LEFT JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def q65_nullsafe_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn(
        "k", F.expr("nullif(user_id, 7)")
    )
    left = ev.select("k").distinct()
    right = (
        ev.where(F.col("event_type") == "error")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .withColumnRenamed("k", "rk")
    )
    return left.join(right, left.k.eqNullSafe(right.rk), "left").select(
        left.k.alias("user_key"),
        F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
    )


# --------------------------------------------------------------------------
# q77: RANGE window frame — rolling 1-hour per-user aggregates keyed on
# the ORDER BY *value* (epoch millis), peers included per SQL standard.
# --------------------------------------------------------------------------
@register(
    "q77_range_frame",
    oracle=f"""
    SELECT event_id, user_id, {sql_floor_ms("ts")} AS ts_ms,
           COUNT(*) OVER w AS n_last_hour,
           {sql_double(f"SUM({sql_dec('value')}) OVER w")} AS sum_last_hour
    FROM events
    WHERE user_id < 30
    WINDOW w AS (
      PARTITION BY user_id ORDER BY {sql_floor_ms("ts")}
      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q77_range_frame(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    ev = ev.withColumn("ts_ms", F.unix_millis(F.col("ts")))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-3600000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_last_hour"),
    )


# --------------------------------------------------------------------------
# q76: null semantics in aggregation — SQL-standard null handling must
# match exactly: aggregates skip nulls, all-null groups yield NULL,
# count(col) vs count(*) vs count(distinct) differ.
# --------------------------------------------------------------------------
@register(
    "q76_null_aggregates",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             CASE WHEN value > 100 THEN NULL ELSE value END AS v,
             nullif(user_id % 5, 0) AS grp
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(v) AS n_nonnull,
           COUNT(DISTINCT grp) AS n_groups_nonnull,
           {sql_dsum("v")} AS sum_v,
           min(v) AS min_v,
           max(grp) AS max_grp
    FROM t GROUP BY event_type
    ORDER BY event_type
    """,
)
def q76_null_aggregates(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.when(F.col("value") > 100, F.lit(None)).otherwise(F.col("value")).alias("v"),
        F.expr("nullif(user_id % 5, 0)").alias("grp"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("v").alias("n_nonnull"),
            F.countDistinct("grp").alias("n_groups_nonnull"),
            dsum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("grp").alias("max_grp"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q75: edit distance — levenshtein between every pair of event types
# (identical definition in both engines) + padding/translate/repeat
# string surface.
# --------------------------------------------------------------------------
@register(
    "q75_edit_distance",
    oracle="""
    WITH t AS (SELECT DISTINCT event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           levenshtein(a.event_type, b.event_type) AS edit_dist,
           lpad(a.event_type, 10, '.') AS padded,
           translate(a.event_type, 'aeiou', 'AEIOU') AS vowels_up,
           repeat(left(a.event_type, 2), 2) AS doubled
    FROM t a JOIN t b ON a.event_type < b.event_type
    """,
)
def q75_edit_distance(spark, sf_dir):
    types = table(spark, sf_dir, "events").select("event_type").distinct()
    a = types.select(F.col("event_type").alias("type_a"))
    b = types.select(F.col("event_type").alias("type_b"))
    return (
        a.crossJoin(b)
        .where(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.levenshtein("type_a", "type_b").alias("edit_dist"),
            F.lpad("type_a", 10, ".").alias("padded"),
            F.translate("type_a", "aeiou", "AEIOU").alias("vowels_up"),
            F.repeat(F.substring("type_a", 1, 2), 2).alias("doubled"),
        )
    )


# --------------------------------------------------------------------------
# q74: date/interval arithmetic — day differences, interval shifts,
# ISO-week truncation (all integer/instant-exact cross-engine).
# --------------------------------------------------------------------------
@register(
    "q74_date_arithmetic",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           date_diff('day', o_orderdate, l_shipdate) AS ship_lag_days,
           {sql_floor_ms("o_orderdate + INTERVAL 30 DAY")} AS due_ms,
           {sql_floor_ms("date_trunc('week', l_shipdate)")} AS ship_week_ms,
           year(l_shipdate) AS ship_year,
           month(l_shipdate) AS ship_month,
           dayofweek(l_shipdate) + 1 AS ship_dow
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey <= 50
    """,
)
def q74_date_arithmetic(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
                "ship_lag_days"
            ),
            F.unix_millis(
                (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).cast("timestamp")
            ).alias("due_ms"),
            F.unix_millis(
                F.date_trunc("week", F.col("l_shipdate")).cast("timestamp")
            ).alias("ship_week_ms"),
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
            F.dayofweek("l_shipdate").alias("ship_dow"),
        )
    )


# --------------------------------------------------------------------------
# q72: correlated min (TPC-H Q2 shape) — the cheapest line item per
# part, ties kept. Spark decorrelates to a per-part min + equality join.
# --------------------------------------------------------------------------
@register(
    "q72_correlated_min",
    oracle="""
    SELECT p.p_partkey, p.p_name, l.l_orderkey, l.l_linenumber,
           l.l_extendedprice
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 45
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q72_correlated_min(spark, sf_dir):
    part = table(spark, sf_dir, "part").where(F.col("p_size") >= 45)
    li = table(spark, sf_dir, "lineitem")
    per_part_min = li.groupBy(F.col("l_partkey").alias("mpk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(
            per_part_min,
            (F.col("l_partkey") == F.col("mpk"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .select("p_partkey", "p_name", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


# --------------------------------------------------------------------------
# q73: EXISTS + NOT EXISTS on the same fact (TPC-H Q21 shape) —
# semi-join and anti-join stacked on one plan.
# --------------------------------------------------------------------------
@register(
    "q73_multi_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
          AND l.l_quantity > 49
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
          AND l.l_discount > 0.08
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q73_multi_exists(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") > 49).select("l_orderkey")
    discounted = li.where(F.col("l_discount") > 0.08).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(discounted, orders.o_orderkey == discounted.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q69: posexplode — positional unnest of array columns (the ordinal
# twin of the explode used throughout the parsers).
# --------------------------------------------------------------------------
@register(
    "q69_posexplode",
    oracle="""
    WITH e AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:4] AS v FROM embeddings
      WHERE vec_id < 50
    )
    SELECT vec_id, g.i - 1 AS pos, v[g.i] AS val
    FROM e, UNNEST(generate_series(1, len(v))) AS g(i)
    """,
)
def q69_posexplode(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    v = F.slice(F.col("embedding").cast("array<double>"), 1, 4)
    return emb.select("vec_id", F.posexplode(v).alias("pos", "val"))


# --------------------------------------------------------------------------
# q70: regexp group extraction (both engines return '' on no match).
# --------------------------------------------------------------------------
@register(
    "q70_regexp_groups",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 1) AS first_word,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
           regexp_extract(text, '([0-9]+)', 1) AS first_number
    FROM documents
    WHERE doc_id % 7 = 0
    """,
)
def q70_regexp_groups(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 1).alias("first_word"),
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
    )


# --------------------------------------------------------------------------
# q68: bitwise aggregates (order-independent, engine-exact).
# --------------------------------------------------------------------------
@register(
    "q68_bit_aggs",
    oracle="""
    SELECT event_type,
           bit_and(event_id) AS all_and,
           bit_or(event_id) AS all_or,
           bit_xor(event_id) AS all_xor,
           bool_and(value > 0) AS all_positive,
           bool_or(value > 200) AS any_large
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q68_bit_aggs(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("event_id").alias("all_and"),
            F.bit_or("event_id").alias("all_or"),
            F.bit_xor("event_id").alias("all_xor"),
            F.bool_and(F.col("value") > 0).alias("all_positive"),
            F.bool_or(F.col("value") > 200).alias("any_large"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q60/q61: approximate aggregates. The sketches themselves
# (HyperLogLog++ / KLL) are engine-internal, so the CHECKED columns are
# the exact counterparts (bit-comparable in any engine) plus an
# in-bound boolean the Spark plan computes by running the approx
# aggregate in the SAME plan and testing it against the exact value;
# the oracle asserts the boolean is TRUE. A sketch regression (bias
# beyond the documented error bound) therefore flips a checked value
# and fails the driver hash — the approx path is exercised and gated,
# not just row-counted. Tight bounds are additionally pinned in
# tests/test_operators.py (test_approx_aggs_tight_bounds).
# --------------------------------------------------------------------------
@register(
    "q60_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_in_bound,
           TRUE AS orders_in_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q60_approx_distinct(spark, sf_dir):
    # 2 exact count-distincts (Expand 3x) + 2 HLL sketches all fuse
    # into the single-row-group scan task — fan out first (r12)
    li = fan_out(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_partkey", "l_orderkey"
        )
    )

    def rel_err(approx, exact):
        return F.abs(approx.cast("double") - exact.cast("double")) / exact.cast(
            "double"
        )

    # default rsd = 0.05; 0.2 is a 4-sigma acceptance bound
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_ap"),
        F.approx_count_distinct("l_orderkey").alias("_ao"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        (rel_err(F.col("_ap"), F.col("exact_parts")) <= 0.2).alias(
            "parts_in_bound"
        ),
        (rel_err(F.col("_ao"), F.col("exact_orders")) <= 0.2).alias(
            "orders_in_bound"
        ),
    )


@register(
    "q61_approx_percentile",
    oracle="""
    WITH c AS (
      SELECT l_linestatus, l_extendedprice,
             cume_dist() OVER (
               PARTITION BY l_linestatus ORDER BY l_extendedprice
             ) AS cd
      FROM lineitem
    )
    SELECT l_linestatus,
           MIN(CASE WHEN cd >= 0.1 THEN l_extendedprice END) AS p10_disc,
           MIN(CASE WHEN cd >= 0.5 THEN l_extendedprice END) AS p50_disc,
           MIN(CASE WHEN cd >= 0.9 THEN l_extendedprice END) AS p90_disc,
           TRUE AS p10_in_bound,
           TRUE AS p50_in_bound,
           TRUE AS p90_in_bound
    FROM c GROUP BY l_linestatus
    """,
)
def q61_approx_percentile(spark, sf_dir):
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    # exact discrete percentiles via cume_dist (q92's cross-engine
    # idiom: integer counts divide in double identically in any engine)
    w = W.partitionBy("l_linestatus").orderBy("l_extendedprice")
    c = li.select(
        "l_linestatus",
        "l_extendedprice",
        F.cume_dist().over(w).alias("cd"),
    )

    def disc(p, alias):
        return F.min(
            F.when(F.col("cd") >= p, F.col("l_extendedprice"))
        ).alias(alias)

    # percentile_approx(accuracy=10000) guarantees relative RANK error
    # <= 1e-4; the +/-0.01-rank acceptance window is 100x looser
    exact = c.groupBy("l_linestatus").agg(
        disc(0.1, "p10_disc"),
        disc(0.5, "p50_disc"),
        disc(0.9, "p90_disc"),
        disc(0.09, "_lo10"),
        disc(0.11, "_hi10"),
        disc(0.49, "_lo50"),
        disc(0.51, "_hi50"),
        disc(0.89, "_lo90"),
        disc(0.91, "_hi90"),
    )
    approx = li.groupBy("l_linestatus").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_a50"),
        # the [0.1, 0.9] list form returns an array; split into scalar
        # columns so the driver's pandas canonicalizer can hash rows
        F.element_at(
            F.percentile_approx("l_extendedprice", [0.1, 0.9], 10000), 1
        ).alias("_a10"),
        F.element_at(
            F.percentile_approx("l_extendedprice", [0.1, 0.9], 10000), 2
        ).alias("_a90"),
    )

    def in_bound(a, lo, hi, alias):
        return ((F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))).alias(alias)

    return exact.join(approx, "l_linestatus").select(
        "l_linestatus",
        "p10_disc",
        "p50_disc",
        "p90_disc",
        in_bound("_a10", "_lo10", "_hi10", "p10_in_bound"),
        in_bound("_a50", "_lo50", "_hi50", "p50_in_bound"),
        in_bound("_a90", "_lo90", "_hi90", "p90_in_bound"),
    )
