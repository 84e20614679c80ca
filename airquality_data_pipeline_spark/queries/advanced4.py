"""Fourth advanced-coverage batch (round 5, session 5): TPC-H-shaped
multi-join analytics (Q7 nation trade flow, Q8 market share, Q9
product profit) plus information-gain feature scoring, exact rolling
medians, fixed-depth BFS reachability over the co-purchase graph, and
a long-format table profiler.

Plan rules: every dimension (nation, supplier, customer-as-dim, part)
broadcasts; the lineitem-orders equi-join is the only big shuffle in
the TPC-H shapes (same discipline as q158's snowflake rollup); the
BFS expands a BOUNDED frontier through order-key-bounded co-purchase
edges, never an all-pairs product. Cross-engine exactness follows
queries/common.py: decimal-quantized revenue sums, integer counts,
log2/entropy behind round(..., 6). No reference analog: the reference
app (/root/reference/app/main.py) has no analytics surface; these rows
extend SURVEY.md §2.5's "not present" families.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import md5_int_sql, md5_unit
from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.operators.similarity import cosine_sql
from airquality_data_pipeline_spark.queries.common import (
    dec,
    dsum,
    epoch_day,
    finite,
    roundq,
    roundz,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_epoch_day,
    sql_finite,
    sql_floor_ms,
    sql_roundq,
    sql_roundz,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q201: nation trade flow — the TPC-H Q7 shape: revenue shipped between
# each (supplier nation, customer nation) pair per ship year, cross-
# border pairs only, 1996-1997. The supplier and customer sides each
# reduce to a broadcast key->nation map; the only shuffled join is
# lineitem-orders on orderkey. Year filter pushes into the parquet
# scan.
# --------------------------------------------------------------------------
@register(
    "q201_nation_trade",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(count(*) AS BIGINT) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE year(l.l_shipdate) IN (1996, 1997)
      AND ns.n_nationkey <> nc.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q201_nation_trade(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1996, 1997)
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            F.col("n_nationkey").alias("cust_nkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            F.col("n_nationkey").alias("supp_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("supp_nkey") != F.col("cust_nkey"))
    )
    return j.groupBy("supp_nation", "cust_nation", "ship_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("rev").alias("revenue"),
    )


# --------------------------------------------------------------------------
# q202: market share — the TPC-H Q8 shape: NATION_0's share of total
# supplier revenue per ship year, computed as a conditional aggregate
# in ONE pass (no second scan for the denominator). The share is a
# single division of two decimal-exact sums.
# --------------------------------------------------------------------------
@register(
    "q202_market_share",
    oracle="""
    SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           {revenue} AS total_revenue,
           {share_rq} AS nation0_share
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """.format(
        # ratio of 6-dp decimal sums is a rational (.5-tie class):
        # guarded floor grid, not round() (r10 q225 class)
        share_rq=sql_roundq(
            sql_double(
                "SUM(CASE WHEN n.n_name = 'NATION_0'"
                f" THEN {sql_dec('l.l_extendedprice * (1 - l.l_discount)')}"
                f" ELSE {sql_dec('0')} END)"
            )
            + " / "
            + sql_dsum("l.l_extendedprice * (1 - l.l_discount)")
        ),
        revenue=sql_dsum("l.l_extendedprice * (1 - l.l_discount)"),
    ),
)
def q202_market_share(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    j = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    total = dsum("rev")
    n0 = F.sum(
        F.when(F.col("n_name") == "NATION_0", dec("rev", 6)).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    return j.groupBy("ship_year").agg(
        total.alias("total_revenue"),
        roundq(n0 / total).alias("nation0_share"),
    )


# --------------------------------------------------------------------------
# q203: product profit — the TPC-H Q9 shape: per supplier nation and
# ship year, profit = revenue - synthetic unit cost (60% of retail
# price; the fixture has no partsupp table, so the cost basis is
# p_retailprice — stated in the output column name). part and the
# supplier->nation map both broadcast; the only shuffle is the final
# groupBy. Profit is quantized at scale 6 (retail 2-dec x int qty x
# 0.6 => <= 3 decimals; revenue => <= 4).
# --------------------------------------------------------------------------
@register(
    "q203_product_profit",
    oracle=f"""
    SELECT n.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           {sql_dsum(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - 0.6 * p.p_retailprice * l.l_quantity"
           )}
             AS profit_vs_retail_cost
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def q203_product_profit(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        "l_extendedprice",
        "l_discount",
        "l_quantity",
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    supp = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    return j.groupBy("supp_nation", "ship_year").agg(
        dsum(profit).alias("profit_vs_retail_cost")
    )


# --------------------------------------------------------------------------
# q204: information gain of event_type for predicting a high-value
# event (value > 100) — the decision-tree split-scoring primitive
# (q164's chi-square measures association; IG measures it in bits).
# One map-side-combinable groupBy collects (n_x, n_x_pos); the
# entropies are assembled from those integer counts in identical
# double expressions (p*log2(p) guarded at p in {0,1}) and rounded to
# 6 — the catalog's standard libm-ulp guard.
# --------------------------------------------------------------------------
@register(
    "q204_info_gain",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nx,
             CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                  AS BIGINT) AS px
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(nx) AS BIGINT) AS n,
             CAST(SUM(px) AS BIGINT) AS p
      FROM g
    ),
    ent AS (
      SELECT n, p,
             CASE WHEN p = 0 OR p = n THEN 0.0
                  ELSE -(CAST(p AS DOUBLE) / n)
                         * log2(CAST(p AS DOUBLE) / n)
                       - (1.0 - CAST(p AS DOUBLE) / n)
                         * log2(1.0 - CAST(p AS DOUBLE) / n)
             END AS h_y
      FROM tot
    ),
    cond AS (
      SELECT CAST(SUM(CAST(nx AS DOUBLE) / t.n * (
               CASE WHEN px = 0 OR px = nx THEN 0.0
                    ELSE -(CAST(px AS DOUBLE) / nx)
                           * log2(CAST(px AS DOUBLE) / nx)
                         - (1.0 - CAST(px AS DOUBLE) / nx)
                           * log2(1.0 - CAST(px AS DOUBLE) / nx)
               END)) AS DOUBLE) AS h_y_given_x
      FROM g, tot t
    )
    SELECT e.n AS n_events, round(e.h_y, 6) AS h_y,
           round(c.h_y_given_x, 6) AS h_y_given_x,
           round(e.h_y - c.h_y_given_x, 6) AS info_gain
    FROM ent e, cond c
    """,
)
def q204_info_gain(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") > 100, 1).otherwise(0).alias("y"),
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nx"), F.sum("y").alias("px")
    )

    def binent(p_cnt, n_cnt):
        pr = p_cnt.cast("double") / n_cnt
        return (
            F.when((p_cnt == 0) | (p_cnt == n_cnt), F.lit(0.0))
            .otherwise(-pr * F.log2(pr) - (1.0 - pr) * F.log2(1.0 - pr))
        )

    tot = g.agg(F.sum("nx").alias("n"), F.sum("px").alias("p"))
    cond = (
        g.crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("nx").cast("double")
                / F.col("n")
                * binent(F.col("px"), F.col("nx"))
            ).alias("term")
        )
        .agg(F.sum("term").cast("double").alias("h_y_given_x"))
    )
    ent = tot.select(
        "n", "p", binent(F.col("p"), F.col("n")).alias("h_y")
    )
    return ent.crossJoin(F.broadcast(cond)).select(
        F.col("n").alias("n_events"),
        F.round("h_y", 6).alias("h_y"),
        F.round("h_y_given_x", 6).alias("h_y_given_x"),
        F.round(F.col("h_y") - F.col("h_y_given_x"), 6).alias("info_gain"),
    )


# --------------------------------------------------------------------------
# q205: exact rolling median — 7-day trailing median of the daily
# event-count series per event type (the robust twin of a moving
# average; q145's MAD is the dispersion analog). percentile(0.5) over
# a ROWS frame computes the exact interpolated median; integer counts
# make the interpolation arithmetic (a + (b-a)*0.5) exact in both
# engines, so no rounding is needed. Keyed windows over the daily
# AGGREGATE — partitions are O(days) regardless of event volume.
# --------------------------------------------------------------------------
@register(
    "q205_rolling_median",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {sql_epoch_day("ts")} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, d, v,
           median(v) OVER (PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM daily
    """,
)
def q205_rolling_median(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        epoch_day("ts").cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).alias("v"))
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "d",
        "v",
        F.expr("percentile(v, 0.5)").over(w).alias("med7"),
    )


# --------------------------------------------------------------------------
# q206: fixed-depth BFS reachability — parts reachable from part 0 in
# <= 2 hops over the co-purchase graph (parts sharing an order). Each
# hop is one equi-join of the CURRENT FRONTIER against the
# order-key-bounded edge list (items-per-order caps the fanout) — the
# unrolled, scale-shaped form of a recursive CTE for a known hop
# budget (the iterative-to-convergence version is operators/graph.py's
# CC). The frontier filter is pushed BEFORE pair formation: each hop
# semi-joins the a-side of the co-purchase self-join against the
# (broadcastable) current frontier, so the global distinct edge list
# is never materialized — per-hop work tracks the frontier's order
# neighborhood, not |edges| (measured: 2.6 s -> 0.6 s at sf0.1).
# --------------------------------------------------------------------------
@register(
    "q206_khop_reachability",
    oracle="""
    WITH hop1 AS (
      SELECT DISTINCT b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey = 0 AND b.l_partkey <> 0
    ),
    hop2 AS (
      SELECT DISTINCT b.l_partkey AS dst
      FROM lineitem a
      JOIN hop1 h ON a.l_partkey = h.dst
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE b.l_partkey <> 0
        AND b.l_partkey <> a.l_partkey
        AND b.l_partkey NOT IN (SELECT dst FROM hop1)
    )
    SELECT CAST(1 AS BIGINT) AS hop,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM hop1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS hop,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM hop2
    """,
)
def q206_khop_reachability(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    hop1 = (
        a.where(F.col("a.l_partkey") == 0)
        .join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("b.l_partkey") != 0)
        .select(F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    frontier = hop1.withColumnRenamed("dst", "mid")
    hop2 = (
        a.join(F.broadcast(frontier), F.col("a.l_partkey") == F.col("mid"))
        .join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(
            (F.col("b.l_partkey") != 0)
            & (F.col("b.l_partkey") != F.col("a.l_partkey"))
        )
        .select(F.col("b.l_partkey").alias("dst"))
        .distinct()
        .join(hop1, "dst", "left_anti")
    )
    one = hop1.agg(
        F.lit(1).cast("long").alias("hop"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    two = hop2.agg(
        F.lit(2).cast("long").alias("hop"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    return one.unionByName(two)


# --------------------------------------------------------------------------
# q207: table profiler — the long-format per-column summary (nulls,
# exact distinct count, min/max as strings) every ingestion pipeline
# runs before trusting a new feed (the generalized form of q161's
# targeted DQ probes). ONE scan computes every metric (multi-column
# count-distinct plans as a single expand), then a row-local stack
# pivots wide->long. String rendering sticks to bigint/varchar
# columns so both engines format identically.
# --------------------------------------------------------------------------
@register(
    "q207_table_profile",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n,
             count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
             CAST(min(o_orderkey) AS VARCHAR) AS mn1,
             CAST(max(o_orderkey) AS VARCHAR) AS mx1,
             count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
             CAST(min(o_custkey) AS VARCHAR) AS mn2,
             CAST(max(o_custkey) AS VARCHAR) AS mx2,
             count(o_orderstatus) AS c3,
             count(DISTINCT o_orderstatus) AS d3,
             min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
             count(o_orderpriority) AS c4,
             count(DISTINCT o_orderpriority) AS d4,
             min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4
      FROM orders
    )
    SELECT col, CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_val, max_val
    FROM (
      SELECT 'o_orderkey' AS col, n - c1 AS n_nulls, d1 AS n_distinct,
             mn1 AS min_val, mx1 AS max_val FROM m
      UNION ALL
      SELECT 'o_custkey', n - c2, d2, mn2, mx2 FROM m
      UNION ALL
      SELECT 'o_orderstatus', n - c3, d3, mn3, mx3 FROM m
      UNION ALL
      SELECT 'o_orderpriority', n - c4, d4, mn4, mx4 FROM m
    )
    """,
)
def q207_table_profile(spark, sf_dir):
    # 4 exact count-distincts Expand the scan 4x and the whole
    # update side fuses into the single-row-group scan task — fan out
    # so the Expand + partial aggregation run at full parallelism (r12)
    o = fan_out(
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
        )
    )
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderkey").alias("c1"),
        F.countDistinct("o_orderkey").alias("d1"),
        F.min("o_orderkey").cast("string").alias("mn1"),
        F.max("o_orderkey").cast("string").alias("mx1"),
        F.count("o_custkey").alias("c2"),
        F.countDistinct("o_custkey").alias("d2"),
        F.min("o_custkey").cast("string").alias("mn2"),
        F.max("o_custkey").cast("string").alias("mx2"),
        F.count("o_orderstatus").alias("c3"),
        F.countDistinct("o_orderstatus").alias("d3"),
        F.min("o_orderstatus").alias("mn3"),
        F.max("o_orderstatus").alias("mx3"),
        F.count("o_orderpriority").alias("c4"),
        F.countDistinct("o_orderpriority").alias("d4"),
        F.min("o_orderpriority").alias("mn4"),
        F.max("o_orderpriority").alias("mx4"),
    )
    return m.select(
        F.expr(
            "stack(4,"
            " 'o_orderkey', n - c1, d1, mn1, mx1,"
            " 'o_custkey', n - c2, d2, mn2, mx2,"
            " 'o_orderstatus', n - c3, d3, mn3, mx3,"
            " 'o_orderpriority', n - c4, d4, mn4, mx4)"
            " AS (col, n_nulls, n_distinct, min_val, max_val)"
        )
    )


# --------------------------------------------------------------------------
# q208: top-N with OTHER rollup — per customer market segment, the 3
# order priorities with the highest revenue keep their names and the
# tail collapses into 'OTHER' (the standard reporting cardinality
# cap). The ranking window runs on the (segment, priority) AGGREGATE
# (|segments| x |priorities| rows), with a (revenue desc, priority)
# tiebreak so the cut is deterministic; revenue sums are
# decimal-exact at both levels.
# --------------------------------------------------------------------------
@register(
    "q208_topn_with_other",
    oracle=f"""
    WITH agg AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             {sql_dsum("o.o_totalprice")} AS rev,
             CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, priority, rev, n,
             row_number() OVER (PARTITION BY segment
               ORDER BY rev DESC, priority) AS rk
      FROM agg
    )
    SELECT segment,
           CASE WHEN rk <= 3 THEN priority ELSE 'OTHER' END AS bucket,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           {sql_dsum("rev")} AS revenue
    FROM ranked GROUP BY 1, 2
    """,
)
def q208_topn_with_other(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            dsum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("segment").orderBy(
            F.col("rev").desc(), F.col("priority")
        )
    )
    ranked = agg.withColumn("rk", rk)
    bucket = F.when(F.col("rk") <= 3, F.col("priority")).otherwise("OTHER")
    return ranked.groupBy(
        "segment", bucket.alias("bucket")
    ).agg(
        F.sum("n").alias("n_orders"),
        dsum("rev").alias("revenue"),
    )


# --------------------------------------------------------------------------
# q209: binary-segmentation changepoint — the optimal single split of
# the daily event-count series minimizing total within-segment SSE
# (the variance-based complement to q192's CUSUM locator: CUSUM finds
# the peak cumulative deviation, this finds the split a 2-segment
# piecewise-constant fit would choose). Prefix sums of v and v^2 stay
# int64 over the running window, each candidate split's SSE is one
# double expression from those exact integers, and the argmin is a
# deterministic (sse asc, day asc) rank — all on the ~30-row daily
# aggregate.
# --------------------------------------------------------------------------
@register(
    "q209_binary_segmentation",
    oracle="""
    WITH daily AS (
      SELECT {ts_day} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT d, v,
             CAST(SUM(v) OVER w AS BIGINT) AS cs,
             CAST(SUM(v * v) OVER w AS BIGINT) AS css,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(SUM(v) OVER () AS BIGINT) AS st,
             CAST(SUM(v * v) OVER () AS BIGINT) AS sst
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    sse AS (
      SELECT d, k, n,
             (css - CAST(cs AS DOUBLE) * cs / k)
             + ((sst - css)
                - CAST(st - cs AS DOUBLE) * (st - cs) / (n - k)) AS s2,
             sst - CAST(st AS DOUBLE) * st / n AS s0
      FROM pre WHERE k < n
    )
    SELECT d AS split_epoch_day, k AS n_left, n - k AS n_right,
           {s2_rq} AS sse_split,
           {red_rq} AS sse_reduction
    FROM (
      SELECT *, row_number() OVER (ORDER BY s2 ASC, d ASC) AS rk
      FROM sse
    ) WHERE rk = 1
    """.format(
        ts_day=sql_epoch_day("ts"),
        # SSEs of integer counts are k/m rationals (.5-tie class):
        # guarded floor grid, not round() (r10 q225 class)
        s2_rq=sql_roundq("s2"),
        red_rq=sql_roundq("s0 - s2"),
    ),
)
def q209_binary_segmentation(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        epoch_day("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    wrun = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("d").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    pre = daily.select(
        "d",
        F.sum("v").over(wrun).alias("cs"),
        F.sum(F.col("v") * F.col("v")).over(wrun).alias("css"),
        F.row_number().over(W.orderBy("d")).cast("long").alias("k"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("v").over(wall).alias("st"),
        F.sum(F.col("v") * F.col("v")).over(wall).alias("sst"),
    )
    s2 = (
        F.col("css") - F.col("cs").cast("double") * F.col("cs") / F.col("k")
    ) + (
        (F.col("sst") - F.col("css"))
        - (F.col("st") - F.col("cs")).cast("double")
        * (F.col("st") - F.col("cs"))
        / (F.col("n") - F.col("k"))
    )
    s0 = F.col("sst") - F.col("st").cast("double") * F.col("st") / F.col("n")
    sse = pre.where(F.col("k") < F.col("n")).select(
        "d", "k", "n", s2.alias("s2"), s0.alias("s0")
    )
    rk = F.row_number().over(W.orderBy(F.col("s2").asc(), F.col("d").asc()))
    return (
        sse.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            F.col("d").alias("split_epoch_day"),
            F.col("k").alias("n_left"),
            (F.col("n") - F.col("k")).alias("n_right"),
            roundq(F.col("s2")).alias("sse_split"),
            roundq(F.col("s0") - F.col("s2")).alias("sse_reduction"),
        )
    )


# --------------------------------------------------------------------------
# q210: Pareto frontier (skyline) — parts not dominated on
# (minimize retail price, maximize size). Only the max-size point per
# distinct price can survive, so the skyline reduces to a groupBy on
# price followed by one ascending sweep: keep the point iff its size
# strictly exceeds the running max over all strictly cheaper points.
# The sweep window runs on the per-price AGGREGATE (|distinct prices|
# rows), the standard sort-based skyline shape — never the O(n^2)
# dominance join.
# --------------------------------------------------------------------------
@register(
    "q210_pareto_frontier",
    oracle="""
    WITH best AS (
      SELECT p_retailprice AS price, CAST(max(p_size) AS BIGINT) AS size
      FROM part GROUP BY p_retailprice
    ),
    sweep AS (
      SELECT price, size,
             max(size) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM best
    )
    SELECT price, size
    FROM sweep WHERE prev_max IS NULL OR size > prev_max
    """,
)
def q210_pareto_frontier(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.windows import (
        pareto_frontier,
    )

    p = table(spark, sf_dir, "part").select(
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    return pareto_frontier(p, minimize_col="price", maximize_col="size")


# --------------------------------------------------------------------------
# q211: robust means — arithmetic, geometric (exp of the mean log) and
# harmonic (reciprocal of the mean reciprocal) value per event type.
# Per-row ln(v) and 1/v go through the catalog's decimal quantization
# before the order-dependent sum (the q135 char-entropy recipe: the
# quantized value is identical on both engines, so the exact decimal
# sum is too); the final exp/division is a single rounded expression.
# One map-side-combinable groupBy.
# --------------------------------------------------------------------------
@register(
    "q211_robust_means",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           {arith_rq} AS mean_arith,
           round(exp({sum_ln} / count(*)), 6) AS mean_geom,
           {harm_rq} AS mean_harm
    FROM events WHERE value > 0
    GROUP BY event_type
    """.format(
        # arith/harm means are micro-unit rationals (.5-tie class):
        # guarded floor grid; geom is exp-derived — tie-free, round()
        # ok (r10 q225 class)
        arith_rq=sql_roundq(sql_dsum("value") + " / count(*)"),
        sum_ln=sql_dsum("ln(value)"),
        harm_rq=sql_roundq("count(*) / " + sql_dsum("1.0 / value")),
    ),
)
def q211_robust_means(spark, sf_dir):
    ev = table(spark, sf_dir, "events").where(F.col("value") > 0)
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        roundq(dsum("value") / n).alias("mean_arith"),
        F.round(
            F.exp(dsum(F.log("value")) / n), 6
        ).alias("mean_geom"),
        roundq(
            n / dsum(F.lit(1.0) / F.col("value"))
        ).alias("mean_harm"),
    )


# --------------------------------------------------------------------------
# q212: survivorship merge (MDM golden record) — collapse each
# (customer, order day) duplicate group into one record under explicit
# per-column survivorship rules: latest surrogate key wins the status
# (struct-argmax), amounts keep the maximum, priority keeps the
# SQL-minimum, and the group's cardinality is retained for audit. Only
# true duplicate groups (>1 record) are emitted — the q189
# duplicate-detection output is the natural input feed. One keyed
# groupBy; every rule is an aggregate, no window, no self-join.
# --------------------------------------------------------------------------
@register(
    "q212_survivorship",
    oracle=f"""
    SELECT o_custkey,
           {sql_floor_ms("CAST(o_orderdate AS TIMESTAMP)")} AS order_day_ms,
           CAST(count(*) AS BIGINT) AS n_dupes,
           CAST(max(o_orderkey) AS BIGINT) AS golden_key,
           max_by(o_orderstatus, o_orderkey) AS golden_status,
           max(o_totalprice) AS golden_amount,
           min(o_orderpriority) AS golden_priority
    FROM orders
    GROUP BY o_custkey, o_orderdate
    HAVING count(*) > 1
    """,
)
def q212_survivorship(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_dupes"),
        F.max("o_orderkey").alias("golden_key"),
        F.expr("max_by(o_orderstatus, o_orderkey)").alias("golden_status"),
        F.max("o_totalprice").alias("golden_amount"),
        F.min("o_orderpriority").alias("golden_priority"),
    )
    return g.where(F.col("n_dupes") > 1).select(
        "o_custkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "order_day_ms"
        ),
        "n_dupes",
        "golden_key",
        "golden_status",
        "golden_amount",
        "golden_priority",
    )


# --------------------------------------------------------------------------
# q213: forecast backtest — seasonal-naive forecast (this day's count
# = the count 7 days earlier) over the daily per-type series, scored
# with MAE / MAPE / SMAPE (the standard forecast-eval triple; q06 is
# the fit, this is the honest holdout scoring). The lag-7 lookup is a
# keyed lag window on the daily AGGREGATE; errors are integer
# |v - f|, the relative terms are decimal-quantized per row before
# the mean.
# --------------------------------------------------------------------------
@register(
    "q213_backtest_smape",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             {ts_day} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    fc AS (
      SELECT event_type, d, v,
             lag(v, 7) OVER (PARTITION BY event_type ORDER BY d) AS f
      FROM daily
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           {mae_rq} AS mae,
           {mape_rq} AS mape,
           {smape_rq} AS smape
    FROM fc WHERE f IS NOT NULL
    GROUP BY event_type
    """.format(
        ts_day=sql_epoch_day("ts"),
        # all three error means are rationals over integer counts
        # (.5-tie class): guarded floor grid (r10 q225 class)
        mae_rq=sql_roundq("CAST(SUM(abs(v - f)) AS DOUBLE) / count(*)"),
        mape_rq=sql_roundq(
            sql_dsum("CAST(abs(v - f) AS DOUBLE) / v") + " / count(*)"
        ),
        smape_rq=sql_roundq(
            sql_dsum("2.0 * abs(v - f) / (v + f)") + " / count(*)"
        ),
    ),
)
def q213_backtest_smape(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        epoch_day("ts").cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).alias("v"))
    w = W.partitionBy("event_type").orderBy("d")
    fc = daily.withColumn("f", F.lag("v", 7).over(w)).where(
        F.col("f").isNotNull()
    )
    n = F.count(F.lit(1))
    err = F.abs(F.col("v") - F.col("f"))
    return fc.groupBy("event_type").agg(
        n.alias("n_days"),
        roundq(F.sum(err).cast("double") / n).alias("mae"),
        roundq(
            dsum(err.cast("double") / F.col("v"))
            / n
        ).alias("mape"),
        roundq(
            dsum(2.0 * err / (F.col("v") + F.col("f")))
            / n
        ).alias("smape"),
    )


# --------------------------------------------------------------------------
# q220: CUPED variance reduction — the experimentation-platform
# adjustment: using each user's PRE-period spend as the covariate,
# theta = cov(x,y)/var(x) computed once globally, then per-variant
# outcome variance before/after the adjustment
# y' = y - theta*(x - mean_x). Everything reduces to one per-user
# aggregate (two conditional sums); the adjusted variance uses the
# closed form var(y') = var(y) - 2*theta*cov(x,y) + theta^2*var(x) so
# no second pass over users is needed. Deterministic variant =
# user_id % 2.
#
# Exactness (hot_key x10 sweep catch): the sufficient statistics are
# INTEGER micro-units end-to-end — per-user sums scale to 1e-6 BIGINT
# exactly (decimal sums are exact, *1e6 is exact), products/sums stay
# in DECIMAL(38,0)/HUGEINT integer arithmetic, and only the finished
# statistics convert to double (integer->double conversion is
# correctly rounded in both engines; the DuckDB sums go through
# common.sql_double per the >17-digit rule). The previous shape cast
# x*x (a double ~1e12) to DECIMAL(24,6), where x*x*1e6 >> 2^53 makes
# Spark's exact-BigDecimal and DuckDB's scaled-float conversions
# diverge — syy drifted ~100 ULPs and var_y flipped 1e-6 quanta.
# Final outputs quantize on the shared floor grid (roundq); variance
# denominators use try_divide to match DuckDB's NULL on /0.
# --------------------------------------------------------------------------
@register(
    "q220_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN {sql_dec("value")}
                      ELSE {sql_dec("0")} END) * 1000000
                  AS BIGINT) AS xm,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN {sql_dec("value")}
                      ELSE {sql_dec("0")} END) * 1000000
                  AS BIGINT) AS ym
      FROM events GROUP BY user_id
    ),
    gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sql_double("SUM(xm)")} / 1000000.0 AS sx,
             {sql_double("SUM(ym)")} / 1000000.0 AS sy,
             {sql_double("SUM(CAST(xm AS HUGEINT) * xm)")} / 1000000000000.0 AS sxx,
             {sql_double("SUM(CAST(xm AS HUGEINT) * ym)")} / 1000000000000.0 AS sxy
      FROM per_user
    ),
    theta AS (
      SELECT n, sx / n AS mx,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
      FROM gstats
    ),
    cell AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
             {sql_double("SUM(xm)")} / 1000000.0 AS sx,
             {sql_double("SUM(ym)")} / 1000000.0 AS sy,
             {sql_double("SUM(CAST(xm AS HUGEINT) * xm)")} / 1000000000000.0 AS sxx,
             {sql_double("SUM(CAST(ym AS HUGEINT) * ym)")} / 1000000000000.0 AS syy,
             {sql_double("SUM(CAST(xm AS HUGEINT) * ym)")} / 1000000000000.0 AS sxy
      FROM per_user GROUP BY variant
    )
    SELECT c.variant, c.n_users,
           -- shared guarded floor grid (sql_roundq): round() diverges
           -- from Spark's exact-BigDecimal rounding once x*1e6
           -- approaches 2^53 (var_y ~1.1e10 on the hot_key fixture)
           {sql_roundq('c.sy / c.n_users')} AS mean_y,
           {sql_roundq('c.sy / c.n_users'
                       ' - t.th * (c.sx / c.n_users - t.mx)')}
             AS mean_y_adj,
           {sql_roundq('(c.syy - c.sy * c.sy / c.n_users)'
                       ' / (c.n_users - 1)')} AS var_y,
           {sql_roundq('((c.syy - c.sy * c.sy / c.n_users)'
                       ' - 2 * t.th * (c.sxy - c.sx * c.sy / c.n_users)'
                       ' + t.th * t.th *'
                       ' (c.sxx - c.sx * c.sx / c.n_users))'
                       ' / (c.n_users - 1)')} AS var_y_adj
    FROM cell c, theta t
    """,
)
def q220_cuped(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,6)")
    # per-user sums as exact 1e-6 BIGINT micro-units (decimal sum is
    # exact; *1e6 stays decimal-exact; the cast truncates nothing)
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("ts") < cutoff, dec("value", 6)).otherwise(zero)
            )
            * 1000000
        )
        .cast("bigint")
        .alias("xm"),
        (
            F.sum(
                F.when(F.col("ts") >= cutoff, dec("value", 6)).otherwise(zero)
            )
            * 1000000
        )
        .cast("bigint")
        .alias("ym"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("long"))

    def d38(c):
        # BIGINT -> DECIMAL(19,0): products run in exact integer
        # decimal arithmetic (micro^2 units, values << 10^38)
        return c.cast("decimal(19,0)")

    def to_d(c, unit):
        return (c.cast("double") / F.lit(unit))

    glob = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("sxm"),
        F.sum("ym").alias("sym"),
        F.sum(d38(F.col("xm")) * d38(F.col("xm"))).alias("sxxm"),
        F.sum(d38(F.col("xm")) * d38(F.col("ym"))).alias("sxym"),
    ).select(
        "n",
        to_d(F.col("sxm"), 1e6).alias("sx"),
        to_d(F.col("sym"), 1e6).alias("sy"),
        to_d(F.col("sxxm"), 1e12).alias("sxx"),
        to_d(F.col("sxym"), 1e12).alias("sxy"),
    )
    theta = glob.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        F.try_divide(
            F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
            F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
        ).alias("th"),
    )
    cell = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("xm").alias("sxm"),
        F.sum("ym").alias("sym"),
        F.sum(d38(F.col("xm")) * d38(F.col("xm"))).alias("sxxm"),
        F.sum(d38(F.col("ym")) * d38(F.col("ym"))).alias("syym"),
        F.sum(d38(F.col("xm")) * d38(F.col("ym"))).alias("sxym"),
    ).select(
        "variant",
        "n_users",
        to_d(F.col("sxm"), 1e6).alias("sx"),
        to_d(F.col("sym"), 1e6).alias("sy"),
        to_d(F.col("sxxm"), 1e12).alias("sxx"),
        to_d(F.col("syym"), 1e12).alias("syy"),
        to_d(F.col("sxym"), 1e12).alias("sxy"),
    )
    j = cell.crossJoin(F.broadcast(theta))
    nu = F.col("n_users")
    var_y = F.try_divide(
        F.col("syy") - F.col("sy") * F.col("sy") / nu, nu - 1
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nu
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / nu
    var_adj = F.try_divide(
        (F.col("syy") - F.col("sy") * F.col("sy") / nu)
        - 2 * F.col("th") * cov
        + F.col("th") * F.col("th") * var_x,
        nu - 1,
    )
    # shared floor grid for the final 1e-6 quantization (hot_key x10
    # sweep catch: var_y ~1.1e10 made x*1e6 exceed 2^53, where Spark's
    # exact-BigDecimal round and DuckDB's float round diverge in the
    # trailing digits; mean_y drifted on the .5-boundary tie class)
    return j.select(
        "variant",
        "n_users",
        roundq(F.col("sy") / nu).alias("mean_y"),
        roundq(
            F.col("sy") / nu
            - F.col("th") * (F.col("sx") / nu - F.col("mx"))
        ).alias("mean_y_adj"),
        roundq(var_y).alias("var_y"),
        roundq(var_adj).alias("var_y_adj"),
    )


# --------------------------------------------------------------------------
# q221: difference-in-differences — the 2x2 causal contrast:
# (treated post - treated pre) - (control post - control pre) over
# mean event value, with all four cell means and counts reported.
# ONE conditional-aggregate pass over the fact table (no per-cell
# re-scan); decimal-exact sums, single-division means, and the DiD
# estimate assembled from the four exact ratios in one shared
# expression.
# --------------------------------------------------------------------------
@register(
    "q221_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             value
      FROM events
    ),
    agg AS (
      SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
             {s} AS s
      FROM cells GROUP BY treated, post
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s / n END) AS t_pre,
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s / n END) AS t_post,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s / n END) AS c_pre,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s / n END) AS c_post,
        CAST(SUM(n) AS BIGINT) AS n_events
      FROM agg
    )
    SELECT n_events,
           {t_pre_rq} AS treated_pre,
           {t_post_rq} AS treated_post,
           {c_pre_rq} AS control_pre,
           {c_post_rq} AS control_post,
           {did_rq} AS did_estimate
    FROM wide
    """.format(
        s=sql_dsum("value"),
        # cell means and their differences are micro-unit rationals
        # (.5-tie class): guarded floor grid, which also normalizes
        # -0.0 (r10 q225 class)
        t_pre_rq=sql_roundq("t_pre"),
        t_post_rq=sql_roundq("t_post"),
        c_pre_rq=sql_roundq("c_pre"),
        c_post_rq=sql_roundq("c_post"),
        did_rq=sql_roundq("(t_post - t_pre) - (c_post - c_pre)"),
    ),
)
def q221_diff_in_diff(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    cells = ev.select(
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(F.col("ts") >= cutoff, 1).otherwise(0).alias("post"),
        "value",
    )
    agg = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
    )

    def cell_mean(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("s") / F.col("n"),
            )
        )

    wide = agg.agg(
        cell_mean(1, 0).alias("t_pre"),
        cell_mean(1, 1).alias("t_post"),
        cell_mean(0, 0).alias("c_pre"),
        cell_mean(0, 1).alias("c_post"),
        F.sum("n").alias("n_events"),
    )
    return wide.select(
        "n_events",
        roundq(F.col("t_pre")).alias("treated_pre"),
        roundq(F.col("t_post")).alias("treated_post"),
        roundq(F.col("c_pre")).alias("control_pre"),
        roundq(F.col("c_post")).alias("control_post"),
        roundq(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_estimate"),
    )


# --------------------------------------------------------------------------
# q222: Poisson bootstrap CI — the scale-out bootstrap: instead of
# resampling n users with replacement (which needs global coordination),
# each user draws an independent Poisson(1) weight per replicate; at
# large n the weighted replicates converge to classical bootstrap
# resamples, and the whole procedure is one bounded 20x explode over
# the per-user AGGREGATE. Weights come from the catalog's md5-uniform
# through the hard-coded Poisson(1) inverse CDF (identical literals
# both engines), replicate means use decimal-exact weighted sums, and
# the 2.5/97.5 percentile CI is an exact interpolation over the 20
# replicate means rounded to the determinism grid.
# --------------------------------------------------------------------------
@register(
    "q222_poisson_bootstrap",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             {y} AS y
      FROM events GROUP BY user_id
    ),
    reps AS (
      SELECT user_id, y, r.rep,
             {h} / 4294967296.0 AS u
      FROM per_user, (SELECT unnest(range(0, 20)) AS rep) r
    ),
    weighted AS (
      SELECT rep, y,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  ELSE 6 END AS w
      FROM reps
    ),
    rep_means AS (
      SELECT rep,
             {wy} / CAST(SUM(w) AS BIGINT) AS m
      FROM weighted GROUP BY rep
    ),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             {est_rq} AS estimate
      FROM per_user
    )
    SELECT e.n_users, CAST(20 AS BIGINT) AS n_reps, e.estimate,
           {lo_rq} AS ci_lo,
           {hi_rq} AS ci_hi
    -- LEFT JOIN ON TRUE (identical to the comma join when rep_means
    -- is non-empty) so the single est row survives empty events
    -- (empty_relation axis) with NULL quantiles, matching Spark's
    -- crossJoin of the always-1-row aggregates.
    FROM est e LEFT JOIN rep_means r ON TRUE
    GROUP BY e.n_users, e.estimate
    """.format(
        h=md5_int_sql(
            "CAST(user_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)", 1, 8
        ),
        # the mean estimate and the interpolated percentiles of
        # rational replicate means are rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        y=sql_dsum("value"),
        wy=sql_dsum("w * y"),
        est_rq=sql_roundq(sql_dsum("y") + " / count(*)"),
        lo_rq=sql_roundq("quantile_cont(r.m, 0.025)"),
        hi_rq=sql_roundq("quantile_cont(r.m, 0.975)"),
    ),
)
def q222_poisson_bootstrap(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "value")
    per_user = ev.groupBy("user_id").agg(
        dsum("value").alias("y")
    )
    reps = per_user.select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("rep"),
    )
    u = md5_unit(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("rep").cast("string"),
        )
    )
    w = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .when(u < 0.9994058151824183, 5)
        .otherwise(6)
    )
    weighted = reps.select("rep", "y", w.alias("w"))
    # try_divide: with one user (single_row axis) a replicate whose
    # only Poisson weight is 0 has sum(w) = 0 — its mean is NULL on
    # both engines (and both percentile implementations skip NULLs)
    rep_means = weighted.groupBy("rep").agg(
        F.try_divide(
            dsum(F.col("w") * F.col("y")),
            F.sum("w"),
        ).alias("m")
    )
    est = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        roundq(
            dsum("y") / F.count(F.lit(1))
        ).alias("estimate"),
    )
    ci = rep_means.agg(
        roundq(F.expr("percentile(m, 0.025)")).alias("ci_lo"),
        roundq(F.expr("percentile(m, 0.975)")).alias("ci_hi"),
    )
    return est.crossJoin(F.broadcast(ci)).select(
        "n_users",
        F.lit(20).cast("long").alias("n_reps"),
        "estimate",
        "ci_lo",
        "ci_hi",
    )


# --------------------------------------------------------------------------
# q223: cohort LTV curve — cumulative revenue per signup cohort by
# weeks-since-signup (the lifetime-value read on q140's retention
# matrix). Cohort = the user's first event week; revenue accumulates
# as exact integer CENTS so the running sum over week offsets is pure
# int64 (a float running sum would be fold-order-sensitive). Keyed
# windows only: first-event per user, then (cohort, offset) rollup,
# then a per-cohort running sum over O(weeks) rows.
# --------------------------------------------------------------------------
@register(
    "q223_cohort_ltv",
    oracle="""
    WITH firsts AS (
      -- floor(days/7), NOT days // 7: DuckDB's integer // truncates
      -- toward zero, so pre-1970 days (negative) land one week late
      -- vs Spark's floor (ancient_ts axis)
      SELECT user_id,
             min(CAST(floor({ts_day} / 7.0) AS BIGINT)) AS cohort_wk
      FROM events GROUP BY user_id
    ),
    rev AS (
      SELECT e.user_id,
             CAST(floor({e_ts_day} / 7.0) AS BIGINT) - f.cohort_wk
               AS offset_wk,
             f.cohort_wk,
             CAST({cents_rq} AS BIGINT) AS cents
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
    ),
    cell AS (
      SELECT cohort_wk, offset_wk, CAST(SUM(cents) AS BIGINT) AS cents
      FROM rev GROUP BY cohort_wk, offset_wk
    )
    SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
           CAST(offset_wk AS BIGINT) AS offset_wk,
           CAST(SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY offset_wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_revenue_cents
    FROM cell
    """.format(
        ts_day=sql_epoch_day("ts"),
        e_ts_day=sql_epoch_day("e.ts"),
        # value*100 sits ON half-cent boundaries when value carries a
        # third decimal: guarded floor grid at scale 0 (r10 q225
        # class). sql_finite: a non-finite purchase amount is NULL
        # cents (SUM skips it) — unguarded, the BIGINT cast of NaN
        # raises on both engines (nonfinite axis).
        cents_rq=sql_roundq(f"{sql_finite('e.value')} * 100", 0),
    ),
)
def q223_cohort_ltv(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    wk = F.floor(epoch_day("ts") / 7).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(firsts), "user_id")
        .select(
            "cohort_wk",
            (wk - F.col("cohort_wk")).alias("offset_wk"),
            roundq(finite(F.col("value")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
    )
    cell = rev.groupBy("cohort_wk", "offset_wk").agg(
        F.sum("cents").alias("cents")
    )
    w = (
        W.partitionBy("cohort_wk")
        .orderBy("offset_wk")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return cell.select(
        "cohort_wk",
        "offset_wk",
        F.sum("cents").over(w).alias("cum_revenue_cents"),
    )


# --------------------------------------------------------------------------
# q224: contrastive negative sampling — for each query vector, emit
# its 3 exact nearest neighbors as positives plus 5 md5-ranked random
# negatives drawn from the rest of the corpus (the training-pair
# construction for embedding/reranker fine-tuning; deterministic, so
# the sampled dataset is reproducible across engines and runs). The
# positive side reuses the broadcast-query cosine top-k; the negative
# side ranks a per-(query, candidate) md5 uniform with positives
# anti-joined out — every join is keyed or broadcast-bounded.
# --------------------------------------------------------------------------
@register(
    "q224_negative_sampling",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
          WHERE vec_id < 5),
    pos AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT q.qid AS query_id, n.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {cosine_sql("q.qv", "q.qn", "n.v", "n.nrm")}
                   DESC, n.vec_id) AS rank
        FROM n, q WHERE n.vec_id <> q.qid AND n.nrm > 0 AND q.qn > 0
      ) WHERE rank <= 3
    ),
    neg AS (
      SELECT query_id, cand_id, rank FROM (
        SELECT q.qid AS query_id, n.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 md5(CAST(q.qid AS VARCHAR) || ':'
                     || CAST(n.vec_id AS VARCHAR)), n.vec_id) AS rank
        FROM n, q
        WHERE n.vec_id <> q.qid
          AND NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.query_id = q.qid
                            AND p.cand_id = n.vec_id)
      ) WHERE rank <= 5
    )
    SELECT query_id, cand_id, 'pos' AS label, rank FROM pos
    UNION ALL
    SELECT query_id, cand_id, 'neg' AS label, rank FROM neg
    """,
)
def q224_negative_sampling(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    # NULL vectors excluded on BOTH engines (null_text axis): they can
    # be neither positives nor sampled negatives
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    pos = cosine_topk(emb, query_pred=F.col("id") < 5, k=3).select(
        "query_id", F.col("neighbor_id").alias("cand_id"), "rank"
    )
    ids = emb.select(F.col("vec_id").alias("cand_id"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id")
    )
    cand = (
        ids.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(pos), ["query_id", "cand_id"], "left_anti")
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.md5(
                F.concat(
                    F.col("query_id").cast("string"),
                    F.lit(":"),
                    F.col("cand_id").cast("string"),
                )
            ),
            F.col("cand_id"),
        )
    )
    neg = (
        cand.withColumn("rank", rk)
        .where(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rank")
    )
    return pos.select(
        "query_id", "cand_id", F.lit("pos").alias("label"), "rank"
    ).unionByName(
        neg.select(
            "query_id", "cand_id", F.lit("neg").alias("label"), "rank"
        )
    )


# --------------------------------------------------------------------------
# q225: additive seasonal decomposition (STL-lite) — daily series =
# trend (centered 7-day mean, interior days only) + day-of-week
# seasonal (mean detrended per dow) + residual. The classical
# decomposition every anomaly detector (q150/q187) implicitly assumes;
# emitting the three components makes the assumption auditable.
# Trend = int64 window sum / 7 (identical division both engines);
# detrended values are decimal-quantized before the seasonal mean;
# everything runs on the ~30-row daily aggregate.
# --------------------------------------------------------------------------
@register(
    "q225_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT {ts_day} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT d, v,
             CAST(SUM(v) OVER w AS BIGINT) AS s7,
             CAST(count(*) OVER w AS BIGINT) AS n7
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT d, v, CAST(s7 AS DOUBLE) / 7 AS trend,
             d % 7 AS dow,
             {dt} AS dt
      FROM tr WHERE n7 = 7
    ),
    seas AS (
      SELECT dow,
             {sum_dt} / count(*) AS seasonal
      FROM det GROUP BY dow
    )
    SELECT det.d, det.v, {trend_rq} AS trend,
           {seasonal_rq} AS seasonal,
           {residual_rq} AS residual
    FROM det JOIN seas s ON det.dow = s.dow
    """.format(
        ts_day=sql_epoch_day("ts"),
        dt=sql_dec("v - CAST(s7 AS DOUBLE) / 7"),
        sum_dt=sql_double("SUM(dt)"),
        trend_rq=sql_roundq("det.trend"),
        seasonal_rq=sql_roundq("s.seasonal"),
        residual_rq=sql_roundq(f"{sql_double('det.dt')} - s.seasonal"),
    ),
)
def q225_seasonal_decompose(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        epoch_day("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    w = W.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "v",
        F.sum("v").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    det = tr.where(F.col("n7") == 7).select(
        "d",
        "v",
        (F.col("s7").cast("double") / 7).alias("trend"),
        (F.col("d") % 7).alias("dow"),
        (F.col("v") - F.col("s7").cast("double") / 7)
        .cast("decimal(18,6)")
        .alias("dt"),
    )
    seas = det.groupBy("dow").agg(
        (F.sum("dt").cast("double") / F.count(F.lit(1))).alias("seasonal")
    )
    j = det.join(F.broadcast(seas), "dow")
    # Final roundings on the shared guarded floor grid (roundq): the
    # hot_key+all_ties x30 sweep caught residual = dt - seasonal
    # landing on a .5 boundary of the 1e-6 grid (dt is grid-exact
    # DECIMAL(18,6), seasonal a continuous quotient), where Spark's
    # BigDecimal HALF_UP and DuckDB's float-space round diverge by one
    # quantum ('33.035715' vs '33.035714'). roundq is the same IEEE
    # ops on both engines and also normalizes -0.0 (the seed3 x0.25
    # catch that previously needed the + 0.0 idiom).
    return j.select(
        "d",
        "v",
        roundq(F.col("trend")).alias("trend"),
        roundq(F.col("seasonal")).alias("seasonal"),
        roundq(F.col("dt").cast("double") - F.col("seasonal")).alias(
            "residual"
        ),
    )


# --------------------------------------------------------------------------
# q226: burst detection — hours where volume exceeds 2x the trailing
# 24-hour median, grouped into maximal consecutive burst episodes with
# start/end/peak (the Kleinberg-style burst summary on top of q205's
# rolling-median machinery). Baseline medians need a FULL trailing
# window (first 24 hours emit nothing); episode grouping is the
# gaps-and-islands row_number trick over burst hours only. Keyed by
# event_type end to end; integer interpolation keeps the median
# bit-exact. Organic bursts vanish at large SF (relative variance
# shrinks with volume), so one deterministic spike is PLANTED
# (epoch-hour divisible by 503 -> 10x volume) — the detector must
# recover it at every scale; smaller fixtures add organic episodes.
# --------------------------------------------------------------------------
@register(
    "q226_burst_detection",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                            date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT)
               * CASE WHEN CAST(date_diff('hour',
                        TIMESTAMP '1970-01-01 00:00:00',
                        date_trunc('hour', ts)) AS BIGINT) % 503 = 0
                      THEN 10 ELSE 1 END AS v
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, h, v,
             median(v) OVER w AS med24,
             CAST(count(*) OVER w AS BIGINT) AS n24
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    bursts AS (
      SELECT event_type, h, v,
             h - row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS grp
      FROM base WHERE n24 = 24 AND v > 2 * med24
    )
    SELECT event_type,
           min(h) AS start_h, max(h) AS end_h,
           CAST(count(*) AS BIGINT) AS n_hours,
           max(v) AS peak_v
    FROM bursts GROUP BY event_type, grp
    """,
)
def q226_burst_detection(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = ev.groupBy(
        "event_type",
        (
            F.unix_millis(F.date_trunc("hour", "ts"))
            / F.lit(3600000)
        )
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("v0")).select(
        "event_type",
        "h",
        (
            F.col("v0")
            * F.when(F.col("h") % 503 == 0, 10).otherwise(1)
        ).alias("v"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    base = hourly.select(
        "event_type",
        "h",
        "v",
        F.expr("percentile(v, 0.5)").over(w).alias("med24"),
        F.count(F.lit(1)).over(w).alias("n24"),
    )
    bursts = base.where(
        (F.col("n24") == 24) & (F.col("v") > 2 * F.col("med24"))
    ).select(
        "event_type",
        "h",
        "v",
        (
            F.col("h")
            - F.row_number().over(
                W.partitionBy("event_type").orderBy("h")
            )
        ).alias("grp"),
    )
    return bursts.groupBy("event_type", "grp").agg(
        F.min("h").alias("start_h"),
        F.max("h").alias("end_h"),
        F.count(F.lit(1)).alias("n_hours"),
        F.max("v").alias("peak_v"),
    ).drop("grp")


# --------------------------------------------------------------------------
# q227: Mann-Kendall trend test — the nonparametric significance test
# that pairs with q181's Theil-Sen slope estimate: S = sum of
# sign(v_j - v_i) over ordered day pairs, tie-corrected variance, and
# the continuity-corrected z statistic. The pair join runs on the
# ~30-row daily AGGREGATE (bounded O(days^2), never the fact table);
# S, the tie groups, and var(S)*18 stay integer, so z is the only
# double.
# --------------------------------------------------------------------------
@register(
    "q227_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT {ts_day} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.v > a.v THEN 1
                  WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    s AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
             AS BIGINT) AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY v)
      WHERE t > 1
    )
    SELECT nn.n, s.s_stat,
           {var_rq} AS var_s,
           {z_rz} AS z,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS direction
    FROM s, nn, ties
    """.format(
        ts_day=sql_epoch_day("ts"),
        # var_s = integer/18 rational (.5-tie class): guarded floor
        # grid; z's denominator is sqrt-derived — tie-free (r10 q225)
        var_rq=sql_roundq(
            "(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)"
            " - ties.tie_term AS DOUBLE)) / 18"
        ),
        z_rz=sql_roundz(
            "CASE"
            " WHEN s.s_stat > 0 THEN (s.s_stat - 1)"
            " / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)"
            " - ties.tie_term AS DOUBLE) / 18)"
            " WHEN s.s_stat < 0 THEN (s.s_stat + 1)"
            " / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)"
            " - ties.tie_term AS DOUBLE) / 18)"
            " ELSE 0.0 END"
        ),
    ),
)
def q227_mann_kendall(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        epoch_day("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
        .alias("sg")
    )
    s = pairs.agg(F.sum("sg").alias("s_stat"))
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(t > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)
            ).alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("double")
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(var18 / 18),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(var18 / 18),
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "n",
        "s_stat",
        roundq(var18 / 18).alias("var_s"),
        roundz(z).alias("z"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no_trend")
        .alias("direction"),
    )


# --------------------------------------------------------------------------
# q228: Wald-Wolfowitz runs test — is the daily series randomly
# ordered around its median, or does it cluster (the serial-dependence
# screen run before trusting i.i.d. assumptions in q222's bootstrap)?
# Days equal to the median are excluded (standard), runs are counted
# with one lag over the ~30-row aggregate, and E[R]/Var[R] come from
# the exact integer n1, n2 counts in shared double expressions.
# --------------------------------------------------------------------------
@register(
    "q228_runs_test",
    oracle="""
    WITH daily AS (
      SELECT {ts_day} AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    med AS (SELECT median(v) AS m FROM daily),
    signs AS (
      SELECT d, CASE WHEN v > m THEN 1 ELSE 0 END AS up
      FROM daily, med WHERE v <> m
    ),
    runs AS (
      SELECT up,
             CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                  OR lag(up) OVER (ORDER BY d) <> up
             THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    agg AS (
      SELECT CAST(SUM(new_run) AS BIGINT) AS r,
             CAST(SUM(up) AS BIGINT) AS n1,
             CAST(count(*) - SUM(up) AS BIGINT) AS n2
      FROM runs
    )
    SELECT r, n1, n2,
           {er_rq} AS expected_r,
           {z_rz} AS z
    FROM agg
    """.format(
        ts_day=sql_epoch_day("ts"),
        # expected_r = 2ab/(a+b)+1 rational (.5-tie class): guarded
        # floor grid; z is sqrt-denominated — tie-free (r10 q225)
        er_rq=sql_roundq("2.0 * n1 * n2 / (n1 + n2) + 1"),
        z_rz=sql_roundz(
            "(r - (2.0 * n1 * n2 / (n1 + n2) + 1))"
            " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
            " / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1)))"
        ),
    ),
)
def q228_runs_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        epoch_day("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    med = daily.agg(F.expr("percentile(v, 0.5)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("v") != F.col("m"))
        .select(
            "d", F.when(F.col("v") > F.col("m"), 1).otherwise(0).alias("up")
        )
    )
    w = W.orderBy("d")
    runs = signs.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.lag("up").over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").alias("r"),
        F.sum("up").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 2.0 * n1 * n2 / (n1 + n2) + 1
    # try_divide x2: a single off-median day makes n1+n2-1 = 0, and an
    # all-one-sign series makes vr = 0; DuckDB's x/0 is NULL, ANSI
    # Spark's `/` throws.
    vr = F.try_divide(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2),
        (n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1),
    )
    return agg.select(
        "r",
        "n1",
        "n2",
        roundq(er).alias("expected_r"),
        roundz(F.try_divide(r - er, F.sqrt(vr))).alias("z"),
    )


# --------------------------------------------------------------------------
# q231: sample-ratio-mismatch guardrail — before reading q167/q220/
# q221's effects, verify the variant assignment actually split 50/50:
# chi-square on observed user counts vs the expected equal split.
# One distinct-users aggregate; the statistic is one shared double
# expression over exact integer counts. (The catalog's deterministic
# user_id % 2 split is exactly balanced only when the user count is
# even — the query reports whatever the data says.)
# --------------------------------------------------------------------------
@register(
    "q231_srm_check",
    oracle="""
    WITH users AS (
      SELECT DISTINCT user_id, CAST(user_id % 2 AS BIGINT) AS variant
      FROM events
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n0
      FROM users
    )
    SELECT n0, n1,
           {chi_rq} AS chi_square,
           abs(n0 - n1) > 2 * sqrt(CAST(n0 + n1 AS DOUBLE)) AS srm_flag
    FROM counts
    """.format(
        # chi-square of integer counts is a k/n rational (.5-tie
        # class): guarded floor grid (r10 q225 class)
        chi_rq=sql_roundq(
            "(n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)"
            " / ((n0 + n1) / 2.0)"
            " + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)"
            " / ((n0 + n1) / 2.0)"
        ),
    ),
)
def q231_srm_check(spark, sf_dir):
    users = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select((F.col("user_id") % 2).cast("long").alias("variant"))
    )
    counts = users.agg(
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
    )
    n0, n1 = F.col("n0"), F.col("n1")
    exp = (n0 + n1) / 2.0
    chi = (n0 - exp) * (n0 - exp) / exp + (n1 - exp) * (n1 - exp) / exp
    return counts.select(
        "n0",
        "n1",
        roundq(chi).alias("chi_square"),
        (
            F.abs(n0 - n1) > 2 * F.sqrt((n0 + n1).cast("double"))
        ).alias("srm_flag"),
    )


# --------------------------------------------------------------------------
# q232: metric-capping sensitivity — the experimenter's robustness
# sweep: the mean of `value` with per-row caps at the metric's own
# p90/p95/p99 (winsorized means; if the uncapped and p99-capped means
# diverge, heavy users drive the readout and q220-style adjustments
# are fragile). Percentiles compute once on the full column, broadcast
# back as one row, and the three capped means run in the SAME
# conditional aggregate — two passes total regardless of how many cap
# levels are swept. Capped values are decimal-quantized per row.
# --------------------------------------------------------------------------
@register(
    "q232_capping_sensitivity",
    oracle="""
    WITH caps AS (
      -- percentiles over FINITE values only (sql_finite): Spark's
      -- percentile and DuckDB's quantile_cont disagree on NaN/inf
      -- input (nonfinite axis); the capped-mean DECIMAL casts already
      -- NULL non-finite per the grid convention
      SELECT quantile_cont({f}, 0.90) AS p90,
             quantile_cont({f}, 0.95) AS p95,
             quantile_cont({f}, 0.99) AS p99
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           {raw_rq} AS mean_raw,
           {p99_rq} AS mean_cap_p99,
           {p95_rq} AS mean_cap_p95,
           {p90_rq} AS mean_cap_p90
    FROM events, caps c
    GROUP BY c.p90, c.p95, c.p99
    """.format(
        # capped means are micro-unit rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        f=sql_finite("value"),
        raw_rq=sql_roundq(sql_dsum("value") + " / count(*)"),
        p99_rq=sql_roundq(sql_dsum("least(value, c.p99)") + " / count(*)"),
        p95_rq=sql_roundq(sql_dsum("least(value, c.p95)") + " / count(*)"),
        p90_rq=sql_roundq(sql_dsum("least(value, c.p90)") + " / count(*)"),
    ),
)
def q232_capping_sensitivity(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("value")
    fv = finite(F.col("value"))
    caps = ev.agg(
        F.percentile(fv, F.lit(0.90)).alias("p90"),
        F.percentile(fv, F.lit(0.95)).alias("p95"),
        F.percentile(fv, F.lit(0.99)).alias("p99"),
    )
    j = ev.crossJoin(F.broadcast(caps))
    n = F.count(F.lit(1))
    return j.groupBy("p90", "p95", "p99").agg(
        n.alias("n"),
        roundq(dsum("value") / n).alias("mean_raw"),
        roundq(
            dsum(F.least(F.col("value"), F.col("p99")))
            / n
        ).alias("mean_cap_p99"),
        roundq(
            dsum(F.least(F.col("value"), F.col("p95")))
            / n
        ).alias("mean_cap_p95"),
        roundq(
            dsum(F.least(F.col("value"), F.col("p90")))
            / n
        ).alias("mean_cap_p90"),
    ).drop("p90", "p95", "p99")


# --------------------------------------------------------------------------
# q237: uplift (Qini) table — per score decile, the treated-vs-control
# purchase-rate gap and its cumulative Qini contribution: the
# evaluation table for targeting models (does the model rank users
# whose behavior the treatment actually CHANGES?). Deciles reuse
# q196's explicit integer assignment over a (score desc, user) rank
# of the per-user aggregate; all rates are single divisions of exact
# integer counts; the cumulative gap is a 10-row running sum.
# --------------------------------------------------------------------------
@register(
    "q237_uplift_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS treated,
             {score} AS score,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
    ranked AS (
      SELECT treated, converted,
             CAST(row_number() OVER (ORDER BY score DESC, user_id)
               AS BIGINT) AS r
      FROM per_user
    ),
    dec AS (
      SELECT CAST(((r - 1) * 10) // t.n AS BIGINT) + 1 AS decile,
             treated, converted
      FROM ranked, tot t
    ),
    g AS (
      SELECT decile,
             CAST(SUM(treated) AS BIGINT) AS n_t,
             CAST(SUM(treated * converted) AS BIGINT) AS c_t,
             CAST(SUM(1 - treated) AS BIGINT) AS n_c,
             CAST(SUM((1 - treated) * converted) AS BIGINT) AS c_c
      FROM dec GROUP BY decile
    )
    SELECT decile, n_t, c_t, n_c, c_c,
           {uplift_rq} AS uplift,
           {cum_rq} AS cum_uplift
    FROM g
    """.format(
        score=sql_dsum("value"),
        # rate gaps k/n - j/m are rationals (.5-tie class): guarded
        # floor grid, which also normalizes -0.0 (r10 q225 class)
        uplift_rq=sql_roundq(
            "CASE WHEN n_t = 0 OR n_c = 0 THEN NULL"
            " ELSE CAST(c_t AS DOUBLE) / n_t"
            " - CAST(c_c AS DOUBLE) / n_c END"
        ),
        cum_rq=sql_roundq(
            "SUM(CASE WHEN n_t = 0 OR n_c = 0 THEN 0.0"
            " ELSE CAST(c_t AS DOUBLE) / n_t"
            " - CAST(c_c AS DOUBLE) / n_c END)"
            " OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    ),
)
def q237_uplift_deciles(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        dsum("value").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).select(
        "user_id",
        (F.col("user_id") % 2).cast("long").alias("treated"),
        "score",
        "converted",
    )
    # two-phase global rank (operators/windows): per-user scores are
    # near-unique doubles, so distinct-domain pre-aggregation would
    # not shrink them — range-partitioned rank instead of a
    # single-partition sort of the user dimension.
    from airquality_data_pipeline_spark.operators.windows import (
        global_row_number,
    )

    ranked = global_row_number(
        per_user,
        [F.col("score").desc(), F.col("user_id")],
        rn_col="r",
        n_col="n",
    )
    dec_ = ranked.select(
        (F.expr("((r - 1) * 10) div n") + 1).alias("decile"),
        "treated",
        "converted",
    )
    g = dec_.groupBy("decile").agg(
        F.sum("treated").alias("n_t"),
        F.sum(F.col("treated") * F.col("converted")).alias("c_t"),
        F.sum(1 - F.col("treated")).alias("n_c"),
        F.sum((1 - F.col("treated")) * F.col("converted")).alias("c_c"),
    )
    empty = (F.col("n_t") == 0) | (F.col("n_c") == 0)
    uplift = F.when(
        empty, F.lit(None).cast("double")
    ).otherwise(
        F.col("c_t").cast("double") / F.col("n_t")
        - F.col("c_c").cast("double") / F.col("n_c")
    )
    uplift0 = F.when(empty, F.lit(0.0)).otherwise(
        F.col("c_t").cast("double") / F.col("n_t")
        - F.col("c_c").cast("double") / F.col("n_c")
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return g.select(
        "decile",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        roundq(uplift).alias("uplift"),
        roundq(F.sum(uplift0).over(wc)).alias("cum_uplift"),
    )


# --------------------------------------------------------------------------
# q238: out-of-order lateness — how late do events arrive relative to
# the event-time high watermark at their arrival position (event_id =
# arrival order)? The design input for every watermark delay in
# streaming/jobs.py: p50/p95/p99/max lateness, plus the share of
# events a given delay would drop. The running max runs per USER
# (each user's stream is its own arrival sequence — matching the
# per-key state operators); lateness stays integer milliseconds.
# --------------------------------------------------------------------------
@register(
    "q238_watermark_lateness",
    oracle=f"""
    WITH arr AS (
      SELECT user_id, event_id, {sql_floor_ms("ts")} AS ts_ms,
             max({sql_floor_ms("ts")}) OVER (PARTITION BY user_id
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hwm_ms
      FROM events
    ),
    late AS (SELECT hwm_ms - ts_ms AS late_ms FROM arr)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(quantile_cont(late_ms, 0.5) AS DOUBLE) AS p50_ms,
           CAST(quantile_cont(late_ms, 0.95) AS DOUBLE) AS p95_ms,
           CAST(quantile_cont(late_ms, 0.99) AS DOUBLE) AS p99_ms,
           CAST(max(late_ms) AS BIGINT) AS max_ms,
           {{drop_rq}} AS dropped_at_1m
    FROM late
    """.format(
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        drop_rq=sql_roundq(
            "CAST(SUM(CASE WHEN late_ms > 60000 THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(*)"
        ),
    ),
)
def q238_watermark_lateness(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    arr = ev.select(
        ts_ms.alias("ts_ms"),
        F.max(ts_ms).over(w).alias("hwm_ms"),
    )
    late = arr.select((F.col("hwm_ms") - F.col("ts_ms")).alias("late_ms"))
    return late.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_ms") > 0, 1).otherwise(0)).alias(
            "n_late"
        ),
        F.expr("percentile(late_ms, 0.5)").alias("p50_ms"),
        F.expr("percentile(late_ms, 0.95)").alias("p95_ms"),
        F.expr("percentile(late_ms, 0.99)").alias("p99_ms"),
        F.max("late_ms").alias("max_ms"),
        roundq(
            F.sum(F.when(F.col("late_ms") > 60000, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("dropped_at_1m"),
    )
