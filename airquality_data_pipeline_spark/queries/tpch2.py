"""Fifth advanced-coverage batch (round 5, session 6): the remaining
classic TPC-H query shapes not yet in the catalog — Q4 (EXISTS
semi-join priority check), Q11 (group share vs a global scalar
threshold), Q12 (conditional priority counts over delay buckets),
Q14 (promo revenue ratio), Q15 (top-supplier scalar-max subquery),
Q16 (NOT IN anti-join + COUNT DISTINCT), Q18 (HAVING-gated order
rollup joined back to its dimensions), Q19 (disjunctive
OR-of-conjunctions join predicate), Q20 (two-level dominance
aggregate + semi-join chain), Q22 (anti-join + above-average scalar
filter) — each adapted to the fixture schema (no partsupp /
shipmode / commitdate / container / phone columns; the adaptation is
stated per query).

Plan rules follow advanced4.py: part / supplier / nation dimension
sides broadcast; the only large shuffles are lineitem-orders
equi-joins and the per-key aggregates; scalar denominators
(grand totals, global maxima, global averages) are single-row
DataFrames broadcast into a crossJoin, never a second scan driven
from the driver. Cross-engine exactness per queries/common.py:
decimal-quantized sums (dsum / sql_dsum), BIGINT counts,
timestamps compared against `F.lit(...).cast("timestamp")` pinned to
the UTC session. No reference analog: the reference app
(/root/reference/app/main.py) has no analytics surface; these rows
extend SURVEY.md §2.5's "not present" families.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.queries.common import (
    dec,
    dsum,
    roundq,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_floor_ms,
    sql_roundq,
    ts_ms,
)
from airquality_data_pipeline_spark.queries.registry import register


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# q240: order priority check — the TPC-H Q4 shape. Orders placed in
# 1996Q1 that had at least one line shipped more than 30 days after
# the order date, counted per priority. The probe is a LEFT SEMI join
# (one shuffle on orderkey); the quarter filter pushes into the
# orders scan. Fixture has no l_commitdate/l_receiptdate, so "late"
# is l_shipdate > o_orderdate + 30 days.
# --------------------------------------------------------------------------
@register(
    "q240_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority AS order_priority,
           CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY 1
    """,
)
def q240_order_priority_check(spark, sf_dir):
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    o = (
        table(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy(
        F.col("o_orderpriority").alias("order_priority")
    ).agg(F.count(F.lit(1)).alias("n_late_orders"))


# --------------------------------------------------------------------------
# q241: important parts — the TPC-H Q11 shape (group value vs a scalar
# fraction of the grand total). Fixture has no partsupp, so "value"
# is shipped revenue per part; a part is important if its value
# exceeds 1.2x the mean per-part value. The mean is a single-row
# aggregate broadcast into a crossJoin — no second scan, no
# driver-side collect. Both engines derive the threshold from the
# SAME re-quantized per-part doubles, so the comparison is bit-exact.
# --------------------------------------------------------------------------
@register(
    "q241_important_parts",
    oracle=f"""
    WITH v AS (
      SELECT l_partkey,
             {sql_dsum("l_extendedprice * (1 - l_discount)")}
               AS part_value
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT {sql_dsum("part_value")} / COUNT(*) AS avg_value
      FROM v
    )
    SELECT v.l_partkey AS partkey, v.part_value
    FROM v, t
    WHERE v.part_value > 1.2 * t.avg_value
    """,
)
def q241_important_parts(spark, sf_dir):
    v = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum(_rev()).alias("part_value"))
    )
    t = v.agg(
        (
            dsum("part_value") / F.count(F.lit(1))
        ).alias("avg_value")
    )
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("part_value") > 1.2 * F.col("avg_value"))
        .select("partkey", "part_value")
    )


# --------------------------------------------------------------------------
# q242: ship-delay priority counts — the TPC-H Q12 shape (conditional
# priority aggregate over a lineitem-orders join). Fixture has no
# l_shipmode, so the grouping key is the shipping-delay bucket
# (days between order and ship date). One shuffle (the orderkey
# join); the year filter pushes into the lineitem scan; the
# priority CASE folds into the aggregate.
# --------------------------------------------------------------------------
@register(
    "q242_ship_delay_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 7
                THEN 'fast'
                WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) <= 30
                THEN 'normal' ELSE 'late' END AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE year(l.l_shipdate) = 1996
    GROUP BY 1
    """,
)
def q242_ship_delay_priority(spark, sf_dir):
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate") == 1996)
        .select("l_orderkey", "l_shipdate")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.when(d <= 7, "fast")
            .when(d <= 30, "normal")
            .otherwise("late")
            .alias("delay_bucket"),
            high.alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# q243: promo revenue share — the TPC-H Q14 shape, widened to every
# month of 1996 (the fixture's p_type domain has a literal 'PROMO'
# value). part broadcasts; one shuffle (the month aggregate); the
# ratio is a single double division of two decimal-exact sums
# computed in the SAME aggregate pass (no second scan for the
# denominator).
# --------------------------------------------------------------------------
_Q243_PROMO = sql_double(
    "SUM(CASE WHEN p.p_type = 'PROMO'"
    f" THEN {sql_dec('l.l_extendedprice * (1 - l.l_discount)')}"
    f" ELSE {sql_dec('0')} END)"
)
_Q243_TOTAL = sql_dsum("l.l_extendedprice * (1 - l.l_discount)")


@register(
    "q243_promo_revenue_share",
    oracle="""
    SELECT CAST(month(l.l_shipdate) AS BIGINT) AS ship_month,
           {promo} AS promo_revenue,
           {total} AS total_revenue,
           {pct_rq} AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE year(l.l_shipdate) = 1996
    GROUP BY 1
    """.format(
        # ratio of 6-dp decimal sums is a rational (.5-tie class):
        # guarded floor grid, not round() (r10 q225 class)
        pct_rq=sql_roundq(f"100.0 * {_Q243_PROMO} / {_Q243_TOTAL}"),
        promo=_Q243_PROMO,
        total=_Q243_TOTAL,
    ),
)
def q243_promo_revenue_share(spark, sf_dir):
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate") == 1996)
        .select(
            "l_partkey",
            F.month("l_shipdate").cast("long").alias("ship_month"),
            _rev().alias("rev"),
        )
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,6)")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", dec("rev", 6)).otherwise(zero)
    ).cast("double")
    total = dsum("rev")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("ship_month")
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            roundq(100.0 * promo / total).alias("promo_pct"),
        )
    )


# --------------------------------------------------------------------------
# q244: top supplier — the TPC-H Q15 shape: per-supplier revenue over
# a quarter, returning the supplier(s) whose revenue equals the
# global maximum. The maximum is a single-row aggregate broadcast
# into a crossJoin (never a collect); supplier names broadcast.
# MAX of doubles is order-independent, so the equality filter is
# bit-exact on both engines. The explicit l_suppkey IS NOT NULL
# filter (on BOTH engines) exists so the probe and max sides share
# one canonical subtree: without it, the supplier equi-join pushes
# isnotnull into only the probe side's scan and AQE's stage cache
# misses — the lineitem scan + aggregate would run twice.
# --------------------------------------------------------------------------
@register(
    "q244_top_supplier_revenue",
    oracle=f"""
    WITH r AS (
      SELECT l_suppkey,
             {sql_dsum("l_extendedprice * (1 - l_discount)")}
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
        AND l_suppkey IS NOT NULL
      GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name, r.total_rev
    FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM r)
    """,
)
def q244_top_supplier_revenue(spark, sf_dir):
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    r = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(dsum(_rev()).alias("total_rev"))
    )
    mx = r.agg(F.max("total_rev").alias("max_rev"))
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supp_name")
    )
    return (
        r.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("suppkey"))
        .select("suppkey", "supp_name", "total_rev")
    )


# --------------------------------------------------------------------------
# q245: brand/size supplier counts — the TPC-H Q16 shape: COUNT
# DISTINCT suppliers per (brand, size) over shipped lines, with an
# excluded-supplier anti-join. Fixture has no partsupp or supplier
# comments, so the facts are lineitem rows and the exclusion set is
# "suppliers based in NATION_0" (a broadcast LEFT ANTI). part
# broadcasts; the count-distinct is the only shuffle.
# --------------------------------------------------------------------------
@register(
    "q245_brand_supplier_counts",
    oracle="""
    SELECT p.p_brand AS brand, CAST(p.p_size AS BIGINT) AS size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type <> 'STANDARD'
      AND l.l_suppkey NOT IN (
        SELECT s.s_suppkey FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_0'
      )
    GROUP BY 1, 2
    """,
)
def q245_brand_supplier_counts(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_type") != "STANDARD")
        .select("p_partkey", "p_brand", "p_size")
    )
    excluded = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").where(
                    F.col("n_name") == "NATION_0"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(excluded), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("long").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# q246: large-volume customers — the TPC-H Q18 shape: orders whose
# total line quantity exceeds a threshold (250 ~= the fixture's p99),
# joined back to orders and customer. The HAVING-gated rollup runs
# FIRST so only the qualifying orderkeys (~1%) flow into the joins;
# the qualifying set is small, so both dimension joins broadcast it.
# --------------------------------------------------------------------------
@register(
    "q246_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey,
             {sql_dsum("l_quantity", 2)}
               AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING {sql_dsum("l_quantity", 2)} > 250
    )
    SELECT c.c_name AS cust_name, o.o_orderkey AS orderkey,
           {sql_floor_ms("o.o_orderdate")} AS order_date_ms,
           o.o_totalprice AS total_price, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q246_large_volume_customers(spark, sf_dir):
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        "o_custkey",
        ts_ms("o_orderdate", "order_date_ms"),
        F.col("o_totalprice").alias("total_price"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("cust_name")
    )
    return (
        o.join(F.broadcast(big), F.col("orderkey") == big.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("cust_name", "orderkey", "order_date_ms", "total_price", "sum_qty")
    )


# --------------------------------------------------------------------------
# q247: disjunctive-predicate revenue — the TPC-H Q19 shape: revenue
# over an OR of three (brand/size/quantity) conjunctions. Fixture has
# no p_container/l_shipmode, so the branches combine p_brand, p_size
# ranges and l_quantity ranges. part broadcasts; Catalyst folds the
# disjunction into the single broadcast-hash-join filter, and the
# common p_size bounds still push down. Single-row output.
# --------------------------------------------------------------------------
@register(
    "q247_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")}
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 5 AND 45
           AND l.l_quantity >= 25)
    """,
)
def q247_disjunctive_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _rev().alias("rev")
    )
    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    qty = F.col("l_quantity")
    size = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & size.between(1, 15)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & size.between(10, 30)
            & qty.between(10, 35)
        )
        | ((F.col("p_type") == "PROMO") & size.between(5, 45) & (qty >= 25))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("rev").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q248: dominant widget suppliers — the TPC-H Q20 shape (two-level
# aggregate feeding a semi-join chain). Fixture has no partsupp, so
# "dominance": a supplier dominates a widget part when it shipped
# more than 2x that part's mean per-supplier quantity (the supplier
# pool grows with SF, so an absolute share threshold would go empty —
# the relative rule selects at every SF). Per-(part, supplier)
# quantities aggregate once; per-part totals derive from that result
# (a tiny, part-bounded table that broadcasts back); the supplier /
# nation name lookup broadcasts. Both engines re-quantize the
# per-supplier doubles before the part total, so the comparison is
# bit-exact.
# --------------------------------------------------------------------------
@register(
    "q248_dominant_widget_suppliers",
    oracle=f"""
    WITH sh AS (
      SELECT l.l_partkey, l.l_suppkey,
             {sql_dsum("l.l_quantity", 2)} AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%widget'
        AND l.l_partkey IS NOT NULL AND l.l_suppkey IS NOT NULL
      GROUP BY 1, 2
    ),
    t AS (
      SELECT l_partkey,
             {sql_dsum("q", 2)}
               / COUNT(*) AS mean_q
      FROM sh GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
           n.n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_parts_dominated
    FROM sh JOIN t ON sh.l_partkey = t.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE sh.q > 2.0 * t.mean_q
    GROUP BY 1, 2, 3
    """,
)
def q248_dominant_widget_suppliers(spark, sf_dir):
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget"))
        .select("p_partkey")
    )
    # explicit isnotnull on BOTH keys in the shared subtree: the later
    # suppkey join implies isnotnull(l_suppkey) on only one of sh's two
    # references, which desyncs the branch filters and breaks AQE
    # exchange reuse (the q244 lesson; surfaced again on an alt-stats
    # fixture). Semantically a no-op (join keys are non-null).
    sh = (
        table(spark, sf_dir, "lineitem")
        .where(
            F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity", 2).alias("q"))
    )
    t = sh.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            dsum("q", 2) / F.count(F.lit(1))
        ).alias("mean_q")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("nation_name")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "nation_name",
        )
    )
    return (
        sh.join(F.broadcast(t), sh.l_partkey == F.col("t_partkey"))
        .where(F.col("q") > 2.0 * F.col("mean_q"))
        .join(F.broadcast(s), sh.l_suppkey == F.col("suppkey"))
        .groupBy("suppkey", "supp_name", "nation_name")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
    )


# --------------------------------------------------------------------------
# q249: dormant high-balance customers — the TPC-H Q22 shape:
# positive-balance customers above the average positive balance with
# no recent orders, rolled up per nation. Fixture has no c_phone, so
# the "country code" grouping is the (broadcast-joined) nation name,
# and "no orders" is "no orders since 2000-01-01" (every fixture
# customer has SOME order). The average is a single-row broadcast;
# the recency probe is a LEFT ANTI join against the date-filtered
# orders scan (the filter pushes down, so the anti side is small).
# --------------------------------------------------------------------------
@register(
    "q249_dormant_high_balance",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_dsum("c_acctbal", 2)}
               / COUNT(c_acctbal) AS avg_positive_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           {sql_dsum("c.c_acctbal", 2)}
             AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey, avg_bal a
    WHERE c.c_acctbal > a.avg_positive_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q249_dormant_high_balance(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            dsum("c_acctbal", 2)
            / F.count("c_acctbal")
        ).alias("avg_positive_bal")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation_name")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_positive_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", 2).alias("total_balance"),
        )
    )
