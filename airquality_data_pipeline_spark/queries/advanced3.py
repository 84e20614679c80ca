"""Third advanced-coverage batch (round 5, session 5): model-eval and
reliability analytics — rank-sum ROC-AUC, lag-k autocorrelation, CUSUM
changepoint localization, Kaplan-Meier risk sets, interval-union
coverage, consecutive-day activity streaks, decile lift/gains tables,
and last-touch revenue attribution.

Design rules follow the catalog conventions (queries/common.py):
integer arithmetic carries every order-dependent computation (rank
sums, risk sets, island ids, cumulative counts) so cross-engine hashes
are bit-exact; doubles appear only in final single-expression ratios
(identical expression tree on both engines => identical IEEE ops) or
behind round(..., 6); windows are keyed (user/supplier/event-type)
except where the input is a pre-shrunk aggregate (documented per
query). No reference analog: the reference app
(/root/reference/app/main.py, a single-thread requests/psycopg loop)
has no analytics surface; these rows extend SURVEY.md §2.5's
"not present" families.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import md5_int, md5_int_sql
from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.queries.common import (
    dec,
    dsum,
    epoch_day,
    finite,
    roundq,
    roundz,
    spark_sql_dsum,
    split_bucket,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_epoch_day,
    sql_finite,
    sql_floor_ms,
    sql_roundq,
    sql_roundz,
    sql_split_bucket,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q190: ROC-AUC via the Mann-Whitney rank-sum identity — how well does
# `value` separate purchases (positives) from clicks (negatives)?
# AUC = U / (n_pos * n_neg) where U counts (pos, neg) pairs with
# pos.score > neg.score (+ 1/2 per tie). Computed WITHOUT any pairwise
# join: group by score (2-decimal values -> exact bigint cents), one
# running sum over the ~6.5k distinct scores gives the
# negatives-strictly-below count, and U*2 stays integer (the tie 1/2
# becomes +nn). The only double op is the final division. At 100 TB the
# groupBy shrinks the input to |distinct scores| rows before the
# single-partition window — the scalable shape for rank statistics.
# --------------------------------------------------------------------------
@register(
    "q190_roc_auc",
    oracle="""
    WITH s AS (
      SELECT CAST({s_rq} AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
      -- isfinite (NULL-propagating) excludes NULL AND NaN/inf scores:
      -- a non-finite score can't be ranked (nonfinite axis; grid cast
      -- of NaN raises on both engines)
      WHERE event_type IN ('purchase', 'click')
        AND isfinite(CAST(value AS DOUBLE))
    ),
    g AS (
      SELECT s, CAST(SUM(pos) AS BIGINT) AS np_,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn_
      FROM s GROUP BY s
    ),
    c AS (
      SELECT np_, nn_,
             COALESCE(SUM(nn_) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS below
      FROM g
    )
    SELECT CAST(SUM(np_) AS BIGINT) AS n_pos,
           CAST(SUM(nn_) AS BIGINT) AS n_neg,
           {auc_rq} AS auc
    FROM c
    """.format(
        # value*100 sits ON half-cent boundaries when value carries a
        # third decimal, and AUC = U/(2ab) is an integer rational:
        # guarded floor grid on both (r10 q225 class)
        s_rq=sql_roundq("value * 100", 0),
        auc_rq=sql_roundq(
            "CAST(SUM(np_ * (2 * below + nn_)) AS DOUBLE)"
            " / (2.0 * SUM(np_) * SUM(nn_))"
        ),
    ),
)
def q190_roc_auc(spark, sf_dir):
    # unscored (NULL) and unrankable (NaN/inf) rows are excluded on
    # BOTH engines: an unfiltered NULL score group sorts first in
    # Spark's running-sum window but last in DuckDB's (null_mass
    # axis), and the grid cast of a non-finite score raises on both
    # (nonfinite axis) — finite(x).isNotNull() covers both classes
    # the bare isNotNull is redundant with the finite() conjunct but
    # parquet-PUSHABLE (the CASE probe is not): row groups with
    # all-null value still skip via null-count stats at 100 TB
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
        & finite(F.col("value")).isNotNull()
    )
    s = ev.select(
        roundq(F.col("value") * 100, 0).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("s").agg(
        F.sum("pos").alias("np_"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn_"),
    )
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    c = g.select(
        "np_",
        "nn_",
        F.coalesce(F.sum("nn_").over(w), F.lit(0)).alias("below"),
    )
    return c.agg(
        F.sum("np_").alias("n_pos"),
        F.sum("nn_").alias("n_neg"),
        # try_divide: zero positives or zero negatives (no_purchases
        # axis) make AUC undefined -> NULL, like the oracle's /0
        roundq(
            F.try_divide(
                F.sum(
                    F.col("np_") * (2 * F.col("below") + F.col("nn_"))
                ).cast("double"),
                2.0 * F.sum("np_") * F.sum("nn_"),
            )
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# q191: autocorrelation function at lags 1..3 over the hourly event
# count series — the seasonality screen run before picking window sizes
# for q150/q187-style anomaly baselines. The hourly rollup shrinks the
# table to ~720 rows/month BEFORE the (single-partition, documented)
# lag window; Pearson moments stay in pure int64 (counts and their
# products), and the correlation is assembled as
# (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2)) — the
# two sqrt factors keep every intermediate inside int64/double range
# (the product of the two variance terms would overflow int64).
# --------------------------------------------------------------------------
@register(
    "q191_acf",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT v AS y,
             lag(v, 1) OVER (ORDER BY h) AS v1,
             lag(v, 2) OVER (ORDER BY h) AS v2,
             lag(v, 3) OVER (ORDER BY h) AS v3
      FROM hourly
    ),
    pairs AS (
      SELECT 1 AS lag, v1 AS x, y FROM lagged WHERE v1 IS NOT NULL
      UNION ALL
      SELECT 2 AS lag, v2 AS x, y FROM lagged WHERE v2 IS NOT NULL
      UNION ALL
      SELECT 3 AS lag, v3 AS x, y FROM lagged WHERE v3 IS NOT NULL
    ),
    m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n,
           {sql_roundz(
               "CAST(n * sxy - sx * sy AS DOUBLE)"
               " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
               " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
           )} AS acf
    FROM m
    """,
)
def q191_acf(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("ts")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("v")
    )
    w = W.orderBy("h")
    lagged = hourly.select(
        F.col("v").alias("y"),
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    pairs = lagged.select(
        F.col("y"),
        F.expr("stack(3, 1, v1, 2, v2, 3, v3) AS (lag, x)"),
    ).where(F.col("x").isNotNull())
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "lag",
        "n",
        # try_divide: a zero-variance tail (constant series at this lag)
        # zeroes the denominator; DuckDB's x/0 is NULL, ANSI `/` throws.
        roundz(F.try_divide(num, F.sqrt(vx) * F.sqrt(vy))).alias("acf"),
    )


# --------------------------------------------------------------------------
# q192: CUSUM changepoint localization — per event type, the day where
# the cumulative deviation from the series mean peaks (the classic
# step-change locator; q187 flags WHICH deltas jumped, this answers
# WHEN the level shifted). S_t = cumsum(v)[t] - t * mean is computed
# from an exact integer running sum plus one double product, so both
# engines see identical IEEE values; the argmax is a deterministic
# (|S| desc, day asc) rank over the ~30-row-per-type daily aggregate.
# Windows are keyed by event_type — at 100 TB the daily rollup
# shrinks each partition to O(days), never O(events).
# --------------------------------------------------------------------------
@register(
    "q192_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(v) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM daily GROUP BY event_type
    ),
    cum AS (
      SELECT event_type, d,
             CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
               AS BIGINT) AS t
      FROM daily
    ),
    s AS (
      SELECT c.event_type, c.d, x.n,
             c.cum - c.t * (CAST(x.tot AS DOUBLE) / x.n) AS s_t
      FROM cum c JOIN tot x USING (event_type)
    ),
    r AS (
      SELECT event_type, d, n, s_t,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(s_t) DESC, d ASC) AS rk
      FROM s
    )
    SELECT event_type, n AS n_days,
           {d_day} AS chg_epoch_day,
           {peak_rq} AS cusum_peak
    FROM r WHERE rk = 1
    """.format(
        d_day=sql_epoch_day("d"),
        # s_t = cum - t*tot/n is an integer rational (.5-tie class):
        # guarded floor grid, which also normalizes -0.0 (r10 q225)
        peak_rq=sql_roundq("s_t"),
    ),
)
def q192_cusum_changepoint(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.sum("v").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).cast("long").alias("t"),
    )
    s = cum.join(F.broadcast(tot), "event_type").withColumn(
        "s_t",
        F.col("cum")
        - F.col("t") * (F.col("tot").cast("double") / F.col("n")),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.abs(F.col("s_t")).desc(), F.col("d").asc()
        )
    )
    return (
        s.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            epoch_day("d").alias("chg_epoch_day"),
            roundq(F.col("s_t")).alias("cusum_peak"),
        )
    )


# --------------------------------------------------------------------------
# q193: Kaplan-Meier risk sets over customer lifetimes — per distinct
# event time (lifetime in weeks between first and last order), the
# number at risk, the number of events, and the discrete hazard
# d_t / n_t. Customers whose last order falls within 180 days of the
# dataset horizon are right-censored (they leave the risk set without
# an event). Emitting the (t, n_risk, d, hazard) table keeps every
# value integer-or-single-division — the survival curve itself is a
# cumulative PRODUCT whose float fold order is engine-dependent, so
# the catalog pins the exact risk-set decomposition instead. n_risk
# comes from one running count over the ~hundreds of distinct weeks,
# never a per-customer window.
# --------------------------------------------------------------------------
@register(
    "q193_survival_km",
    oracle="""
    WITH span AS (
      SELECT o_custkey,
             CAST(min(o_orderdate) AS DATE) AS first_d,
             CAST(max(o_orderdate) AS DATE) AS last_d
      FROM orders GROUP BY o_custkey
    ),
    horizon AS (
      SELECT CAST(max(o_orderdate) AS DATE) AS max_d FROM orders
    ),
    life AS (
      SELECT CAST(floor(date_diff('day', first_d, last_d) / 7.0) AS INT)
               AS wk,
             CASE WHEN last_d <= max_d - INTERVAL 180 DAY
                  THEN 1 ELSE 0 END AS ev
      FROM span, horizon
    ),
    bywk AS (
      SELECT wk, CAST(SUM(ev) AS BIGINT) AS d_events,
             CAST(count(*) AS BIGINT) AS c_all
      FROM life GROUP BY wk
    ),
    risk AS (
      SELECT wk, d_events,
             CAST((SELECT count(*) FROM life)
               - COALESCE(SUM(c_all) OVER (ORDER BY wk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n_risk
      FROM bywk
    )
    SELECT wk, n_risk, d_events,
           {hazard_rq} AS hazard
    FROM risk WHERE d_events > 0
    """.format(
        # hazard = k/n count ratio (.5-tie class): guarded floor grid
        hazard_rq=sql_roundq("CAST(d_events AS DOUBLE) / n_risk"),
    ),
)
def q193_survival_km(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    span = o.groupBy("o_custkey").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d")
    )
    horizon = o.agg(F.max("d").alias("max_d"))
    life = span.crossJoin(F.broadcast(horizon)).select(
        F.floor(F.datediff("last_d", "first_d") / 7)
        .cast("int")
        .alias("wk"),
        F.when(
            F.col("last_d") <= F.date_sub(F.col("max_d"), 180), 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    bywk = life.groupBy("wk").agg(
        F.sum("ev").alias("d_events"),
        F.count(F.lit(1)).alias("c_all"),
    )
    total = life.agg(F.count(F.lit(1)).alias("n_total"))
    w = W.orderBy("wk").rowsBetween(W.unboundedPreceding, -1)
    risk = bywk.crossJoin(F.broadcast(total)).select(
        "wk",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("c_all").over(w), F.lit(0))
        ).alias("n_risk"),
    )
    return risk.where(F.col("d_events") > 0).select(
        "wk",
        "n_risk",
        "d_events",
        roundq(
            F.col("d_events").cast("double") / F.col("n_risk")
        ).alias("hazard"),
    )


# --------------------------------------------------------------------------
# q194: interval-union coverage — per supplier, merge overlapping
# shipment busy-windows [shipdate, shipdate + quantity days) and report
# interval counts plus total covered days. The sweep is the standard
# running-max-of-end island construction: a new island starts exactly
# when the interval's start clears every earlier end (window over
# PRECEDING rows only), island ids are a running sum of those starts,
# and coverage is max(end)-min(start) per island. Everything is epoch-
# day int64, the windows are keyed by l_suppkey with a fully
# deterministic (start, end, orderkey, linenumber) order, and at
# 100 TB each supplier partition sorts locally — no global sort, no
# self-join of intervals.
# --------------------------------------------------------------------------
@register(
    "q194_interval_union",
    oracle=f"""
    WITH iv AS (
      SELECT l_suppkey,
             {sql_epoch_day("l_shipdate")} AS s,
             {sql_epoch_day("l_shipdate")}
               + CAST(l_quantity AS BIGINT) AS e,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    marked AS (
      SELECT l_suppkey, s, e,
             CASE WHEN max(e) OVER (PARTITION BY l_suppkey
                    ORDER BY s, e, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR s > max(e) OVER (PARTITION BY l_suppkey
                    ORDER BY s, e, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island,
             l_orderkey, l_linenumber
      FROM iv
    ),
    islands AS (
      SELECT l_suppkey, s, e,
             SUM(new_island) OVER (PARTITION BY l_suppkey
               ORDER BY s, e, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM marked
    ),
    merged AS (
      SELECT l_suppkey, island,
             CAST(count(*) AS BIGINT) AS n_in_island,
             max(e) - min(s) AS cov
      FROM islands GROUP BY l_suppkey, island
    )
    SELECT l_suppkey,
           CAST(SUM(n_in_island) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(SUM(cov) AS BIGINT) AS covered_days
    FROM merged GROUP BY l_suppkey
    """,
)
def q194_interval_union(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.windows import (
        interval_union,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        epoch_day("l_shipdate").cast("long").alias("s"),
        (
            epoch_day("l_shipdate")
            + F.col("l_quantity").cast("long")
        ).alias("e"),
        "l_orderkey",
        "l_linenumber",
    )
    return interval_union(
        li,
        key="l_suppkey",
        start_col="s",
        end_col="e",
        tiebreak=["l_orderkey", "l_linenumber"],
    ).withColumnRenamed("covered", "covered_days")


# --------------------------------------------------------------------------
# q195: consecutive-day activity streaks — the classic gaps-and-islands
# row_number trick (epoch_day - per-user row_number is constant within
# a run of consecutive active days), reduced to a histogram of each
# user's LONGEST streak. Pure integer arithmetic end to end; the only
# windows are keyed by user_id over that user's distinct active days
# (≤ series length), so partitions stay tiny at any corpus scale.
# --------------------------------------------------------------------------
@register(
    "q195_activity_streaks",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             {sql_epoch_day("ts")} AS day
      FROM events
    ),
    runs AS (
      SELECT user_id,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len
      FROM runs GROUP BY user_id, grp
    ),
    longest AS (
      SELECT user_id, max(len) AS best FROM streaks GROUP BY user_id
    )
    SELECT best AS streak_len, CAST(count(*) AS BIGINT) AS n_users
    FROM longest GROUP BY best
    """,
)
def q195_activity_streaks(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    days = ev.select(
        "user_id",
        epoch_day("ts").cast("long").alias("day"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    runs = days.select(
        "user_id",
        (F.col("day") - F.row_number().over(w)).alias("grp"),
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("best"))
    return longest.groupBy(F.col("best").alias("streak_len")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --------------------------------------------------------------------------
# q196: decile lift / gains table — rank all purchase-vs-rest events by
# `value` descending, cut into 10 equal-width rank deciles, and report
# per-decile positive counts, cumulative capture rate, and lift. The
# decile is assigned by explicit integer arithmetic over row_number
# (((r-1)*10) div N + 1) rather than ntile, so both engines share one
# bucket convention by construction. The oracle keeps the literal
# row_number statement; the Spark side decomposes the global rank via
# the q190 pre-aggregate pattern: `value` is a 2-decimal score with a
# value-bounded distinct domain (17.8k at sf0.1, saturating at the
# cents grid regardless of event count), so groupBy(value) + a
# cumulative count over the distinct-value frame gives each value's
# rank offset, and a keyed window (PARTITION BY value ORDER BY
# event_id) supplies the within-tie rank — no single-partition pass
# over the fact table. Every later step is integer aggregation over 10
# rows. Lift/capture are single integer-ratio divisions.
# --------------------------------------------------------------------------
@register(
    "q196_decile_lift",
    oracle="""
    WITH base AS (
      SELECT event_id, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(SUM(pos) AS BIGINT) AS pos_total
      FROM base
    ),
    ranked AS (
      SELECT pos,
             CAST(row_number() OVER (ORDER BY value DESC, event_id)
               AS BIGINT) AS r
      FROM base
    ),
    dec AS (
      SELECT CAST(((r - 1) * 10) // n_total AS BIGINT) + 1 AS decile,
             pos
      FROM ranked, tot
    ),
    g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM dec GROUP BY decile
    )
    SELECT decile, n, n_pos,
           {capture_rq} AS capture,
           {lift_rq} AS lift
    FROM g, tot t
    """.format(
        # capture/lift are integer-count rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        capture_rq=sql_roundq(
            "CAST(SUM(n_pos) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS DOUBLE) / t.pos_total"
        ),
        lift_rq=sql_roundq(
            "CAST(n_pos * t.n_total AS DOUBLE) / (n * t.pos_total)"
        ),
    ),
)
def q196_decile_lift(spark, sf_dir):
    # unscored rows are excluded on BOTH engines (null_mass axis):
    # besides the engines' opposite null sort positions, the two-phase
    # rank's equi-join on `value` below silently drops NULL keys —
    # the exclusion makes that explicit and oracle-identical
    base = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pos"),
        )
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("pos").alias("pos_total"),
    )
    # two-phase global rank: distinct-value prefix counts (bounded
    # domain) + keyed within-value rank — replaces a global window.
    byv = base.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    offs = byv.select(
        "value",
        F.coalesce(
            F.sum("cnt").over(
                W.orderBy(F.desc("value")).rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    lrn = F.row_number().over(W.partitionBy("value").orderBy("event_id"))
    ranked = base.join(offs, "value").select(
        "pos", (F.col("off") + lrn).cast("long").alias("r")
    )
    dec_ = ranked.crossJoin(F.broadcast(tot)).select(
        (F.expr("((r - 1) * 10) div n_total") + 1).alias("decile"),
        "pos",
        "n_total",
        "pos_total",
    )
    g = dec_.groupBy("decile", "n_total", "pos_total").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    # try_divide: pos_total = 0 (no_purchases axis) makes capture and
    # lift undefined -> NULL, like the oracle's /0
    return g.select(
        "decile",
        "n",
        "n_pos",
        roundq(
            F.try_divide(
                F.sum("n_pos").over(wc).cast("double"),
                F.col("pos_total"),
            )
        ).alias("capture"),
        roundq(
            F.try_divide(
                (F.col("n_pos") * F.col("n_total")).cast("double"),
                F.col("n") * F.col("pos_total"),
            )
        ).alias("lift"),
    )


# --------------------------------------------------------------------------
# q197: last-touch revenue attribution — each purchase's value is
# credited to the most recent preceding non-purchase event type for
# that user (the marketing-attribution primitive; purchases with no
# prior touch fall into 'none'). One keyed window per user with a
# fully deterministic (ts, event_id) order and an IGNORE NULLS last()
# over PRECEDING rows — no self-join, no per-purchase scan. Revenue
# sums go through the catalog's decimal quantization.
# --------------------------------------------------------------------------
@register(
    "q197_last_touch_attribution",
    oracle=f"""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    )
    SELECT COALESCE(touch, 'none') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           {sql_dsum("value")} AS revenue
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q197_last_touch_attribution(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touched = ev.select(
        "event_type",
        "value",
        F.last(
            F.when(
                F.col("event_type") != "purchase", F.col("event_type")
            ),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch"),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q198: hierarchical subtree rollup — revenue and member counts for
# every node of the implicit supplier hierarchy parent(s) = s div 10
# (a decimal-trie org chart over supplier keys; node 0 is the root and
# carries the grand total — supplier key 0 itself is a direct child of
# the root, so no key falls outside the tree). No recursion and no
# iterative join: a node's ancestor chain is a ROW-LOCAL computed
# array (distinct values of s div 10^i, ending at root 0), so the
# rollup is exactly one explode of the per-supplier AGGREGATE (never
# the fact table) followed by one keyed groupBy — the scale-correct
# form of a WITH RECURSIVE hierarchy aggregation for fixed-depth
# hierarchies.
# --------------------------------------------------------------------------
@register(
    "q198_hierarchy_rollup",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS s,
             {sql_dsum("l_extendedprice * (1 - l_discount)")}
               AS revenue
      FROM lineitem GROUP BY l_suppkey
    ),
    exploded AS (
      SELECT unnest(list_distinct(
               list_transform([1, 10, 100, 1000, 10000, 100000],
                              d -> s // d))) AS node,
             revenue
      FROM rev
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_members,
           {sql_dsum("revenue")} AS subtree_revenue
    FROM exploded GROUP BY node
    """,
)
def q198_hierarchy_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
    )
    rev = li.groupBy("s").agg(
        dsum("r").alias("revenue")
    )
    exploded = rev.select(
        F.explode(
            F.expr(
                "array_distinct(transform("
                "array(1, 10, 100, 1000, 10000, 100000), d -> s div d))"
            )
        ).alias("node"),
        "revenue",
    )
    return exploded.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_members"),
        dsum("revenue").alias("subtree_revenue"),
    )


# --------------------------------------------------------------------------
# q199: calibration / reliability bins — treating value/500 (clamped to
# [0,1]) as a purchase-propensity score, bucket into 10 fixed-width
# probability bins and report mean predicted vs observed purchase rate
# plus the per-bin Brier contribution (the reliability-diagram table;
# the companion to q196's ranking view of the same score). One
# map-side-combinable groupBy; score arithmetic is a single shared
# double expression, sums go through decimal quantization.
# --------------------------------------------------------------------------
@register(
    "q199_calibration_bins",
    oracle="""
    WITH scored AS (
      -- finite scores only (sql_finite): -inf/500 floors to a bin
      -- DuckDB can't cast (nonfinite axis). A non-finite value scores
      -- like an existing NULL: least(NULL, 1.0) = 1.0 on both engines
      SELECT least({f} / 500.0, 1.0) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    )
    SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           {pred_rq} AS mean_pred,
           {obs_rq} AS obs_rate,
           {brier_rq} AS brier
    FROM scored GROUP BY 1
    """.format(
        # all three are micro-unit / count rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        f=sql_finite("value"),
        pred_rq=sql_roundq(sql_dsum("p") + " / count(*)"),
        obs_rq=sql_roundq("CAST(SUM(y) AS DOUBLE) / count(*)"),
        brier_rq=sql_roundq(sql_dsum("(p - y) * (p - y)") + " / count(*)"),
    ),
)
def q199_calibration_bins(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    # finite(): non-finite scores behave like the pre-existing NULL
    # semantics (least skips NULL -> p = 1.0 on both engines)
    p = F.least(finite(F.col("value")) / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    # project to the two derived columns, then fan the single-task
    # scan out so the decimal partial aggregation scales with cores
    # instead of running on one (guide §2.3 + §2.5; r12 flagged q199
    # as a 13x outlier at 8 cores — a single-task first stage cannot
    # use any core count). Scale-guarded no-op at 100 TB.
    scored = fan_out(ev.select(p.alias("p"), y.alias("y")))
    b = F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long")
    return scored.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        roundq(
            dsum("p") / F.count(F.lit(1))
        ).alias("mean_pred"),
        roundq(
            F.sum("y").cast("double") / F.count(F.lit(1))
        ).alias("obs_rate"),
        roundq(
            dsum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
            / F.count(F.lit(1))
        ).alias("brier"),
    )


# --------------------------------------------------------------------------
# q200: two-feature OLS via normal equations — fit
# extendedprice ~ b0 + b1*quantity + b2*discount in closed form from
# nine sufficient statistics (n, Sx, Sxx, Sxy moments) collected in ONE
# map-side-combinable aggregate; the 3x3 system is solved by Cramer's
# rule in scalar arithmetic (identical expression tree on both engines
# => identical IEEE doubles). q163 is the single-feature version; this
# is the multi-feature extension in the same sketch-shaped form — at
# 100 TB the fit costs one scan, no matrix library, no driver loop.
# The inputs are fixed-point (quantity integer, discount/price in
# cents), so the moments accumulate as SCALED INT64 — exact,
# order-independent, and ~10x faster than Spark's Decimal128 sum path
# (measured 2.06 s vs 0.26 s at sf0.1 for the 9-sum aggregate); the
# de-scaling divisions and Cramer arithmetic are identical double
# expression trees on both engines.
# --------------------------------------------------------------------------
@register(
    "q200_ols_two_feature",
    oracle="""
    WITH fx AS (
      -- observations with a non-finite (or NULL) response can't enter
      -- the fit: excluded on BOTH engines (nonfinite axis; the cents
      -- grid cast of NaN raises on both)
      SELECT CAST({x1_rq} AS BIGINT) AS x1,
             CAST({x2_rq} AS BIGINT) AS x2c,
             CAST({y_rq} AS BIGINT) AS yc
      FROM lineitem
      WHERE isfinite(CAST(l_extendedprice AS DOUBLE))
    ),
    mi AS (
      SELECT CAST(count(*) AS BIGINT) AS ni,
             CAST(SUM(x1) AS BIGINT) AS s1i,
             CAST(SUM(x2c) AS BIGINT) AS s2i,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11i,
             CAST(SUM(x1 * x2c) AS BIGINT) AS s12i,
             CAST(SUM(x2c * x2c) AS BIGINT) AS s22i,
             CAST(SUM(yc) AS BIGINT) AS syi,
             CAST(SUM(x1 * yc) AS BIGINT) AS s1yi,
             CAST(SUM(x2c * yc) AS BIGINT) AS s2yi
      FROM fx
    ),
    m AS (
      SELECT CAST(ni AS DOUBLE) AS n,
             CAST(s1i AS DOUBLE) AS s1,
             CAST(s2i AS DOUBLE) / 100.0 AS s2,
             CAST(s11i AS DOUBLE) AS s11,
             CAST(s12i AS DOUBLE) / 100.0 AS s12,
             CAST(s22i AS DOUBLE) / 10000.0 AS s22,
             CAST(syi AS DOUBLE) / 100.0 AS sy,
             CAST(s1yi AS DOUBLE) / 100.0 AS s1y,
             CAST(s2yi AS DOUBLE) / 10000.0 AS s2y,
             ni
      FROM mi
    )
    SELECT CAST(n AS BIGINT) AS n,
           {beta0_rq} AS beta0,
           {beta1_rq} AS beta1,
           {beta2_rq} AS beta2
    FROM m
    """.format(
        # feature casts and normal-equation betas are rationals of
        # exact integer moments (.5-tie class): guarded floor grid,
        # which also normalizes -0.0 (r10 q225 class)
        x1_rq=sql_roundq("l_quantity", 0),
        x2_rq=sql_roundq("l_discount * 100", 0),
        y_rq=sql_roundq("l_extendedprice * 100", 0),
        beta0_rq=sql_roundq(
            "(sy * (s11 * s22 - s12 * s12)"
            " - s1 * (s1y * s22 - s12 * s2y)"
            " + s2 * (s1y * s12 - s11 * s2y))"
            " / (n * (s11 * s22 - s12 * s12)"
            " - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2))"
        ),
        beta1_rq=sql_roundq(
            "(n * (s1y * s22 - s2y * s12)"
            " - sy * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s2y - s1y * s2))"
            " / (n * (s11 * s22 - s12 * s12)"
            " - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2))"
        ),
        beta2_rq=sql_roundq(
            "(n * (s11 * s2y - s12 * s1y)"
            " - s1 * (s1 * s2y - s1y * s2)"
            " + sy * (s1 * s12 - s11 * s2))"
            " / (n * (s11 * s22 - s12 * s12)"
            " - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2))"
        ),
    ),
)
def q200_ols_two_feature(spark, sf_dir):
    # non-finite/NULL response rows are excluded from the fit on both
    # engines (finite().isNotNull() twin of the oracle's isfinite)
    # bare isNotNull first: redundant with finite() but parquet-
    # pushable, keeping null-count row-group skipping at 100 TB
    fx = (
        table(spark, sf_dir, "lineitem")
        .where(
            F.col("l_extendedprice").isNotNull()
            & finite(F.col("l_extendedprice")).isNotNull()
        )
        .select(
            roundq(F.col("l_quantity"), 0).cast("long").alias("x1"),
            roundq(F.col("l_discount") * 100, 0).cast("long").alias("x2c"),
            roundq(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("yc"),
        )
    )
    mi = fx.agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("x1").alias("s1i"),
        F.sum("x2c").alias("s2i"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11i"),
        F.sum(F.col("x1") * F.col("x2c")).alias("s12i"),
        F.sum(F.col("x2c") * F.col("x2c")).alias("s22i"),
        F.sum("yc").alias("syi"),
        F.sum(F.col("x1") * F.col("yc")).alias("s1yi"),
        F.sum(F.col("x2c") * F.col("yc")).alias("s2yi"),
    )
    m = mi.select(
        F.col("ni").cast("double").alias("n"),
        F.col("s1i").cast("double").alias("s1"),
        (F.col("s2i").cast("double") / 100.0).alias("s2"),
        F.col("s11i").cast("double").alias("s11"),
        (F.col("s12i").cast("double") / 100.0).alias("s12"),
        (F.col("s22i").cast("double") / 10000.0).alias("s22"),
        (F.col("syi").cast("double") / 100.0).alias("sy"),
        (F.col("s1yi").cast("double") / 100.0).alias("s1y"),
        (F.col("s2yi").cast("double") / 10000.0).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s2y * s12)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s12 * s1y)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    # try_divide: one observation (single_row axis) makes the normal
    # equations singular (det = 0); DuckDB's /0 is NULL, ANSI / throws
    return m.select(
        n.cast("long").alias("n"),
        roundq(F.try_divide(d0, det)).alias("beta0"),
        roundq(F.try_divide(d1, det)).alias("beta1"),
        roundq(F.try_divide(d2, det)).alias("beta2"),
    )


# --------------------------------------------------------------------------
# q257: U-shaped (position-based) attribution — the multi-touch
# companion to q197's last-touch model: each purchase's value spreads
# over the non-purchase touches of its conversion path (the events
# since the previous purchase) as 40% first / 40% last / 20% split
# across the middle (1 touch -> 100%, 2 -> 50/50); pathless purchases
# credit 'none'. Entirely window-based — journey segmentation is a
# cumulative purchase count, the purchase value and touch count
# attach via (user, journey) partition windows, so there is NO
# self-join and no per-purchase scan. Weight x value stays double
# (identical IEEE trees both engines); credits decimal-quantize
# before the channel sum. Conservation (sum credits == sum purchase
# revenue) is pinned by test_llmops3.
# --------------------------------------------------------------------------
@register(
    "q257_ushaped_attribution",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                      0) AS journey
      FROM events
    ),
    jval AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'purchase' THEN value END)
               OVER (PARTITION BY user_id, journey) AS purchase_value,
             SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, journey) AS n_touches
      FROM ordered
    ),
    touches AS (
      SELECT event_type AS channel, purchase_value,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, journey) AS n
      FROM jval
      WHERE event_type <> 'purchase' AND purchase_value IS NOT NULL
    ),
    credits AS (
      SELECT channel,
             (CASE WHEN n = 1 THEN 1.0
                   WHEN n = 2 THEN 0.5
                   WHEN rn = 1 OR rn = n THEN 0.4
                   ELSE 0.2 / (n - 2) END) * purchase_value AS credit
      FROM touches
      UNION ALL
      SELECT 'none' AS channel, value AS credit FROM jval
      WHERE event_type = 'purchase' AND n_touches = 0
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
           {sql_dsum("credit")} AS credited_revenue
    FROM credits GROUP BY 1
    """,
)
def q257_ushaped_attribution(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    is_p = F.col("event_type") == "purchase"
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ordered = ev.withColumn(
        "journey",
        F.coalesce(
            F.sum(F.when(is_p, 1).otherwise(0)).over(w_cum), F.lit(0)
        ),
    )
    wp = W.partitionBy("user_id", "journey")
    jval = ordered.select(
        "*",
        F.max(F.when(is_p, F.col("value"))).over(wp).alias(
            "purchase_value"
        ),
        F.sum(F.when(~is_p, 1).otherwise(0)).over(wp).alias("n_touches"),
    )
    touches = (
        jval.where(~is_p & F.col("purchase_value").isNotNull())
        .select(
            F.col("event_type").alias("channel"),
            "purchase_value",
            F.row_number()
            .over(
                W.partitionBy("user_id", "journey").orderBy(
                    "ts", "event_id"
                )
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(W.partitionBy("user_id", "journey"))
            .alias("n"),
        )
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(0.2 / (F.col("n") - 2))
    )
    credits = touches.select(
        "channel", (weight * F.col("purchase_value")).alias("credit")
    ).unionByName(
        jval.where(is_p & (F.col("n_touches") == 0)).select(
            F.lit("none").alias("channel"), F.col("value").alias("credit")
        )
    )
    return credits.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        dsum("credit").alias("credited_revenue"),
    )


# --------------------------------------------------------------------------
# q258: off-policy evaluation — IPS and self-normalized IPS (SNIPS)
# counterfactual estimators over the logged event stream: actions =
# event types, rewards = values, behavior policy = the empirical
# action frequencies, target policy = a softmax (T=10) over each
# action's average logged reward. Per-event importance weights
# w = p_target/p_behavior come from a 5-row broadcast policy table;
# w and w*r quantize to 6dp on the shared guarded floor grid
# (roundq — the hot_key x30 sweep caught plain round() flipping
# v_dr one quantum at a .5 boundary) then decimal-sum, so both
# estimators are fold-order independent. The per-action rollup carries the shared
# global estimates (constant per row). One fact scan + one bounded
# policy table — the standard shape for evaluating a new routing/
# serving policy against logs without deploying it.
# --------------------------------------------------------------------------
@register(
    "q258_offpolicy_eval",
    # every round() of a CONTINUOUS quantity (quotients, exp, products
    # with avg_r) sits on the shared guarded floor grid (sql_roundq):
    # the hot_key x30 sweep caught v_dr flipping one 1e-6 quantum at a
    # .5 boundary — the decq/roundq tie class. v_dm stays plain round:
    # it sums already-6dp decimals, so it is grid-exact by construction.
    oracle=f"""
    WITH ev AS (SELECT event_type AS action, value AS r FROM events),
    stats AS (
      SELECT action, count(*) AS n_a,
             {sql_dsum("r")} / count(*) AS avg_r
      FROM ev GROUP BY 1
    ),
    tot AS (SELECT sum(n_a) AS n FROM stats),
    soft AS (
      SELECT action, n_a, avg_r,
             CAST(n_a AS DOUBLE) / n AS p_b,
             {sql_roundq('exp(avg_r / 10)')} AS e
      FROM stats, tot
    ),
    z AS (SELECT {sql_dsum("e")} AS z
          FROM soft),
    policy AS (
      SELECT action, n_a, avg_r, p_b,
             {sql_roundq('e / z.z')} AS p_t,
             {sql_roundq(sql_roundq('e / z.z') + ' / p_b')} AS w
      FROM soft, z
    ),
    weighted AS (
      SELECT p.action, p.w,
             {sql_roundq('p.w * ev.r')} AS wr,
             {sql_roundq('p.w * (ev.r - p.avg_r)')} AS wres
      FROM ev JOIN policy p ON ev.action = p.action
    ),
    dm AS (
      SELECT {sql_dsum(sql_roundq('p_t * avg_r'))} AS v_dm
      FROM policy
    ),
    gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             {sql_dsum("wr")} AS sum_wr,
             {sql_dsum("w")} AS sum_w,
             {sql_dsum("wres")} AS sum_wres
      FROM weighted
    )
    SELECT p.action, CAST(p.n_a AS BIGINT) AS n_a,
           {sql_roundq('p.avg_r')} AS avg_reward,
           {sql_roundq('p.p_b')} AS p_behavior,
           p.p_t AS p_target, p.w AS importance_weight,
           {sql_roundq('g.sum_wr / g.n_events')} AS v_ips,
           {sql_roundq('g.sum_wr / g.sum_w')} AS v_snips,
           round(d.v_dm, 6) AS v_dm,
           {sql_roundq('d.v_dm + g.sum_wres / g.n_events')} AS v_dr
    FROM policy p, gstats g, dm d
    """,
)
def q258_offpolicy_eval(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"), F.col("value").alias("r")
    )
    stats = ev.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_a"),
        (
            dsum("r") / F.count(F.lit(1))
        ).alias("avg_r"),
    )
    tot = stats.agg(F.sum("n_a").alias("n"))
    soft = stats.crossJoin(F.broadcast(tot)).select(
        "action",
        "n_a",
        "avg_r",
        (F.col("n_a").cast("double") / F.col("n")).alias("p_b"),
        roundq(F.exp(F.col("avg_r") / 10)).alias("e"),
    )
    z = soft.agg(dsum("e").alias("z"))
    policy = soft.crossJoin(F.broadcast(z)).select(
        "action",
        "n_a",
        "avg_r",
        "p_b",
        roundq(F.col("e") / F.col("z")).alias("p_t"),
        roundq(
            roundq(F.col("e") / F.col("z")) / F.col("p_b")
        ).alias("w"),
    )
    weighted = ev.join(F.broadcast(policy), "action").select(
        "action",
        "w",
        roundq(F.col("w") * F.col("r")).alias("wr"),
        roundq(F.col("w") * (F.col("r") - F.col("avg_r"))).alias(
            "wres"
        ),
    )
    dm = policy.agg(
        dsum(roundq(F.col("p_t") * F.col("avg_r"))).alias("v_dm")
    )
    glob = weighted.agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("wr").alias("sum_wr"),
        dsum("w").alias("sum_w"),
        dsum("wres").alias("sum_wres"),
    )
    return (
        policy.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(dm))
        .select(
        "action",
        F.col("n_a").cast("long").alias("n_a"),
        roundq(F.col("avg_r")).alias("avg_reward"),
        roundq(F.col("p_b")).alias("p_behavior"),
        F.col("p_t").alias("p_target"),
        F.col("w").alias("importance_weight"),
        roundq(F.col("sum_wr") / F.col("n_events")).alias("v_ips"),
        roundq(F.col("sum_wr") / F.col("sum_w")).alias("v_snips"),
        F.round("v_dm", 6).alias("v_dm"),
        roundq(
            F.col("v_dm") + F.col("sum_wres") / F.col("n_events")
        ).alias("v_dr"),
    )
    )


# --------------------------------------------------------------------------
# q259: PSI feature-drift monitor — the population stability index,
# the industry-standard companion to q175's KS test: reference window
# = first half of the event timeline, current = second half; bins =
# the reference window's deciles, each edge the EXPLICIT order
# statistic at rank (i*n+9) div 10 (operators/windows.
# exact_decile_edges — both engines state the same integer rank
# formula, rather than trusting percentile_approx and quantile_disc
# to share a discrete-quantile convention, which they don't for all
# n); PSI = sum (p_cur - p_ref) ln(p_cur/p_ref)
# with the 0.0001 floor convention for empty bins. Bin edges are a
# 9-row broadcast; each window is binned with one range lookup, so
# the fact table is scanned once per window and nothing is quadratic.
# Per-bin PSI terms round to 6dp then decimal-sum. The conventional
# reading: PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted.
# --------------------------------------------------------------------------
@register(
    "q259_psi_drift",
    oracle="""
    WITH ev AS (
      SELECT value,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref'
                  ELSE 'cur' END AS win
      FROM events WHERE value IS NOT NULL
    ),
    refranked AS (
      SELECT value, row_number() OVER (ORDER BY value) AS rn,
             count(*) OVER () AS n
      FROM ev WHERE win = 'ref'
    ),
    edges AS (
      SELECT list(r.value ORDER BY g.i) AS qs
      FROM (SELECT UNNEST(generate_series(1, 9)) AS i) g
      JOIN refranked r ON r.rn = (g.i * r.n + 9) // 10
    ),
    binned AS (
      SELECT win,
             1 + len(list_filter(e.qs, q -> q < ev.value)) AS bin
      FROM ev, edges e
    ),
    cnt AS (
      SELECT win, bin, count(*) AS n FROM binned GROUP BY 1, 2
    ),
    tot AS (SELECT win, sum(n) AS tn FROM cnt GROUP BY 1),
    grid AS (
      SELECT w.win, b.bin
      FROM (SELECT DISTINCT win FROM cnt) w,
           UNNEST(generate_series(1, 10)) AS b(bin)
    ),
    share AS (
      SELECT g.win, g.bin,
             greatest(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.tn, 0.0001)
               AS p
      FROM grid g
      LEFT JOIN cnt c ON g.win = c.win AND g.bin = c.bin
      JOIN tot t ON g.win = t.win
    ),
    terms AS (
      SELECT r.bin, r.p AS p_ref, c.p AS p_cur,
             round((c.p - r.p) * ln(c.p / r.p), 6) AS term
      FROM share r JOIN share c ON r.bin = c.bin
      WHERE r.win = 'ref' AND c.win = 'cur'
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           {p_ref_rq} AS p_ref, {p_cur_rq} AS p_cur,
           term AS psi_term,
           {psi_total} AS psi_total
    FROM terms
    """.format(
        # bin shares are k/n rationals (.5-tie class): guarded floor
        # grid; psi_term is ln-derived — tie-free (r10 q225 class)
        p_ref_rq=sql_roundq("p_ref"),
        p_cur_rq=sql_roundq("p_cur"),
        psi_total=sql_double(f"SUM({sql_dec('term')}) OVER ()"),
    ),
)
def q259_psi_drift(spark, sf_dir):
    # null feature values carry no drift signal and shift the decile
    # edges oppositely on the two engines — excluded on BOTH
    # (null_mass axis)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.col("ts") < cutoff, "ref").otherwise("cur").alias("win"),
        )
    )
    from airquality_data_pipeline_spark.operators.windows import (
        exact_decile_edges,
    )

    edges = exact_decile_edges(
        ev.where(F.col("win") == "ref"), "value"
    )
    binned = ev.crossJoin(F.broadcast(edges)).select(
        "win",
        (
            1
            + F.size(
                F.filter(
                    F.col("qs"), lambda q: q < F.col("value")
                )
            )
        ).alias("bin"),
    )
    cnt = binned.groupBy("win", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("win").agg(F.sum("n").alias("tn"))
    grid = (
        cnt.select("win")
        .distinct()
        .crossJoin(
            ev.sparkSession.range(1, 11).select(
                F.col("id").cast("int").alias("bin")
            )
        )
    )
    share = (
        grid.join(cnt, ["win", "bin"], "left")
        .join(tot, "win")
        .select(
            "win",
            "bin",
            F.greatest(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tn"),
                F.lit(0.0001),
            ).alias("p"),
        )
    )
    ref = share.where(F.col("win") == "ref").select(
        "bin", F.col("p").alias("p_ref")
    )
    cur = share.where(F.col("win") == "cur").select(
        "bin", F.col("p").alias("p_cur")
    )
    terms = ref.join(cur, "bin").select(
        "bin",
        "p_ref",
        "p_cur",
        F.round(
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(F.col("p_cur") / F.col("p_ref")),
            6,
        ).alias("psi_term"),
    )
    from pyspark.sql import Window as _W

    return terms.select(
        F.col("bin").cast("long").alias("bin"),
        roundq(F.col("p_ref")).alias("p_ref"),
        roundq(F.col("p_cur")).alias("p_cur"),
        "psi_term",
        F.sum(dec("psi_term", 6))
        .over(_W.partitionBy())
        .cast("double")
        .alias("psi_total"),
    )


# --------------------------------------------------------------------------
# q260: split-conformal calibration — distribution-free prediction
# intervals (Vovk; Lei et al.): train a per-(event_type, hour) mean
# predictor on the md5-bucket train split, take q_hat = the
# ceil(0.9*(n_cal+1))-th smallest absolute residual on the held-out
# calibration split (an EXACT order statistic — both engines agree on
# the value regardless of tie order), then measure empirical coverage
# of pred +/- q_hat on the test split: the conformal guarantee says
# coverage >= 90% in expectation. The predictor table is bounded
# (types x 24 hours) and broadcasts; the order statistic comes from
# the TWO-PHASE global rank (operators/windows.global_row_number) over
# the calibration split — range-partitioned local ranks + broadcast
# partition-count offsets, never a single-partition sort of the split
# (pinned by test_llmops3 coverage bound and the WindowExec plan
# guard).
# --------------------------------------------------------------------------
@register(
    "q260_conformal_calibration",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type, value,
             CAST(hour(ts) AS BIGINT) AS hr,
             {bucket} AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    pred AS (
      SELECT event_type, hr,
             {sum_value} / count(*) AS mu
      FROM ev WHERE bucket < 60 GROUP BY 1, 2
    ),
    gmean AS (
      SELECT {sum_value} / count(*) AS gmu
      FROM ev WHERE bucket < 60
    ),
    cal AS (
      SELECT abs(ev.value - COALESCE(p.mu, g.gmu)) AS resid
      FROM ev
      LEFT JOIN pred p ON ev.event_type = p.event_type AND ev.hr = p.hr
      CROSS JOIN gmean g
      WHERE ev.bucket >= 60 AND ev.bucket < 80
    ),
    ranked AS (
      SELECT resid,
             row_number() OVER (ORDER BY resid) AS rk,
             count(*) OVER () AS n_cal
      FROM cal
    ),
    qhat AS (
      SELECT n_cal, resid AS q_hat FROM ranked
      WHERE rk = CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)
    ),
    test AS (
      SELECT abs(ev.value - COALESCE(p.mu, g.gmu)) AS resid
      FROM ev
      LEFT JOIN pred p ON ev.event_type = p.event_type AND ev.hr = p.hr
      CROSS JOIN gmean g
      WHERE ev.bucket >= 80
    )
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal, q.q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.resid <= q.q_hat THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           {cov_rq} AS coverage
    FROM test t, qhat q
    GROUP BY 1, 2
    """.format(
        bucket=sql_split_bucket("event_id"),
        sum_value=sql_dsum("value"),
        # coverage = k/n count ratio (.5-tie class): guarded floor grid
        cov_rq=sql_roundq(
            "CAST(SUM(CASE WHEN t.resid <= q.q_hat THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(*)"
        ),
    ),
)
def q260_conformal_calibration(spark, sf_dir):
    from pyspark.sql import Window as _W

    bucket = split_bucket("event_id")
    # a NULL target has no residual: its rank position (Spark nulls
    # first, DuckDB nulls last) would move q_hat — excluded on BOTH
    # engines (null_mass axis)
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            F.hour("ts").cast("long").alias("hr"),
            bucket.alias("bucket"),
        )
    )
    train = ev.where(F.col("bucket") < 60)
    pred = train.groupBy("event_type", "hr").agg(
        (
            dsum("value") / F.count(F.lit(1))
        ).alias("mu")
    )
    gmean = train.agg(
        (
            dsum("value") / F.count(F.lit(1))
        ).alias("gmu")
    )

    def _resid(df):
        return (
            df.join(F.broadcast(pred), ["event_type", "hr"], "left")
            .crossJoin(F.broadcast(gmean))
            .select(
                F.abs(
                    F.col("value")
                    - F.coalesce(F.col("mu"), F.col("gmu"))
                ).alias("resid")
            )
        )

    cal = _resid(ev.where((F.col("bucket") >= 60) & (F.col("bucket") < 80)))
    # two-phase global rank (operators/windows.global_row_number): the
    # k-th order statistic is deterministic under ties for ANY
    # tie-consistent total order, so the range-partitioned rank matches
    # the oracle's single row_number exactly where it matters (rk = k).
    from airquality_data_pipeline_spark.operators.windows import (
        global_row_number,
    )

    ranked = global_row_number(
        cal, ["resid"], rn_col="rk", n_col="n_cal"
    )
    qhat = ranked.where(
        F.col("rk")
        == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long")
    ).select("n_cal", F.col("resid").alias("q_hat"))
    test = _resid(ev.where(F.col("bucket") >= 80))
    return test.crossJoin(F.broadcast(qhat)).groupBy(
        F.col("n_cal").cast("long").alias("n_cal"), "q_hat"
    ).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.when(F.col("resid") <= F.col("q_hat"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        roundq(
            F.sum(
                F.when(F.col("resid") <= F.col("q_hat"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("coverage"),
    )


# --------------------------------------------------------------------------
# q261: group fairness audit — demographic parity and equalized-odds
# gaps for a deterministic classifier proxy (predicted positive:
# value > 50; actual positive: purchase) across synthetic demographic
# groups (user_id % 3). Per group: predicted-positive rate, TPR, FPR,
# and each group's gap against the OVERALL rates (computed in the
# same pass via a broadcast single-row aggregate — no second scan).
# All rates are exact-integer-count ratios, so cross-engine equality
# is trivial; the audit-table shape (one row per group, gaps against
# the pooled baseline) is the standard fairness-report layout.
# --------------------------------------------------------------------------
@register(
    "q261_fairness_audit",
    oracle="""
    WITH ev AS (
      SELECT CAST(user_id % 3 AS BIGINT) AS grp,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pred) AS BIGINT) AS n_pred,
             CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM ev GROUP BY 1
    ),
    o AS (
      SELECT CAST(sum(n_pred) AS DOUBLE) / sum(n) AS ppr_all,
             CAST(sum(tp) AS DOUBLE) / sum(n_pos) AS tpr_all,
             CAST(sum(fp) AS DOUBLE) / sum(n - n_pos) AS fpr_all
      FROM g
    )
    SELECT g.grp, g.n,
           {ppr_rq} AS ppr,
           {tpr_rq} AS tpr,
           {fpr_rq} AS fpr,
           {dp_rq} AS dp_gap,
           {eot_rq} AS eo_tpr_gap,
           {eof_rq} AS eo_fpr_gap
    FROM g, o
    """.format(
        # every rate and gap is a k/n rational (.5-tie class):
        # guarded floor grid, which also normalizes -0.0 (r10 q225)
        ppr_rq=sql_roundq("CAST(g.n_pred AS DOUBLE) / g.n"),
        tpr_rq=sql_roundq("CAST(g.tp AS DOUBLE) / g.n_pos"),
        fpr_rq=sql_roundq("CAST(g.fp AS DOUBLE) / (g.n - g.n_pos)"),
        dp_rq=sql_roundq("CAST(g.n_pred AS DOUBLE) / g.n - o.ppr_all"),
        eot_rq=sql_roundq(
            "abs(CAST(g.tp AS DOUBLE) / g.n_pos - o.tpr_all)"
        ),
        eof_rq=sql_roundq(
            "abs(CAST(g.fp AS DOUBLE) / (g.n - g.n_pos) - o.fpr_all)"
        ),
    ),
)
def q261_fairness_audit(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).cast("long").alias("grp"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = ev.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pred").cast("long").alias("n_pred"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # try_divide on every positive/negative-count denominator: a tiny
    # fixture can have ZERO purchases (n_pos = 0 -> tpr undefined) or
    # all-purchase groups (n - n_pos = 0 -> fpr undefined); DuckDB's
    # x/0 is NULL (minimal-scale robustness sweep catch)
    o = g.agg(
        (F.sum("n_pred").cast("double") / F.sum("n")).alias("ppr_all"),
        F.try_divide(
            F.sum("tp").cast("double"), F.sum("n_pos").cast("double")
        ).alias("tpr_all"),
        F.try_divide(
            F.sum("fp").cast("double"),
            F.sum(F.col("n") - F.col("n_pos")).cast("double"),
        ).alias("fpr_all"),
    )
    tpr = F.try_divide(
        F.col("tp").cast("double"), F.col("n_pos").cast("double")
    )
    fpr = F.try_divide(
        F.col("fp").cast("double"),
        (F.col("n") - F.col("n_pos")).cast("double"),
    )
    return g.crossJoin(F.broadcast(o)).select(
        "grp",
        "n",
        roundq(F.col("n_pred").cast("double") / F.col("n")).alias(
            "ppr"
        ),
        roundq(tpr).alias("tpr"),
        roundq(fpr).alias("fpr"),
        roundq(
            F.col("n_pred").cast("double") / F.col("n")
            - F.col("ppr_all")
        ).alias("dp_gap"),
        roundq(F.abs(tpr - F.col("tpr_all"))).alias("eo_tpr_gap"),
        roundq(F.abs(fpr - F.col("fpr_all"))).alias("eo_fpr_gap"),
    )


# --------------------------------------------------------------------------
# q262: WOE / Information Value — the credit-scoring feature-power
# metric and PSI's sibling (q259): bin `value` by its global deciles
# (exact_decile_edges — the explicit (i*n+9) div 10 order-statistic
# rank both engines share, see q259), per bin compute the positive
# (purchase) and negative share of their respective totals (0.0001
# floor), WOE = ln(p_pos/p_neg), and IV = sum (p_pos - p_neg) * WOE.
# Same decile-cut + floor + rounded-ln + decimal-sum discipline as
# q259; the bin-edge array is a broadcast single row; the fact scans
# once for edges, once for binning. Convention: IV < 0.02 useless,
# 0.1-0.3 medium, > 0.5 suspicious.
# --------------------------------------------------------------------------
@register(
    "q262_woe_iv",
    oracle=f"""
    WITH ev AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT value, row_number() OVER (ORDER BY value) AS rn,
             count(*) OVER () AS n
      FROM ev
    ),
    edges AS (
      SELECT list(r.value ORDER BY g.i) AS qs
      FROM (SELECT UNNEST(generate_series(1, 9)) AS i) g
      JOIN ranked r ON r.rn = (g.i * r.n + 9) // 10
    ),
    binned AS (
      SELECT y, 1 + len(list_filter(e.qs, q -> q < ev.value)) AS bin
      FROM ev, edges e
    ),
    cnt AS (
      SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM binned GROUP BY 1
    ),
    tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM cnt),
    shares AS (
      SELECT bin, n_pos, n_neg,
             greatest(CAST(n_pos AS DOUBLE) / tp, 0.0001) AS p,
             greatest(CAST(n_neg AS DOUBLE) / tn, 0.0001) AS q
      FROM cnt, tot
    )
    SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg,
           {sql_roundz("ln(p / q)")} AS woe,
           round((p - q) * ln(p / q), 6) AS iv_term,
           {sql_double(
               f"SUM({sql_dec('round((p - q) * ln(p / q), 6)')}) OVER ()"
           )} AS iv_total
    FROM shares
    """,
)
def q262_woe_iv(spark, sf_dir):
    from pyspark.sql import Window as _W

    # unscored rows are excluded on BOTH engines — the decile edges
    # otherwise shift with the engines' opposite null sort positions
    # (null_mass axis)
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    from airquality_data_pipeline_spark.operators.windows import (
        exact_decile_edges,
    )

    edges = exact_decile_edges(ev, "value")
    binned = ev.crossJoin(F.broadcast(edges)).select(
        "y",
        (
            1
            + F.size(F.filter(F.col("qs"), lambda q: q < F.col("value")))
        ).alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    tot = cnt.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    # try_divide: tp = 0 (no_purchases axis) -> NULL, and BOTH engines'
    # greatest() skip NULLs, so the 0.0001 floor takes over identically
    shares = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        F.greatest(
            F.try_divide(F.col("n_pos").cast("double"), F.col("tp")),
            F.lit(0.0001),
        ).alias("p"),
        F.greatest(
            F.try_divide(F.col("n_neg").cast("double"), F.col("tn")),
            F.lit(0.0001),
        ).alias("q"),
    )
    woe = F.log(F.col("p") / F.col("q"))
    term = F.round((F.col("p") - F.col("q")) * woe, 6)
    return shares.select(
        F.col("bin").cast("long").alias("bin"),
        "n_pos",
        "n_neg",
        roundz(woe).alias("woe"),
        term.alias("iv_term"),
        F.sum(dec(term, 6))
        .over(_W.partitionBy())
        .cast("double")
        .alias("iv_total"),
    )


# --------------------------------------------------------------------------
# q263: out-of-fold target encoding — mean-target encoding of
# event_type with the leakage protection a training pipeline needs:
# each fold's encoding uses ONLY the other folds' labels (group
# totals minus own-fold totals — one aggregate, no per-fold re-scan)
# plus alpha=10 smoothing toward the global rate. The leakage_delta
# column makes the audit visible: it is the gap between the naive
# full-data encoding and the fold-safe one. Exact integer counts
# throughout; folds are md5 buckets, so both engines derive identical
# assignments.
# --------------------------------------------------------------------------
@register(
    "q263_oof_target_encoding",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             {h} % 5 AS fold,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per_fold AS (
      SELECT event_type, fold,
             CAST(count(*) AS BIGINT) AS fn,
             CAST(sum(y) AS BIGINT) AS fpos
      FROM ev GROUP BY 1, 2
    ),
    per_type AS (
      SELECT event_type, sum(fn) AS tn, sum(fpos) AS tpos
      FROM per_fold GROUP BY 1
    ),
    g AS (SELECT CAST(sum(tpos) AS DOUBLE) / sum(tn) AS grate
          FROM per_type)
    SELECT f.event_type, CAST(f.fold AS BIGINT) AS fold, f.fn,
           {oof_rq} AS oof_enc,
           {full_rq} AS full_enc,
           {delta_rq} AS leakage_delta
    FROM per_fold f
    JOIN per_type t ON f.event_type = t.event_type, g
    """.format(
        h=md5_int_sql("CAST(event_id AS VARCHAR)", 1, 8),
        # smoothed encodings are integer rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        oof_rq=sql_roundq(
            "(t.tpos - f.fpos + 10 * g.grate) / (t.tn - f.fn + 10)"
        ),
        full_rq=sql_roundq("CAST(t.tpos AS DOUBLE) / t.tn"),
        delta_rq=sql_roundq(
            "abs((t.tpos - f.fpos + 10 * g.grate)"
            " / (t.tn - f.fn + 10)"
            " - CAST(t.tpos AS DOUBLE) / t.tn)"
        ),
    ),
)
def q263_oof_target_encoding(spark, sf_dir):
    fold = md5_int(F.col("event_id").cast("string"), 1, 8) % 5
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        fold.alias("fold"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("y"),
    )
    per_fold = ev.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).alias("fn"), F.sum("y").cast("long").alias("fpos")
    )
    per_type = per_fold.groupBy("event_type").agg(
        F.sum("fn").alias("tn"), F.sum("fpos").alias("tpos")
    )
    g = per_type.agg(
        (F.sum("tpos").cast("double") / F.sum("tn")).alias("grate")
    )
    oof = (F.col("tpos") - F.col("fpos") + 10 * F.col("grate")) / (
        F.col("tn") - F.col("fn") + 10
    )
    full = F.col("tpos").cast("double") / F.col("tn")
    return (
        per_fold.join(F.broadcast(per_type), "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.col("fold").cast("long").alias("fold"),
            "fn",
            roundq(oof).alias("oof_enc"),
            roundq(full).alias("full_enc"),
            roundq(F.abs(oof - full)).alias("leakage_delta"),
        )
    )


# --------------------------------------------------------------------------
# q264: observational causal effect estimators — IPW ATE and
# stratified ATT for a synthetic treatment (user_id % 2, the q220
# assignment) on event value, with propensity e(x) = the exact
# empirical P(T=1 | event_type) (a 5-row broadcast — no model fit
# needed for a discrete confounder, and the stratification is then
# EXACT, not an approximation). IPW terms T*Y/e and (1-T)*Y/(1-e)
# round to 6dp then decimal-sum; the stratified estimator weights
# each stratum's treated-minus-control mean gap by the stratum's
# treated share (ATT weighting). One fact scan; every anchor
# broadcasts. Strata with a degenerate arm would emit NULL gaps, and
# the conservation identity (ATT == sum of weighted gaps) is the
# built-in audit.
# --------------------------------------------------------------------------
@register(
    "q264_causal_estimators",
    oracle="""
    WITH ev AS (
      SELECT event_type AS x, value AS y,
             CAST(user_id % 2 AS INT) AS t
      FROM events
    ),
    strata AS (
      SELECT x,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS n_t,
             {sum_y_t} AS sum_y_t,
             {sum_y_c} AS sum_y_c
      FROM ev GROUP BY 1
    ),
    e AS (
      SELECT x, n, n_t,
             CAST(n_t AS DOUBLE) / n AS prop,
             sum_y_t / n_t AS mu_t,
             sum_y_c / (n - n_t) AS mu_c
      FROM strata
    ),
    ipw AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             {s1} AS s1,
             {s0} AS s0
      FROM ev JOIN e ON ev.x = e.x
    ),
    att AS (
      SELECT {att} AS att
      FROM e
    )
    SELECT e.x AS stratum, e.n, e.n_t,
           {prop_rq} AS propensity,
           {gap_rq} AS stratum_gap,
           {ate_rq} AS ipw_ate,
           {att_rq} AS stratified_att
    FROM e, ipw i, att a
    """.format(
        # IPW terms, propensities, and stratified gaps are all
        # rationals of exact sums (.5-tie class): guarded floor grid,
        # which also normalizes -0.0 (r10 q225 class)
        sum_y_t=sql_double(
            f"SUM(CASE WHEN t = 1 THEN {sql_dec('y')} ELSE {sql_dec('0')} END)"
        ),
        sum_y_c=sql_double(
            f"SUM(CASE WHEN t = 0 THEN {sql_dec('y')} ELSE {sql_dec('0')} END)"
        ),
        s1=sql_dsum(sql_roundq("ev.t * ev.y / e.prop")),
        s0=sql_dsum(sql_roundq("(1 - ev.t) * ev.y / (1 - e.prop)")),
        att=sql_dsum(
            sql_roundq(
                "(CAST(e.n_t AS DOUBLE) / (SELECT sum(n_t) FROM e))"
                " * (e.mu_t - e.mu_c)"
            )
        ),
        prop_rq=sql_roundq("e.prop"),
        gap_rq=sql_roundq("e.mu_t - e.mu_c"),
        ate_rq=sql_roundq("i.s1 / i.n_events - i.s0 / i.n_events"),
        att_rq=sql_roundq("a.att"),
    ),
)
def q264_causal_estimators(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        F.col("value").alias("y"),
        (F.col("user_id") % 2).cast("int").alias("t"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    strata = ev.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("long").alias("n_t"),
        F.sum(F.when(F.col("t") == 1, dec("y", 6)).otherwise(zero))
        .cast("double")
        .alias("sum_y_t"),
        F.sum(F.when(F.col("t") == 0, dec("y", 6)).otherwise(zero))
        .cast("double")
        .alias("sum_y_c"),
    )
    # try_divide: a sparse stratum can be all-control (n_t = 0 ->
    # mu_t undefined, and the IPW weight t*y/prop divides 0/0 on its
    # control rows) or all-treated (mu_c, 1-prop) — DuckDB's x/0 is
    # NULL and SUM skips NULLs on both engines (minimal-scale
    # robustness sweep catch)
    e = strata.select(
        "x",
        "n",
        "n_t",
        (F.col("n_t").cast("double") / F.col("n")).alias("prop"),
        F.try_divide(
            F.col("sum_y_t"), F.col("n_t").cast("double")
        ).alias("mu_t"),
        F.try_divide(
            F.col("sum_y_c"), (F.col("n") - F.col("n_t")).cast("double")
        ).alias("mu_c"),
    )
    ipw = (
        ev.join(F.broadcast(e), "x")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(
                roundq(F.try_divide(F.col("t") * F.col("y"), F.col("prop")))
            ).alias("s1"),
            dsum(
                roundq(
                    F.try_divide((1 - F.col("t")) * F.col("y"), 1 - F.col("prop"))
                )
            ).alias("s0"),
        )
    )
    nt_tot = e.agg(F.sum("n_t").alias("nt_tot"))
    att = (
        e.crossJoin(F.broadcast(nt_tot))
        .select(
            roundq(
                F.try_divide(
                    F.col("n_t").cast("double"),
                    F.col("nt_tot").cast("double"),
                )
                * (F.col("mu_t") - F.col("mu_c"))
            ).alias("term")
        )
        .agg(dsum("term").alias("att"))
    )
    return (
        e.crossJoin(F.broadcast(ipw))
        .crossJoin(F.broadcast(att))
        .select(
            F.col("x").alias("stratum"),
            "n",
            "n_t",
            roundq(F.col("prop")).alias("propensity"),
            roundq(F.col("mu_t") - F.col("mu_c")).alias("stratum_gap"),
            roundq(
                F.col("s1") / F.col("n_events")
                - F.col("s0") / F.col("n_events")
            ).alias("ipw_ate"),
            roundq(F.col("att")).alias("stratified_att"),
        )
    )


# --------------------------------------------------------------------------
# q266: recursive-CTE hierarchy rollup — the SAME subtree aggregation
# as q198, expressed with Spark 4's WITH RECURSIVE (available in this
# build; probed, not assumed): walk each supplier key up its decimal
# trie to the root, then roll revenue up every (leaf, ancestor) pair.
# q198's row-local ancestor-array explode remains the recommended
# 100 TB form (one pass, no iteration); this entry proves the
# recursive form produces IDENTICAL results (pinned by test) and
# exercises the engine's recursion machinery — depth here is <= 7,
# far under the recursion limit. DuckDB runs the same recursion
# natively (`//` for Spark's `div`).
# --------------------------------------------------------------------------
@register(
    "q266_recursive_hierarchy",
    oracle=f"""
    WITH RECURSIVE rev AS (
      SELECT l_suppkey AS s,
             {sql_dsum("l_extendedprice * (1 - l_discount)")}
               AS revenue
      FROM lineitem GROUP BY 1
    ),
    walk AS (
      SELECT s AS leaf, s AS node FROM rev
      UNION ALL
      SELECT leaf, node // 10 FROM walk WHERE node > 0
    )
    SELECT w.node, CAST(count(*) AS BIGINT) AS n_members,
           {sql_dsum("r.revenue")} AS subtree_revenue
    FROM walk w JOIN rev r ON w.leaf = r.s
    GROUP BY 1
    """,
)
def q266_recursive_hierarchy(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
    )
    rev = li.groupBy("s").agg(
        dsum("r").alias("revenue")
    )
    rev.createOrReplaceTempView("q266_rev")
    return spark.sql(
        f"""
        WITH RECURSIVE walk AS (
          SELECT s AS leaf, s AS node FROM q266_rev
          UNION ALL
          SELECT leaf, node div 10 FROM walk WHERE node > 0
        )
        SELECT w.node, count(*) AS n_members,
               {spark_sql_dsum("r.revenue")}
                 AS subtree_revenue
        FROM walk w JOIN q266_rev r ON w.leaf = r.s
        GROUP BY w.node
        """
    )


# --------------------------------------------------------------------------
# q267: VARIANT semi-structured rollup — the Spark 4 VARIANT path
# (parse_json -> variant_get) for the props JSON column, distinct
# from q18's from_json/get_json_object: VARIANT keeps the document
# open-schema (no StructType declared up front) and binary-encodes it
# for repeated sub-field access — the lakehouse-native shape for
# evolving event payloads at 100 TB. The rollup aggregates the
# extracted field per event type with exact integer sums; rows whose
# props lack the key surface in n_missing instead of silently
# vanishing. DuckDB mirrors via json_extract_string + CAST.
# --------------------------------------------------------------------------
@register(
    "q267_variant_rollup",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM x GROUP BY 1
    """,
)
def q267_variant_rollup(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "variant_get(parse_json(props), '$.k', 'bigint')"
        ).alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# --------------------------------------------------------------------------
# q268: SLO burn-rate alerts — the SRE multi-window, multi-burn-rate
# policy (Google SRE workbook ch.5) over the event stream: "good" =
# value <= 100 (the fixture's success proxy), SLO = 99%. For every
# hour, the 1h and 6h trailing error rates become burn rates
# (error_rate / error_budget); a page fires when BOTH the fast and
# slow window burn > 14.4, a ticket when both burn > 6. Hourly
# rollup first (the fact table aggregates once); the 6h trailing
# window is a RANGE frame on the integer epoch-hour key (RANGE 5
# PRECEDING), so an hour with zero events leaves a real gap and the
# window never silently spans more than six wall-clock hours — a
# ROWS frame over the rollup would stretch across missing hours
# (hours with zero events are absent rows, not zero rows). Rates are
# exact-integer ratios so cross-engine equality is trivial.
# --------------------------------------------------------------------------
@register(
    "q268_slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bad
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT {sql_floor_ms("h")} AS hour_ms, n, n_bad,
             SUM(n) OVER w1 AS n_1h, SUM(n_bad) OVER w1 AS bad_1h,
             SUM(n) OVER w6 AS n_6h, SUM(n_bad) OVER w6 AS bad_6h
      FROM (SELECT h, n, n_bad, {sql_floor_ms("h")} // 3600000 AS hr
            FROM hourly)
      WINDOW w1 AS (ORDER BY hr ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
             w6 AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING
                    AND CURRENT ROW)
    )
    SELECT hour_ms, n, n_bad,
           {{b1_rq}} AS burn_1h,
           {{b6_rq}} AS burn_6h,
           (CAST(bad_1h AS DOUBLE) / n_1h / 0.01 > 14.4
            AND CAST(bad_6h AS DOUBLE) / n_6h / 0.01 > 14.4) AS page,
           (CAST(bad_1h AS DOUBLE) / n_1h / 0.01 > 6
            AND CAST(bad_6h AS DOUBLE) / n_6h / 0.01 > 6) AS ticket
    FROM win
    """.format(
        # burn rates are 100k/n count rationals (.5-tie class):
        # guarded floor grid (r10 q225 class)
        b1_rq=sql_roundq("CAST(bad_1h AS DOUBLE) / n_1h / 0.01"),
        b6_rq=sql_roundq("CAST(bad_6h AS DOUBLE) / n_6h / 0.01"),
    ),
)
def q268_slo_burn_rate(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.when(F.col("value") > 100, 1).otherwise(0).alias("bad"),
    )
    hourly = ev.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    hourly = hourly.withColumn(
        "hr",
        F.expr("unix_millis(cast(h as timestamp)) div 3600000"),
    )
    w1 = W.orderBy("hr").rowsBetween(0, 0)
    w6 = W.orderBy("hr").rangeBetween(-5, 0)
    win = hourly.select(
        F.unix_millis(F.col("h").cast("timestamp")).alias("hour_ms"),
        "n",
        "n_bad",
        F.sum("n").over(w1).alias("n_1h"),
        F.sum("n_bad").over(w1).alias("bad_1h"),
        F.sum("n").over(w6).alias("n_6h"),
        F.sum("n_bad").over(w6).alias("bad_6h"),
    )
    b1 = F.col("bad_1h").cast("double") / F.col("n_1h") / 0.01
    b6 = F.col("bad_6h").cast("double") / F.col("n_6h") / 0.01
    return win.select(
        "hour_ms",
        "n",
        "n_bad",
        roundq(b1).alias("burn_1h"),
        roundq(b6).alias("burn_6h"),
        ((b1 > 14.4) & (b6 > 14.4)).alias("page"),
        ((b1 > 6) & (b6 > 6)).alias("ticket"),
    )
