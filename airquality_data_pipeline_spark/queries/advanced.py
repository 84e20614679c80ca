"""Advanced coverage batch: LLM-training-data preprocessing (document
chunking, deterministic dataset splits) and sensor-series analytics
(time-weighted average, gap-fill + LOCF — the air-quality domain's
bread-and-butter ops the reference never had, SURVEY.md §2.5 "not
present" rows).

Everything is built from sequence/explode/window/hash primitives so the
plans stay JVM-side and shuffle only on the natural keys.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import md5_int, md5_int_sql
from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.queries.common import (
    dec,
    dsum,
    roundq,
    split_bucket,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_floor_ms,
    sql_roundq,
    sql_split_bucket,
    ts_ms,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q85: sliding-window document chunking — fixed-size char chunks with
# overlap (stride < size), the standard LLM-corpus preprocessing step.
# sequence+explode generates chunk starts executor-side; each document's
# chunks stay in its partition (no shuffle beyond the scan).
# --------------------------------------------------------------------------
_CHUNK, _STRIDE = 200, 150


@register(
    "q85_doc_chunking",
    oracle=f"""
    SELECT d.doc_id,
           CAST(s.i AS INT) AS chunk_idx,
           CAST(1 + s.i * {_STRIDE} AS INT) AS start_pos,
           substr(d.text, 1 + s.i * {_STRIDE}, {_CHUNK}) AS chunk,
           length(substr(d.text, 1 + s.i * {_STRIDE}, {_CHUNK})) AS chunk_len
    FROM documents d, LATERAL (
      SELECT unnest(generate_series(
        0, CAST(floor((length(d.text) - 1) / {_STRIDE}) AS BIGINT))) AS i
    ) s
    """,
)
def q85_doc_chunking(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n_chunks = F.floor((F.length("text") - F.lit(1)) / F.lit(_STRIDE))
    # length > 0 guard: an empty doc gives n_chunks = -1 and Spark's
    # sequence(0, -1) infers a DESCENDING [0, -1] — two phantom chunks
    # (chunk_idx -1, start_pos -149) — while DuckDB's
    # generate_series(0, -1) is empty (alt-seed sweep catch)
    out = docs.where(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("i"),
    )
    start = (F.lit(1) + F.col("i") * F.lit(_STRIDE)).cast("int")
    chunk = F.substring(F.col("text"), start, F.lit(_CHUNK))
    return out.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.alias("start_pos"),
        chunk.alias("chunk"),
        F.length(chunk).alias("chunk_len"),
    )


# --------------------------------------------------------------------------
# q86: deterministic train/val/test split — md5-bucket assignment, the
# reproducible (engine- and run-independent) alternative to random
# sampling for dataset curation. Pure per-row hashing: embarrassingly
# parallel, no shuffle at all.
# --------------------------------------------------------------------------
@register(
    "q86_hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             {sql_split_bucket("doc_id")} AS bucket
      FROM documents
    )
    SELECT doc_id, lang, CAST(bucket AS INT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q86_hash_split(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = split_bucket("doc_id")
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# q87: time-weighted average — each reading weighted by how long it was
# current (lead(ts) - ts); the correct mean for irregularly-sampled
# sensor series. Last reading per key has no duration and is excluded.
# One shuffle on user_id shared by the window and the aggregate.
# --------------------------------------------------------------------------
@register(
    "q87_time_weighted_avg",
    oracle=f"""
    WITH d AS (
      SELECT user_id, {sql_floor_ms("ts")} AS t, value,
             lead({sql_floor_ms("ts")}) OVER (
               PARTITION BY user_id ORDER BY {sql_floor_ms("ts")}, event_id
             ) - {sql_floor_ms("ts")} AS dur
      FROM events
    )
    SELECT user_id,
           COUNT(dur) AS n_intervals,
           -- DuckDB SUM(BIGINT) -> HUGEINT; cast back to match Spark int64
           CAST(SUM(dur) AS BIGINT) AS total_ms,
           -- weight in EXACT decimal arithmetic: quantize only the small
           -- double (value), multiply by the integer duration in decimal
           -- domain. DuckDB's double->decimal/decimal->double casts go
           -- through float math and mis-round past ~17 significant
           -- digits, so wide products must never round through double;
           -- the final cast hops through VARCHAR (correctly rounded).
           {sql_double(f"SUM({sql_dec('value')} * dur)")} / SUM(dur) AS twa
    FROM d WHERE dur IS NOT NULL
    GROUP BY user_id
    """,
)
def q87_time_weighted_avg(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn("t", F.unix_millis("ts"))
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    d = ev.select(
        "user_id",
        "value",
        (F.lead("t").over(w) - F.col("t")).alias("dur"),
    ).where(F.col("dur").isNotNull())
    return d.groupBy("user_id").agg(
        F.count("dur").alias("n_intervals"),
        F.sum("dur").alias("total_ms"),
        # try_divide: all-zero durations (every event at the SAME
        # timestamp — constant_ts robustness axis) make the weight sum
        # 0; DuckDB's x/0 is NULL
        F.try_divide(
            F.sum(dec("value") * F.col("dur")).cast("double"),
            F.sum("dur").cast("double"),
        ).alias("twa"),
    )


# --------------------------------------------------------------------------
# q88: gap-fill + LOCF — hourly spine per key (sequence of hours between
# each user's first and last reading) left-joined with observed hourly
# means, gaps filled by last-observation-carried-forward (IGNORE NULLS
# running last). The canonical air-quality "sensor went quiet" repair.
# Spine generation is executor-side; the join shuffles on (user, hour)
# once, and the fill is a window over the same partitioning.
# --------------------------------------------------------------------------
@register(
    "q88_gapfill_locf",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value
      FROM events WHERE user_id < 8
    ), bounds AS (
      SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM ev GROUP BY user_id
    ), spine AS (
      SELECT b.user_id, s.h
      FROM bounds b, LATERAL (
        SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
      ) s
    ), hourly AS (
      SELECT user_id, h,
             {sql_dsum("value")} / COUNT(value)
               AS observed
      FROM ev GROUP BY user_id, h
    )
    SELECT s.user_id, {sql_floor_ms("s.h")} AS hour_ms, o.observed,
           last_value(o.observed IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled
    FROM spine s LEFT JOIN hourly o
      ON s.user_id = o.user_id AND s.h = o.h
    """,
)
def q88_gapfill_locf(spark, sf_dir):
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 8)
        .select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    hourly = ev.groupBy("user_id", "h").agg(
        (dsum("value") / F.count("value")).alias("observed")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            ts_ms("h", "hour_ms"),
            "observed",
            F.last("observed", ignorenulls=True).over(w).alias("filled"),
        )
    )


# --------------------------------------------------------------------------
# q92: discrete percentiles — the smallest value whose cumulative
# fraction reaches p (an actual data value, unlike the interpolated
# q37). The Spark plan pre-aggregates to (flag, quantity, count) with a
# map-side partial combine, so the window sorts ~50 rows per flag
# instead of full-sorting the fact table (the cume_dist-over-raw-rows
# form shuffles and sorts every row; this one shuffles |distinct|
# rows). cum/total division reproduces cume_dist bit-exactly: the same
# exact integers divide in double on both engines.
# --------------------------------------------------------------------------
@register(
    "q92_discrete_percentiles",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity,
             cume_dist() OVER (
               PARTITION BY l_returnflag ORDER BY l_quantity
             ) AS cd
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(CASE WHEN cd >= 0.5 THEN l_quantity END) AS p50_disc,
           MIN(CASE WHEN cd >= 0.9 THEN l_quantity END) AS p90_disc,
           MIN(CASE WHEN cd >= 0.99 THEN l_quantity END) AS p99_disc
    FROM c GROUP BY l_returnflag
    """,
)
def q92_discrete_percentiles(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    whole = W.partitionBy("l_returnflag")
    c = counts.select(
        "l_returnflag",
        "l_quantity",
        (
            F.sum("cnt").over(w).cast("double")
            / F.sum("cnt").over(whole).cast("double")
        ).alias("cd"),
    )

    def disc(p, alias):
        return F.min(
            F.when(F.col("cd") >= p, F.col("l_quantity"))
        ).alias(alias)

    return c.groupBy("l_returnflag").agg(
        disc(0.5, "p50_disc"), disc(0.9, "p90_disc"), disc(0.99, "p99_disc")
    )


# --------------------------------------------------------------------------
# q93: snapshot diff (CDC tagging) — full-outer join of two dimension
# snapshots on the key, classifying every row as insert / delete /
# update; the batch twin of the reference's catalog upsert (K2,
# app/main.py:633-648) that makes the change set itself queryable.
# Shuffles once on the key; at scale this IS the MERGE source.
# --------------------------------------------------------------------------
@register(
    "q93_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT c_custkey AS k, c_acctbal AS v FROM customer
      WHERE c_custkey % 5 != 0
    ), new AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 10
                  ELSE c_acctbal END AS v
      FROM customer WHERE c_custkey % 7 != 0
    )
    SELECT COALESCE(o.k, n.k) AS k, o.v AS old_v, n.v AS new_v,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS op
    FROM old o FULL OUTER JOIN new n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.v != n.v
    """,
)
def q93_snapshot_diff(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    old = cust.where(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v")
    )
    new = cust.where(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 10)
        .otherwise(F.col("c_acctbal"))
        .alias("v"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    return joined.select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
        F.col("o.v").alias("old_v"),
        F.col("n.v").alias("new_v"),
        F.when(F.col("o.k").isNull(), "insert")
        .when(F.col("n.k").isNull(), "delete")
        .otherwise("update")
        .alias("op"),
    ).where(
        F.col("o.k").isNull()
        | F.col("n.k").isNull()
        | (F.col("o.v") != F.col("n.v"))
    )


# --------------------------------------------------------------------------
# q94: deterministic stratified sampling — per-language keep quotas via
# md5 bucketing (downsample the dominant language, keep the tail), the
# reproducible corpus-rebalancing step of an LLM data pipeline. Same
# zero-shuffle hash idiom as q86; the quota map is a CASE expression.
# --------------------------------------------------------------------------
@register(
    "q94_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             {sql_split_bucket("doc_id")} AS bucket
      FROM documents
    )
    SELECT doc_id, lang, CAST(bucket AS INT) AS bucket
    FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 60 END
    """,
)
def q94_stratified_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = split_bucket("doc_id")
    quota = F.when(F.col("lang") == "en", F.lit(20)).otherwise(F.lit(60))
    return (
        docs.select("doc_id", "lang", bucket.cast("int").alias("bucket"))
        .where(F.col("bucket") < quota)
    )


# --------------------------------------------------------------------------
# q98: sequence packing — assign documents to fixed-token-budget bins
# (the concat-then-chunk pretraining batch construction). Global greedy
# packing is inherently sequential, so the scale design packs WITHIN
# md5-derived buckets: each bucket is an independent stream ordered by
# doc id, packed by cumulative-token floor — embarrassingly parallel
# across buckets (one shuffle on the bucket key), deterministic, and
# reproducible on any engine.
# --------------------------------------------------------------------------
_PACK_BUDGET = 2048
_PACK_BUCKETS = 32


@register(
    "q98_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {md5_int_sql("CAST(doc_id AS VARCHAR)", 1, 8)} % {_PACK_BUCKETS} AS bucket,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, CAST(bucket AS INT) AS bucket, n_tokens,
             -- CAST: DuckDB windowed SUM(BIGINT) -> HUGEINT vs Spark int64
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS tokens_before
      FROM t
    )
    SELECT doc_id, bucket, n_tokens, tokens_before,
           -- // : DuckDB's / on integers is FLOAT division (and CAST
           -- rounds-to-nearest, not floor)
           tokens_before // {_PACK_BUDGET} AS bin_id
    FROM c
    """,
)
def q98_sequence_packing(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = (
        md5_int(F.col("doc_id").cast("string"), 1, 8)
        % _PACK_BUCKETS
    ).cast("int")
    t = F.trim(F.col("text"))
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")
    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = docs.select(
        "doc_id", bucket.alias("bucket"), n_tokens.alias("n_tokens")
    ).withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return c.select(
        "doc_id",
        "bucket",
        "n_tokens",
        "tokens_before",
        F.floor(F.col("tokens_before") / F.lit(_PACK_BUDGET)).alias("bin_id"),
    )


# --------------------------------------------------------------------------
# q139: sequential funnel analysis — the classic product-analytics
# rollup the reference's event model implies but never computes: how
# many users progress view -> click -> purchase IN ORDER. Stage
# timestamps chain by min-after-predecessor (t1 = first view, t2 =
# first click AFTER t1, t3 = first purchase AFTER t2), computed as
# three stacked window aggregates over the SAME user_id partition —
# Catalyst plans ONE exchange + one sort for all three (same
# partitioning + ordering requirement), so the funnel costs a single
# shuffle at any scale. Output: per-stage user counts and conversion
# shares.
# --------------------------------------------------------------------------
@register(
    "q139_funnel",
    oracle="""
    WITH t1s AS (
      SELECT user_id, min(ts) FILTER (event_type = 'view') AS t1
      FROM events GROUP BY user_id
    ),
    t2s AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1s ON e.user_id = t1s.user_id
      WHERE e.event_type = 'click' AND e.ts > t1s.t1
      GROUP BY e.user_id
    ),
    t3s AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2s ON e.user_id = t2s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2s.t2
      GROUP BY e.user_id
    ),
    stages AS (
      SELECT t1s.user_id,
             CASE WHEN t3s.t3 IS NOT NULL THEN 3
                  WHEN t2s.t2 IS NOT NULL THEN 2
                  WHEN t1s.t1 IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM t1s
      LEFT JOIN t2s ON t1s.user_id = t2s.user_id
      LEFT JOIN t3s ON t1s.user_id = t3s.user_id
    ),
    total AS (SELECT count(DISTINCT user_id) AS n FROM events)
    SELECT s.stage_name, s.n_users,
           {share_rq} AS share_of_users
    FROM (
      SELECT 'view' AS stage_name, count(*) AS n_users
      FROM stages WHERE stage >= 1
      UNION ALL
      SELECT 'view>click', count(*) FROM stages WHERE stage >= 2
      UNION ALL
      SELECT 'view>click>purchase', count(*) FROM stages WHERE stage >= 3
    ) s, total
    """.format(
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        share_rq=sql_roundq("s.n_users / total.n::DOUBLE"),
    ),
)
def q139_funnel(spark, sf_dir):
    events = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    staged = (
        events.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("t3").isNotNull(), 3)
                .when(F.col("t2").isNotNull(), 2)
                .when(F.col("t1").isNotNull(), 1)
                .otherwise(0)
            ).alias("stage")
        )
    )
    # ONE pass over the staged users: all three cumulative stage counts
    # and the denominator in a single scalar aggregate, then unpivoted
    # to the 3-row report (re-filtering per stage would recompute the
    # window subtree once per row)
    # coalesce: SUM over zero users is NULL on Spark, while the
    # oracle's per-stage COUNT(*) over empty stages is 0
    # (empty_relation axis); try_divide below matches DuckDB's
    # NULL on the 0/0 share.
    report = staged.agg(
        F.coalesce(
            F.sum((F.col("stage") >= 1).cast("long")), F.lit(0)
        ).alias("n1"),
        F.coalesce(
            F.sum((F.col("stage") >= 2).cast("long")), F.lit(0)
        ).alias("n2"),
        F.coalesce(
            F.sum((F.col("stage") >= 3).cast("long")), F.lit(0)
        ).alias("n3"),
        F.count(F.lit(1)).alias("n"),
    )
    return report.select(
        F.expr(
            "stack(3, 'view', n1, 'view>click', n2, "
            "'view>click>purchase', n3) AS (stage_name, n_users)"
        ),
        "n",
    ).select(
        "stage_name",
        "n_users",
        roundq(
            F.try_divide(F.col("n_users"), F.col("n").cast("double"))
        ).alias("share_of_users"),
    )


# --------------------------------------------------------------------------
# q140: cohort retention matrix — q139's sibling product-analytics
# rollup: users grouped by first-activity week (the cohort), then for
# each cohort x week-offset, how many of its users were active.
# Both date_trunc('week', ...) implementations start weeks on Monday,
# and the session is pinned UTC, so the cohort keys agree bit-exactly;
# cohort week leaves as epoch millis (the repo's timestamp rule).
# Plan: distinct (user, week) activity -> one min-per-user aggregate
# broadcast back -> one groupBy(cohort, offset) — two shuffles on
# user_id and the (cohort, offset) key.
# --------------------------------------------------------------------------
@register(
    "q140_cohort_retention",
    oracle=f"""
    WITH activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    cohorts AS (
      SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id
    )
    SELECT {sql_floor_ms("c.cohort_wk")} AS cohort_week_ms,
           CAST(date_diff('day', c.cohort_wk, a.wk) / 7 AS INT)
             AS week_offset,
           count(*) AS n_active_users
    FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    GROUP BY c.cohort_wk, week_offset
    """,
)
def q140_cohort_retention(spark, sf_dir):
    events = table(spark, sf_dir, "events")
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            ts_ms("cohort_wk", "cohort_week_ms"),
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


# --------------------------------------------------------------------------
# q141: Z-order layout index — the data-layout lever behind file
# skipping at 100 TB (Delta OPTIMIZE ZORDER, Iceberg sort orders):
# interleaving the bits of two quantized key columns gives a 1-D sort
# key whose contiguous ranges are bounded in BOTH dimensions, so
# min/max file statistics prune scans on either predicate. Here each
# key normalizes to an 8-bit cell over its observed min/max (integer
# arithmetic only — both engines agree bit-exactly), the 16-bit
# z-value interleaves the cells, and the report shows what the layout
# buys: grouping by the top 6 z-bits (64 "files"), BOTH per-bucket
# cell widths stay <= 32 of 256 — whereas sorting by one key alone
# leaves the other dimension's width at the full 256. The width
# guarantee is structural (top-3 bits of each dimension pin a 32-cell
# window), so the emitted bounded_both flag is constant-true.
# --------------------------------------------------------------------------
@register(
    "q141_zorder_layout",
    oracle="""
    WITH bounds AS (
      SELECT min(l_orderkey) AS xmin, max(l_orderkey) AS xmax,
             min(l_partkey) AS ymin, max(l_partkey) AS ymax
      FROM lineitem
    ),
    cells AS (
      SELECT CAST(((l_orderkey - xmin) * 256) // (xmax - xmin + 1) AS BIGINT) AS cx,
             CAST(((l_partkey - ymin) * 256) // (ymax - ymin + 1) AS BIGINT) AS cy
      FROM lineitem, bounds
    ),
    z AS (
      SELECT cx, cy,
             (((cx >> 0) & 1) << 0)  + (((cy >> 0) & 1) << 1)
           + (((cx >> 1) & 1) << 2)  + (((cy >> 1) & 1) << 3)
           + (((cx >> 2) & 1) << 4)  + (((cy >> 2) & 1) << 5)
           + (((cx >> 3) & 1) << 6)  + (((cy >> 3) & 1) << 7)
           + (((cx >> 4) & 1) << 8)  + (((cy >> 4) & 1) << 9)
           + (((cx >> 5) & 1) << 10) + (((cy >> 5) & 1) << 11)
           + (((cx >> 6) & 1) << 12) + (((cy >> 6) & 1) << 13)
           + (((cx >> 7) & 1) << 14) + (((cy >> 7) & 1) << 15) AS zv
      FROM cells
    )
    SELECT zv >> 10 AS z_bucket,
           count(*) AS n_rows,
           max(cx) - min(cx) AS cx_width,
           max(cy) - min(cy) AS cy_width,
           (max(cx) - min(cx) < 32) AND (max(cy) - min(cy) < 32)
             AS bounded_both
    FROM z GROUP BY z_bucket
    """,
)
def q141_zorder_layout(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("xmin"),
        F.max("l_orderkey").alias("xmax"),
        F.min("l_partkey").alias("ymin"),
        F.max("l_partkey").alias("ymax"),
    )
    cells = li.crossJoin(F.broadcast(bounds)).select(
        F.floor(
            (F.col("l_orderkey") - F.col("xmin")) * 256
            / (F.col("xmax") - F.col("xmin") + 1)
        ).alias("cx"),
        F.floor(
            (F.col("l_partkey") - F.col("ymin")) * 256
            / (F.col("ymax") - F.col("ymin") + 1)
        ).alias("cy"),
    )
    zv = None
    for i in range(8):
        xbit = F.shiftleft(
            F.shiftright("cx", i).bitwiseAND(F.lit(1)), 2 * i
        )
        ybit = F.shiftleft(
            F.shiftright("cy", i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = xbit + ybit
        zv = term if zv is None else zv + term
    z = cells.select("cx", "cy", zv.alias("zv"))
    width = lambda c: F.max(c) - F.min(c)  # noqa: E731
    return (
        z.groupBy(F.shiftright("zv", 10).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            width("cx").alias("cx_width"),
            width("cy").alias("cy_width"),
            ((width("cx") < 32) & (width("cy") < 32)).alias("bounded_both"),
        )
    )


# --------------------------------------------------------------------------
# q142: market-basket co-occurrence lift — the association-rule
# primitive (Apriori's first pass): for part pairs appearing in >= 2
# common orders, support and lift = P(a,b) / (P(a) P(b)). The pair
# stage self-joins the DISTINCT (order, part) set on l_orderkey, so
# fanout is bounded by items-per-order squared (~5^2 here), never
# parts^2 — the basket key is what makes this linear in order count at
# any scale. Lift arithmetic stays in integer counts until one final
# rounded double division.
# --------------------------------------------------------------------------
@register(
    "q142_basket_lift",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM d),
    item AS (SELECT l_partkey, count(*) AS c FROM d GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS c_ab
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, c_ab,
           ia.c AS c_a, ib.c AS c_b,
           {lift_rq} AS lift
    FROM pairs
    JOIN item ia ON pairs.part_a = ia.l_partkey
    JOIN item ib ON pairs.part_b = ib.l_partkey
    CROSS JOIN n
    """.format(
        # lift = integer-count rational (.5-tie class): guarded floor
        # grid (r10 q225 class)
        lift_rq=sql_roundq("(c_ab::DOUBLE * n.n_orders) / (ia.c * ib.c)"),
    ),
)
def q142_basket_lift(spark, sf_dir):
    d = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = d.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 2)
    )
    return (
        pairs.join(
            item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")),
            "part_a",
        )
        .join(
            item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            "c_a",
            "c_b",
            roundq(
                (F.col("c_ab").cast("double") * F.col("n_orders"))
                / (F.col("c_a") * F.col("c_b"))
            ).alias("lift"),
        )
    )
