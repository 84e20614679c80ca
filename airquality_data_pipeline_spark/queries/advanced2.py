"""Second advanced-coverage batch (round 5, session 4): corpus-quality
repetition filtering (the Gopher/C4 intra-document duplicate-n-gram
rule), data-mixture reweighting, robust (median/MAD) outlier detection,
bounded-tap exponential smoothing, blocked fuzzy string joins,
equi-depth histograms, unrolled PageRank, and seasonal anomaly scoring.

Design rules are the catalog's usual ones: every plan is keyed
equi-join / groupBy work (the only fanouts are explicitly bounded —
20 taps for EWMA, items-per-order for the co-occurrence graph, block
size for the fuzzy join), double aggregation goes through decimal
quantization so DuckDB reproduces bit-exact values, and randomness is
md5-derived. No reference analog: the reference app (a single-thread
requests/psycopg loop, /root/reference/app/main.py) has no analytics
surface; these rows extend SURVEY.md §2.5's "not present" families.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.expr import let, materialize
from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.io import local_frame, table
from airquality_data_pipeline_spark.operators.dedup import (
    shingle_array,
    word_shingles_sql,
)
from airquality_data_pipeline_spark.operators.similarity import (
    PLANTED_NEARDUP_CORPUS_SQL,
    cosine_sql,
    ivf_assign_sql,
    sqrt_k_centroids_sql,
    with_norm_sql,
)
from airquality_data_pipeline_spark.queries.common import (
    dec,
    decq,
    dsum,
    finite,
    roundq,
    roundz,
    sql_dec,
    sql_decq,
    sql_double,
    sql_dsum,
    sql_finite,
    sql_floor_ms,
    sql_roundq,
    sql_roundz,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q143: intra-document repetition filter — the Gopher quality rule
# "fraction of duplicate word n-grams within the document" (n=5 here).
# q95 is the 3-gram organic-corpus variant of the same rule; this one
# PLANTS positives (the fixture corpus has no natural repetition, so
# q95's flag path is vacuous): every 7th doc gets a self-doubled twin
# under a shifted id — those must be the flagged rows.
# Everything happens inside the row (split -> shingle -> distinct), so
# the plan is a single scan projection: no explode, no shuffle, and at
# 100 TB it's embarrassingly parallel.
# The flag threshold (20% duplicated grams) is evaluated in integer
# arithmetic (dup*5 >= total) so no float comparison sits on the
# decision boundary.
# --------------------------------------------------------------------------
@register(
    "q143_repetition_filter",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text || ' ' || text AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')) AS grams
      FROM (SELECT doc_id,
                   {toks} AS t
            FROM corpus)
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           {dup_frac_rq} AS dup_frac,
           (len(grams) - len(list_distinct(grams))) * 5 >= len(grams)
             AS flagged
    FROM g WHERE len(grams) > 0
    """.format(
        toks=tokens_sql("text"),
        # k/n rationals tie at .5 boundaries of the 1e-6 grid (e.g.
        # odd/128): guarded floor grid, not round() (r10 q225 class)
        dup_frac_rq=sql_roundq(
            "CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)"
            " / len(grams)"
        ),
    ),
)
def q143_repetition_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat_ws(" ", "text", "text").alias("text"),
        )
    )
    toks = tokens("text")
    # one tokenize + one shingle build per row, counts taken inside the
    # same let body (two separate output columns would re-inline the
    # shingle subtree — see functions/expr.py)
    stats = let(
        toks,
        lambda w: let(
            shingle_array(w, 5),
            lambda g: F.struct(
                F.size(g).cast("long").alias("n_grams"),
                F.size(F.array_distinct(g)).cast("long").alias("n_distinct"),
            ),
        ),
    )
    m = materialize(corpus, ["doc_id"], stats, "s")
    total, dist = F.col("s.n_grams"), F.col("s.n_distinct")
    return m.where(total > 0).select(
        "doc_id",
        total.alias("n_grams"),
        dist.alias("n_distinct"),
        roundq((total - dist).cast("double") / total).alias("dup_frac"),
        ((total - dist) * 5 >= total).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q144: domain-mixture reweighting — given the per-source token mass,
# compute the sampling weight that moves the mixture toward a uniform
# target share (capped at 3x upsampling, the standard guard against
# over-replicating a tiny domain; cf. DoReMi-style mixture tuning's
# static baseline). Two tiny aggregates over a handful of source rows;
# the token-count scan is the only real work, so at 100 TB the cost is
# one pass over `documents`. Weight arithmetic is double with identical
# expression trees on both engines; the re-normalized share divides two
# exact BIGINTs.
# --------------------------------------------------------------------------
@register(
    "q144_mixture_reweight",
    oracle=r"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                      END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *,
             {token_share_rq} AS token_share,
             {weight_rq} AS weight
      FROM per_source
    ),
    e AS (
      SELECT *, CAST({expected_rq} AS BIGINT) AS expected_tokens
      FROM w
    )
    SELECT source, n_docs, n_tokens, token_share, weight, expected_tokens,
           {new_share_rq} AS new_share
    FROM e
    """.format(
        # every column here is a small-denominator rational (integer
        # token-count ratios; a 6-dp weight times an integer): guarded
        # floor grid, not round() (r10 q225 class)
        token_share_rq=sql_roundq(
            "CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()"
        ),
        weight_rq=sql_roundq(
            "least((1.0 / COUNT(*) OVER ())"
            " / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 3.0)"
        ),
        expected_rq=sql_roundq("weight * n_tokens", 0),
        new_share_rq=sql_roundq(
            "CAST(expected_tokens AS DOUBLE)"
            " / SUM(expected_tokens) OVER ()"
        ),
    ),
)
def q144_mixture_reweight(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    ws_tokens = F.when(
        F.length(F.trim("text")) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim("text"), r"\s+")))
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_tokens).cast("long").alias("n_tokens"),
    )
    everything = W.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        everything
    )
    target = F.lit(1.0) / F.count(F.lit(1)).over(everything)
    w = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        roundq(share).alias("token_share"),
        roundq(F.least(target / share, F.lit(3.0))).alias("weight"),
    ).withColumn(
        "expected_tokens",
        roundq(F.col("weight") * F.col("n_tokens"), 0).cast("long"),
    )
    return w.withColumn(
        "new_share",
        roundq(
            F.col("expected_tokens").cast("double")
            / F.sum("expected_tokens").over(everything)
        ),
    )


# --------------------------------------------------------------------------
# q145: robust outlier detection (median/MAD) — the z-score's
# outlier-resistant sibling: flag |0.6745 (x - med)| > 3.5 MAD
# (Iglewicz-Hosteller modified z-score). Exact medians via two grouped
# passes; the group medians (5 rows) broadcast back onto the fact scan,
# so the events table shuffles only for its own groupBy. The outlier
# predicate is the multiplication form (no division), so mad == 0
# degrades safely and both engines evaluate the identical IEEE tree.
# --------------------------------------------------------------------------
@register(
    "q145_mad_outliers",
    oracle="""
    WITH ev AS (
      -- non-finite = NULL at entry (finite()/sql_finite convention):
      -- median/MAD over NaN/inf diverge cross-engine (nonfinite axis)
      SELECT event_type, {f} AS value FROM events
    ),
    med AS (
      SELECT event_type, median(value) AS med FROM ev GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM ev e JOIN med m USING (event_type)
      GROUP BY 1, 2
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           {med_rq} AS med_r,
           {mad_rq} AS mad_r,
           CAST(SUM(CASE WHEN 0.6745 * abs(e.value - x.med) > 3.5 * x.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           {maxz_rq} AS max_abs_z
    FROM ev e JOIN mad x USING (event_type)
    GROUP BY e.event_type, x.med, x.mad
    """.format(
        # medians of grid-heavy values are midpoint rationals; the
        # modified z is a rational ratio: guarded floor grid, not
        # round() (r10 q225 class)
        f=sql_finite("value"),
        med_rq=sql_roundq("x.med"),
        mad_rq=sql_roundq("x.mad"),
        maxz_rq=sql_roundq("max(0.6745 * abs(e.value - x.med)) / x.mad"),
    ),
)
def q145_mad_outliers(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type", finite(F.col("value")).alias("value")
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type", "med").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    j2 = ev.join(F.broadcast(mad), "event_type")
    dev = 0.6745 * F.abs(F.col("value") - F.col("med"))
    return j2.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(dev > 3.5 * F.col("mad"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        # try_divide: mad = 0 when a group's values are all equal
        # (all-ties robustness axis) — DuckDB's x/0 is NULL
        roundq(F.try_divide(F.max(dev), F.col("mad"))).alias(
            "max_abs_z"
        ),
    ).select(
        "event_type",
        "n",
        roundq(F.col("med")).alias("med_r"),
        roundq(F.col("mad")).alias("mad_r"),
        "n_outliers",
        "max_abs_z",
    )


# --------------------------------------------------------------------------
# q146: exponential moving average per user — EWMA with decay 1/2,
# truncated at 20 taps (weight 2^-19 ~ 1.9e-6; the tail is noise).
# The recursive definition is re-expressed as a BOUNDED-LAG self-join:
# each row joins its last 20 predecessors on the (user, row_number)
# equi-key, so the fanout is exactly 20x and the shuffle key is the
# user — the streaming-state-free batch shape that scales linearly.
# Weights are the INTEGER ladder 2^(19-d) (the 2^-d decay scaled by
# 2^19), so numerator and denominator are exact decimal/bigint sums
# in both engines — fractional powers of two would create exact
# decimal ties whose double->decimal rounding DuckDB and Spark break
# differently (measured: 12 last-digit flips at sf0.01).
# --------------------------------------------------------------------------
@register(
    "q146_ewma",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT a.user_id, a.rn,
             {v} AS v,
             CAST(pow(2, 19 - (a.rn - b.rn)) AS BIGINT) AS u
      FROM r a JOIN r b
        ON a.user_id = b.user_id
       AND b.rn BETWEEN a.rn - 19 AND a.rn
    )
    SELECT user_id, CAST(rn AS BIGINT) AS rn,
           {ewma_rq} AS ewma
    FROM p GROUP BY user_id, rn
    """.format(
        v=sql_dec("b.value", 2),
        # sum(2dp*2^k)/sum(2^k) is a dyadic-denominator rational —
        # exactly the .5-tie class: guarded floor grid (r10 q225 class)
        ewma_rq=sql_roundq(sql_double("SUM(v * u)") + " / CAST(SUM(u) AS DOUBLE)"),
    ),
)
def q146_ewma(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    # ONE window pass (r12, guide §2.4): the 20-term weighted sum is a
    # frame aggregate over rowsBetween(-19, 0) — collect the frame's
    # DECIMAL(18,2) values (frame order: oldest first) and fold them
    # with exact integer weights 2^(19-k), k = rows-before-current.
    # Replaces the explode(20x) + shuffled self-join + re-aggregation
    # (4 exchanges, the window subtree computed twice) with a single
    # hash exchange on user_id. Value-identical: the frame holds
    # exactly the rows the old brn BETWEEN arn-19 AND arn join matched,
    # the same decimal*long products enter the same exact decimal sum,
    # and the divisor SUM(2^(19-k)) over m frame rows has the closed
    # form 2^20 - 2^(20-m) in exact integers. NULL values (incl.
    # non-finite -> NULL via dec): collect_list would DROP them and
    # shift every weight, so they ride along as exact 0 (same numerator
    # as the old NULL-skipping SUM, same frame size for the divisor);
    # an all-NULL frame must still yield NULL like SUM over no non-NULL
    # rows — the windowed count() guard reproduces that.
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-19, 0)
    zero = F.lit(0).cast("decimal(18,2)")
    r = ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.collect_list(F.coalesce(dec("value", 2), zero))
        .over(frame)
        .alias("_vs"),
        F.count(dec("value", 2)).over(frame).alias("_nn"),
    )
    num = F.expr(
        """
        aggregate(
          zip_with(_vs, sequence(1, size(_vs)),
                   (v, i) -> v * shiftleft(1L, 19 - size(_vs) + i)),
          CAST(0 AS DECIMAL(38,2)),
          (acc, x) -> acc + x
        )
        """
    )
    den = F.expr("shiftleft(1L, 20) - shiftleft(1L, 20 - size(_vs))")
    return r.select(
        "user_id",
        "rn",
        F.when(
            F.col("_nn") > 0,
            roundq(num.cast("double") / den.cast("double")),
        ).alias("ewma"),
    )


# --------------------------------------------------------------------------
# q147: blocked fuzzy string join (Ed-join/PassJoin family) — candidate
# pairs come from an EQUI-join on a cheap blocking key (the name's last
# token), and the O(len^2) edit-distance DP runs only inside blocks.
# The blocking key bounds candidates at block_size^2 instead of
# names^2 — the only way a string-similarity join survives 100 TB.
# Distinct-name extraction first: the verify cost scales with the name
# VOCABULARY, not the row count.
# --------------------------------------------------------------------------
@register(
    "q147_fuzzy_string_join",
    oracle="""
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    keyed AS (
      SELECT p_name, n_parts,
             list_extract(string_split(p_name, ' '),
                          len(string_split(p_name, ' '))) AS block
      FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_parts AS n_a, b.n_parts AS n_b
    FROM keyed a JOIN keyed b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q147_fuzzy_string_join(spark, sf_dir):
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    keyed = names.withColumn(
        "block", F.element_at(F.split("p_name", " "), -1)
    )
    a = keyed.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "block",
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "block",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .where(dist <= 3)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("dist"),
            "n_a",
            "n_b",
        )
    )


# --------------------------------------------------------------------------
# q148: equi-depth histogram — 16 equal-population buckets over
# l_extendedprice with a DETERMINISTIC total order (price, then the
# unique line key, so both engines tile identically). The oracle states
# it as ntile(16); the Spark side computes the identical bucket via
# TWO-PHASE RANK, because a literal ntile window would sort the whole
# fact table on one partition (l_extendedprice is ~unique — 583k
# distinct of 600k rows at sf0.1 — so pre-aggregating to the distinct
# domain doesn't shrink anything): repartitionByRange on the full sort
# key (range partitions hold disjoint ordered key ranges), row_number
# within each range partition, then a broadcast join of the ≤64-row
# per-partition count prefix-sums turns local ranks into global ranks.
# The ntile bucket is then closed-form from (global rank, n): the first
# n%16 buckets hold ceil(n/16) rows, the rest floor(n/16) — the exact
# SQL ntile contract on both engines. Plan: two keyed fact exchanges
# (range, then pid) instead of an all-rows single-partition sort; the
# only single-partition window runs over the 64-row partition-count
# frame. The bucket profile (count/min/max/mass) is what a cost-based
# optimizer's column histogram stores.
# --------------------------------------------------------------------------
@register(
    "q148_equidepth_histogram",
    oracle=f"""
    WITH t AS (
      SELECT l_extendedprice,
             ntile(16) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi,
           {{}}
    FROM t GROUP BY bucket
    """.format(sql_dsum("l_extendedprice") + " AS mass"),
)
def q148_equidepth_histogram(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.windows import (
        global_ntile,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    t = global_ntile(
        li,
        16,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        out_col="bucket",
    ).select("l_extendedprice", "bucket")
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        dsum("l_extendedprice").alias("mass"),
    )


# --------------------------------------------------------------------------
# q149: PageRank, 3 unrolled power iterations with damping 0.85, over
# the part co-occurrence graph (parts linked when they share an order —
# q142's basket key bounds edge generation by items-per-order, never
# parts^2). Per iteration the plan is: broadcast the rank vector onto
# the edge list, groupBy dst — the textbook distributed PageRank shape
# where only the edge scan is big.
#
# Arithmetic is FIXED-POINT: ranks are BIGINT micro-units (1e15 = total
# mass), every step is integer division and exact integer sums, and no
# float exists until the final display column. A first draft kept
# double ranks with DECIMAL(18,12)-quantized neighbor sums and drifted:
# each iteration's output lands exactly ON the decimal grid, so the
# next quantization rounds at a knife edge where Spark (exact-binary
# half-up) and DuckDB (scaled-multiply) disagree — 30 nodes flipped at
# sf0.01. Fixed-point floor arithmetic is the general recipe for
# making iterative float algorithms reproducible across engines AND
# across partitionings (integer sums commute; float sums don't). Mass
# leaks <= 1 micro-unit per edge per iteration — 1e-10 relative.
# The undirected graph guarantees every node has in-edges, so no
# dangling-mass term.
# --------------------------------------------------------------------------
_PR_SCALE = 10**15


_PR_CTES = f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST({_PR_SCALE} // nn.n AS BIGINT) AS r
           FROM deg CROSS JOIN nn)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    c{out} AS (
      SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
      FROM e JOIN {prev} p ON e.src = p.node
             JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    {out} AS (
      SELECT node,
             CAST((15 * {_PR_SCALE}) // (100 * nn.n) + (85 * s) // 100
                  AS BIGINT) AS r
      FROM c{out} CROSS JOIN nn
    )"""


@register(
    "q149_pagerank",
    oracle=_PR_CTES
    + ","
    + _pr_iter_sql("r0", "r1")
    + ","
    + _pr_iter_sql("r1", "r2")
    + ","
    + _pr_iter_sql("r2", "r3")
    + f"""
    SELECT node, CAST(r AS BIGINT) AS rank_fixed,
           CAST(r AS DOUBLE) / {_PR_SCALE // 1000} AS rank_permille
    FROM r3
    """,
)
def q149_pagerank(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
    )

    d = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = d.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("dst"))
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # the operator localCheckpoints the (src, dst, deg) frame once:
    # without the lineage cut the unrolled plan re-derives this
    # distinct+self-join edge build per iteration (measured
    # 11.7 s -> 3.4 s at sf0.1 when the cut was introduced)
    r = pagerank_fixed_point(e, iterations=3, scale=_PR_SCALE)
    # rank_permille is the RAW division of the shared fixed-point
    # integer — bit-identical across engines. A round(.., 8) here once
    # broke sf0.1 parity: r = 38643435000 puts r/1e12 exactly on a
    # decimal half at the 8th digit, where Spark (BigDecimal HALF_UP
    # on the shortest repr) and DuckDB (float-space rounding)
    # disagree. rank_fixed carries the exact integer itself.
    return r.select(
        "node",
        F.col("r").cast("long").alias("rank_fixed"),
        (F.col("r").cast("double") / (_PR_SCALE // 1000)).alias(
            "rank_permille"
        ),
    )


# --------------------------------------------------------------------------
# q150: seasonal-baseline anomaly detection — per (event_type, hour of
# day) mean/std baseline, then flag events deviating > 3 sigma from
# their own seasonal slot (the time-series shape of fleet monitoring).
# The baseline is a ~120-row aggregate that broadcasts back onto the
# fact scan, so events shuffle once for their own groupBy and never for
# the enrichment. Std comes from decimal-exact sum/sum-of-squares
# (stddev_samp's float accumulation order differs between engines);
# the anomaly predicate is multiplication-form, no division.
# --------------------------------------------------------------------------
@register(
    "q150_seasonal_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hh,
             CAST(count(*) AS BIGINT) AS n,
             {s} AS s,
             {ss} AS ss
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, hh, n,
             s / n AS mean,
             sqrt((ss - s * s / n) / (n - 1)) AS std
      FROM base WHERE n > 1
    )
    SELECT e.event_type,
           CAST(EXTRACT(hour FROM e.ts) AS BIGINT) AS hh,
           x.n,
           {mean_rq} AS mean_r,
           round(x.std, 6) AS std_r,
           CAST(SUM(CASE WHEN abs(e.value - x.mean) > 3 * x.std
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
    FROM events e
    JOIN stats x
      ON e.event_type = x.event_type
     AND CAST(EXTRACT(hour FROM e.ts) AS BIGINT) = x.hh
    GROUP BY 1, 2, x.n, x.mean, x.std
    """.format(
        s=sql_dsum("value"),
        ss=sql_dsum("value * value"),
        # mean = k/(1e6*n) rational (.5-tie class): guarded floor
        # grid; std is sqrt-derived — tie-free, round() ok
        mean_rq=sql_roundq("x.mean"),
    ),
)
def q150_seasonal_anomaly(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hh"), "value"
    )
    base = ev.groupBy("event_type", "hh").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    stats = base.where(F.col("n") > 1).select(
        "event_type",
        "hh",
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std"),
    )
    j = ev.join(F.broadcast(stats), ["event_type", "hh"])
    return j.groupBy("event_type", "hh", "n", "mean", "std").agg(
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_anom")
    ).select(
        "event_type",
        "hh",
        "n",
        roundq(F.col("mean")).alias("mean_r"),
        F.round("std", 6).alias("std_r"),
        "n_anom",
    )


# --------------------------------------------------------------------------
# q151: Markov transition matrix over event sequences — P(next | cur)
# from consecutive event pairs per user (lead window on the (user, ts)
# order). One window pass + one groupBy: the events table shuffles
# once on user_id and the 25-cell transition matrix aggregates
# map-side. The per-row probability divides two exact BIGINTs.
# --------------------------------------------------------------------------
@register(
    "q151_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
      FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, c,
           CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT) AS row_total,
           {p_rq} AS p
    FROM c
    """.format(
        # k/n count ratio (.5-tie class, e.g. odd/128): guarded floor
        # grid, not round() (r10 q225 class)
        p_rq=sql_roundq(
            "CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY cur)"
        ),
    ),
)
def q151_markov_transitions(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    c = (
        s.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    row_w = W.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        "c",
        F.sum("c").over(row_w).cast("long").alias("row_total"),
        roundq(F.col("c").cast("double") / F.sum("c").over(row_w)).alias(
            "p"
        ),
    )


# --------------------------------------------------------------------------
# q152: RFM customer segmentation — recency / frequency / monetary
# quintiles (the classic CRM scoring), with a DETERMINISTIC total order
# (metric, then custkey) so ntile assigns identically everywhere.
# Aggregation is per-customer (one shuffle on o_custkey); the quintile
# windows run over the customer DIMENSION (~1.5 k rows/sf0.01), not the
# fact table — at 100 TB the same scores come from approx-percentile
# cutoffs (q37/q61 pattern) instead of a global sort, which is why the
# ntile stays on the dimension side only.
# --------------------------------------------------------------------------
@register(
    "q152_rfm_segmentation",
    oracle=f"""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             CAST(datediff('day', max(o_orderdate), max(a.mx))
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             {sql_dsum("o_totalprice", 2)} AS monetary
      FROM orders CROSS JOIN anchor a
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey)
                  AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary DESC, c_custkey)
                  AS BIGINT) AS m_score
      FROM rfm
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS segment
    FROM scored
    """,
)
def q152_rfm_segmentation(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.max("mx"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", 2).alias("monetary"),
        )
        # the customer-dimension aggregate feeds FOUR consumers (the
        # base row plus three global_ntile score frames): materialize
        # it once instead of re-running the orders scan+agg per score
        # (guide §3.3; measured r13 warm alternating: 2.52 -> 2.22 s
        # mean-of-3). Dimension-cardinality — safe at any scale.
        .localCheckpoint()
    )
    # distributed ntile per metric (operators/windows.global_ntile):
    # the per-customer frame is dimension-scale today but grows with
    # the business — three global sorts would each single-partition
    # it. The three score frames re-read the SAME rfm aggregate
    # (exchange reuse: identical subplans) and join back on the key.
    from airquality_data_pipeline_spark.operators.windows import (
        global_ntile,
    )

    def score(order_cols, name):
        return global_ntile(rfm, 5, order_cols, out_col=name).select(
            "c_custkey", name
        )

    scored = (
        rfm.join(score(["recency_days", "c_custkey"], "r_score"), "c_custkey")
        .join(
            score([F.col("frequency").desc(), "c_custkey"], "f_score"),
            "c_custkey",
        )
        .join(
            score([F.col("monetary").desc(), "c_custkey"], "m_score"),
            "c_custkey",
        )
    )
    return scored.withColumn(
        "segment",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


# --------------------------------------------------------------------------
# q153: stratified k-fold assignment audit — md5-derived fold (the
# catalog's deterministic splitter) crossed with the label column, and
# a per-(fold, label) balance check against the ideal n_label/k. The
# fold hash makes assignment reproducible on any engine/cluster; the
# audit is the QA step before cross-validation training. One groupBy;
# label totals broadcast back.
# --------------------------------------------------------------------------
@register(
    "q153_stratified_kfold",
    oracle="""
    WITH f AS (
      SELECT label,
             {h} % 5 AS fold
      FROM embeddings
    ),
    cell AS (
      SELECT fold, label, CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY fold, label
    ),
    tot AS (
      SELECT label, CAST(SUM(n) AS BIGINT) AS n_label FROM cell GROUP BY label
    )
    SELECT c.fold, c.label, c.n, t.n_label,
           round(CAST(t.n_label AS DOUBLE) / 5, 2) AS expected,
           {rel_dev_rq} AS rel_dev,
           abs(c.n - CAST(t.n_label AS DOUBLE) / 5)
             * 4 < CAST(t.n_label AS DOUBLE) AS balanced
    FROM cell c JOIN tot t USING (label)
    """.format(
        h=md5_int_sql("CAST(vec_id AS VARCHAR)", 1, 8),
        # rel_dev = |5c - n|/n, a k/n rational (.5-tie class): guarded
        # floor grid. expected = n/5 is tie-free at scale 2 (x*100 is
        # always the integer 20n), round() ok.
        rel_dev_rq=sql_roundq(
            "abs(c.n - CAST(t.n_label AS DOUBLE) / 5)"
            " / (CAST(t.n_label AS DOUBLE) / 5)"
        ),
    ),
)
def q153_stratified_kfold(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    fold = md5_int(F.col("vec_id").cast("string"), 1, 8) % 5
    cell = (
        emb.select("label", fold.alias("fold"))
        .groupBy("fold", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cell.groupBy("label").agg(F.sum("n").cast("long").alias("n_label"))
    exp = F.col("n_label").cast("double") / 5
    return cell.join(F.broadcast(tot), "label").select(
        "fold",
        "label",
        "n",
        "n_label",
        F.round(exp, 2).alias("expected"),
        roundq(F.abs(F.col("n") - exp) / exp).alias("rel_dev"),
        (F.abs(F.col("n") - exp) * 4 < F.col("n_label").cast("double")).alias(
            "balanced"
        ),
    )


# --------------------------------------------------------------------------
# q154: winsorized robust scaling — clip each group's values at its
# exact interpolated [p05, p95] (Spark `percentile` == DuckDB
# `quantile_cont`, the q37-established pair), then report the clipped
# mass and mean. The percentile frame is a 5-row aggregate broadcast
# back onto the fact scan; clip counts are exact integers and the
# clipped mean goes through decimal accumulation.
# --------------------------------------------------------------------------
@register(
    "q154_winsorized_scaling",
    oracle="""
    WITH p AS (
      -- percentiles over FINITE values only (sql_finite): Spark's
      -- percentile and DuckDB's quantile_cont disagree on NaN/inf
      -- input (nonfinite axis); the clip comparisons downstream are
      -- deliberately native — NaN/inf ordering agrees cross-engine
      SELECT event_type,
             quantile_cont({f}, 0.05) AS p05,
             quantile_cont({f}, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           {p05_rq} AS p05_r,
           {p95_rq} AS p95_r,
           CAST(SUM(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           {mean_rq} AS mean_winsorized
    FROM events e JOIN p USING (event_type)
    GROUP BY e.event_type, p.p05, p.p95
    """.format(
        # guarded floor grid (roundq): interpolated percentiles and
        # mean-of-decimals are small-denominator rationals on the 1e-6
        # grid — plain round() ties at .5 boundaries cross-engine (the
        # r10 hot_key+all_ties x30 q225 catch generalized)
        f=sql_finite("value"),
        p05_rq=sql_roundq("p.p05"),
        p95_rq=sql_roundq("p.p95"),
        mean_rq=sql_roundq(
            sql_dsum("least(greatest(e.value, p.p05), p.p95)") + " / count(*)"
        ),
    ),
)
def q154_winsorized_scaling(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    fv = finite(F.col("value"))
    p = ev.groupBy("event_type").agg(
        F.percentile(fv, F.lit(0.05)).alias("p05"),
        F.percentile(fv, F.lit(0.95)).alias("p95"),
    )
    j = ev.join(F.broadcast(p), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return j.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
        .cast("long")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
        .cast("long")
        .alias("n_clip_hi"),
        roundq(
            dsum(clipped) / F.count(F.lit(1))
        ).alias("mean_winsorized"),
    ).select(
        "event_type",
        "n",
        roundq(F.col("p05")).alias("p05_r"),
        roundq(F.col("p95")).alias("p95_r"),
        "n_clip_lo",
        "n_clip_hi",
        "mean_winsorized",
    )


# --------------------------------------------------------------------------
# q155: OHLC downsampling — open/high/low/close bars per
# (event_type, hour), the TSDB compaction primitive. Open/close are
# argmin/argmax by (ts, event_id) via struct min/max (the q38 pattern:
# lexicographic struct ordering gives deterministic tie-breaks without
# a window), so the whole query is ONE partial-aggregatable groupBy —
# at 100 TB it's a map-side-combine scan, no window sort anywhere.
# --------------------------------------------------------------------------
@register(
    "q155_ohlc_bars",
    oracle=f"""
    SELECT event_type,
           {sql_floor_ms("date_trunc('hour', ts)")} AS bar_ms,
           CAST(count(*) AS BIGINT) AS n,
           (min(struct_pack(t := ts, e := event_id, v := value))).v
             AS open,
           max(value) AS high,
           min(value) AS low,
           (max(struct_pack(t := ts, e := event_id, v := value))).v
             AS close,
           {sql_dsum("value")} AS volume
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def q155_ohlc_bars(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    bar = F.date_trunc("hour", "ts")
    return ev.groupBy("event_type", bar.alias("bar")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("ts", "event_id", "value"))
        .getField("value")
        .alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("ts", "event_id", "value"))
        .getField("value")
        .alias("close"),
        dsum("value").alias("volume"),
    ).select(
        "event_type",
        F.unix_millis(F.col("bar").cast("timestamp")).alias("bar_ms"),
        "n",
        "open",
        "high",
        "low",
        "close",
        "volume",
    )


# --------------------------------------------------------------------------
# q156: SCD2 interval reconstruction — collapse each user's event
# stream into type-2 slowly-changing-dimension rows: consecutive
# duplicate states merge, each surviving state gets
# [valid_from, valid_to) from its own ts and the next change's ts
# (NULL = currently open). Two stacked windows over the SAME
# (user_id | ts, event_id) partitioning share one exchange+sort.
# --------------------------------------------------------------------------
@register(
    "q156_scd2_intervals",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, state, ts, event_id FROM o
      WHERE prev_state IS NULL OR state <> prev_state
    ),
    iv AS (
      SELECT user_id, state, ts, event_id,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version
      FROM changes
    )
    SELECT user_id, state,
           {sql_floor_ms("ts")} AS valid_from_ms,
           {sql_floor_ms("next_ts")} AS valid_to_ms,
           version
    FROM iv
    """,
)
def q156_scd2_intervals(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("event_type").alias("state")
    )
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_state", F.lag("state").over(seq))
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", "ts", "event_id")
    )
    return changes.select(
        "user_id",
        "state",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(seq).cast("timestamp")).alias(
            "valid_to_ms"
        ),
        F.row_number().over(seq).cast("long").alias("version"),
    )


# --------------------------------------------------------------------------
# q157: triangle counting with degree-ordered orientation — the
# classic bounded-fanout trick (cf. Suri & Vassilvitskii's MR-friendly
# scheme): orient every undirected co-occurrence edge from its
# lower-(degree, id) endpoint to the higher one, so out-degrees are
# O(sqrt(E)) and the wedge self-join cannot blow up on hub nodes.
# Wedges normalize to the SAME total order, so the closing edge is a
# single equi-join against the oriented edge list — no OR-join, no
# direction probing. Output is the global edge/wedge/triangle census
# plus the clustering coefficient.
#
# The census runs on a DETERMINISTIC md5 sample of orders (1-in-4):
# wedge volume grows superlinearly in edge density, and the full
# sf0.1 graph measured 111 s — graph-census-on-a-hash-sample is the
# standard estimator at scale (the sample is reproducible on any
# engine, so the oracle sees the identical graph). The edge list,
# degree vector, and oriented edges are localCheckpoint-materialized
# once and reused by every census branch.
# --------------------------------------------------------------------------
@register(
    "q157_triangle_count",
    oracle="""
    WITH d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE {h} % 4 = 0
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
      ) GROUP BY node
    ),
    oe AS (
      SELECT CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v)
                  THEN e0.u ELSE e0.v END AS src,
             CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v)
                  THEN e0.v ELSE e0.u END AS dst,
             CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v)
                  THEN dv.deg ELSE du.deg END AS dst_deg
      FROM e0 JOIN deg du ON du.node = e0.u
              JOIN deg dv ON dv.node = e0.v
    ),
    w AS (
      SELECT CASE WHEN (x.dst_deg, x.dst) < (y.dst_deg, y.dst)
                  THEN x.dst ELSE y.dst END AS b,
             CASE WHEN (x.dst_deg, x.dst) < (y.dst_deg, y.dst)
                  THEN y.dst ELSE x.dst END AS c
      FROM oe x JOIN oe y
        ON x.src = y.src AND x.dst < y.dst
    ),
    census AS (
      SELECT CAST(count(*) AS BIGINT) AS n_wedge_checks,
             CAST(count(oe.src) AS BIGINT) AS n_triangles
      FROM w LEFT JOIN oe ON w.b = oe.src AND w.c = oe.dst
    )
    SELECT CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS BIGINT)
             AS n_wedges,
           n_wedge_checks, n_triangles,
           {cc_rq} AS clustering_coeff
    FROM census
    """.format(
        h=md5_int_sql("CAST(l_orderkey AS VARCHAR)", 1, 8),
        # 3T/W is a k/n rational (.5-tie class): guarded floor grid,
        # not round() (r10 q225 class)
        cc_rq=sql_roundq(
            "CAST(3 * n_triangles AS DOUBLE)"
            " / (SELECT SUM(deg * (deg - 1) // 2) FROM deg)"
        ),
    ),
)
def q157_triangle_count(spark, sf_dir):
    keep = (
        md5_int(F.col("l_orderkey").cast("string"), 1, 8)
        % 4
        == 0
    )
    d = (
        table(spark, sf_dir, "lineitem")
        .where(keep)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = d.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("v"))
    e0 = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint()
    )
    # deg derives from the ALREADY-materialized e0 with one cheap
    # union+agg — re-deriving it per consumer (oe build + node census)
    # costs less than a third eager checkpoint round (r12)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = e0.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
    ).localCheckpoint()
    x = oe.select(
        "src",
        F.col("dst").alias("xd"),
        F.col("dst_deg").alias("xdeg"),
    )
    y = oe.select(
        "src",
        F.col("dst").alias("yd"),
        F.col("dst_deg").alias("ydeg"),
    )
    x_first = (F.col("xdeg") < F.col("ydeg")) | (
        (F.col("xdeg") == F.col("ydeg")) & (F.col("xd") < F.col("yd"))
    )
    w = (
        x.join(y, "src")
        .where(F.col("xd") < F.col("yd"))
        .select(
            F.when(x_first, F.col("xd")).otherwise(F.col("yd")).alias("b"),
            F.when(x_first, F.col("yd")).otherwise(F.col("xd")).alias("c"),
        )
    )
    # wedge + triangle counts FUSED into one pass: the closing edge is
    # a LEFT join, count(*) = wedges, count(matched) = triangles — the
    # expensive wedge stream is materialized exactly once. Census
    # combined via single-row crossJoins (all broadcasts); no
    # driver-side .count().
    census = (
        w.join(
            oe.select(
                F.col("src").alias("b"),
                F.col("dst").alias("c"),
                F.lit(1).alias("hit"),
            ),
            ["b", "c"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_wedge_checks"),
            F.count("hit").alias("n_triangles"),
        )
    )
    ec = e0.agg(F.count(F.lit(1)).alias("n_edges"))
    # the TRUE wedge count (all length-2 paths) comes straight from the
    # degree vector — sum C(deg, 2); the oriented wedge stream above is
    # only the (much smaller) triangle CHECK set
    nc = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    return (
        ec.crossJoin(nc)
        .crossJoin(census)
        .select(
            "n_edges",
            "n_nodes",
            "n_wedges",
            "n_wedge_checks",
            "n_triangles",
            roundq(
                (F.col("n_triangles") * 3).cast("double")
                / F.col("n_wedges")
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# q158: snowflake star-join rollup (TPC-H Q5 shape) — revenue per
# (region, order-year) through the full
# lineitem->orders->customer->nation->region chain. The three
# dimension hops collapse into ONE broadcast (customer joined to
# nation/region first, then broadcast onto orders); the only shuffle
# in the plan is the lineitem<->orders join on orderkey — which is the
# join you bucket/co-partition at 100 TB. Revenue terms
# price*(1-discount) are exact 4-decimal products, so the decimal sum
# reproduces bit-exactly.
# --------------------------------------------------------------------------
@register(
    "q158_snowflake_rollup",
    oracle=f"""
    SELECT r.r_name,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)}
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q158_snowflake_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    enriched = o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey).select(
        "o_orderkey", "r_name", F.year("o_orderdate").cast("long").alias("order_year")
    )
    j = li.join(enriched, li.l_orderkey == enriched.o_orderkey)
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return j.groupBy("r_name", "order_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# q159: semantic (embedding-space) benchmark decontamination — the
# vector sibling of q113's n-gram bloom gate and q99's 8-gram join:
# flag train vectors whose cosine vs ANY benchmark vector >= 0.95,
# with the candidate set gated by a shared IVF bucket (nprobe=1), so
# the pair term is bucket-local — never |train| x |bench|. The planted
# near-dup corpus (operators/similarity.planted_neardup_corpus)
# provides ground truth: replicas (id >= 100000) act as the benchmark
# set, so every 5th original MUST be flagged. Natural random-Gaussian
# cosine tops out ~0.51, far under the threshold.
# r12: centroid count is the q130/q172 sqrt-k dial
# (k = max(8, floor(sqrt(|corpus|))), in-plan aggregate) instead of a
# FIXED 8 — the sweep's new per-query scaling report measured the
# fixed-k form at 16.6x wall for x10 data (bucket pair term ~ n²/8);
# sqrt-k keeps per-bucket density constant so the pair term grows
# linearly on non-degenerate data.
# --------------------------------------------------------------------------
@register(
    "q159_semantic_decontamination",
    oracle=f"""
    WITH {PLANTED_NEARDUP_CORPUS_SQL},
    {with_norm_sql("corpus", ())},
    {ivf_assign_sql(sqrt_k_centroids_sql("corpus"), ())},
    hits AS (
      SELECT t.bucket, t.id AS train_id, b.id AS bench_id,
             {cosine_sql("t.v", "t.nrm", "b.v", "b.nrm")} AS cos_sim
      FROM assigned t JOIN assigned b
        ON t.bucket = b.bucket AND t.id < 100000 AND b.id >= 100000
      WHERE {cosine_sql("t.v", "t.nrm", "b.v", "b.nrm")} >= 0.95
    )
    SELECT bucket, train_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           max(cos_sim) AS max_sim,
           min(bench_id) AS first_bench_id
    FROM hits GROUP BY bucket, train_id
    """,
)
def q159_semantic_decontamination(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        cosine,
        ivf_assign,
        planted_neardup_corpus,
        sqrt_k_centroids,
    )

    # NULL vectors excluded on BOTH engines (null_text axis)
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    corpus = planted_neardup_corpus(emb)
    assigned = ivf_assign(corpus, centroids=sqrt_k_centroids(corpus))
    train = assigned.where(F.col("id") < 100000).select(
        "bucket",
        F.col("id").alias("train_id"),
        F.col("v").alias("tv"),
        F.col("nrm").alias("tn"),
    )
    bench = assigned.where(F.col("id") >= 100000).select(
        "bucket",
        F.col("id").alias("bench_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    hits = (
        train.join(bench, "bucket")
        .select(
            "bucket",
            "train_id",
            "bench_id",
            cosine(
                F.col("tv"), F.col("tn"), F.col("bv"), F.col("bn")
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.95)
    )
    return hits.groupBy("bucket", "train_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max("cos_sim").alias("max_sim"),
        F.min("bench_id").alias("first_bench_id"),
    )


# --------------------------------------------------------------------------
# q160: clickstream entry-path analysis — the distribution of each
# user's FIRST THREE events (the funnel-entry fingerprint). One window
# pass to rank, one groupBy per user to assemble the path (sorted
# in-row, q39's deterministic collect pattern), one tiny groupBy to
# histogram — everything shuffles on user_id once.
# --------------------------------------------------------------------------
@register(
    "q160_entry_paths",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    """,
)
def q160_entry_paths(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    r = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    p = (
        r.where(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x.getField("event_type"),
                ),
                ">",
            ).alias("path")
        )
    )
    return p.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# q161: data-quality audit suite — the dbt-tests / Deequ shape: one
# query, one row per constraint, violation counts from anti-join /
# groupBy probes. Checks: FK lineitem->orders, FK orders->customer,
# PK uniqueness of (l_orderkey, l_linenumber), NOT NULL on
# events.value, accepted-values on event_type. Orphans and duplicate
# keys are PLANTED (shifted-key unions) so the violation paths are
# non-vacuous. Each probe is a keyed equi-anti-join or aggregate —
# the checks compose into one plan and share the fact scans.
# --------------------------------------------------------------------------
@register(
    "q161_dq_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      UNION ALL
      SELECT l_orderkey + 1000000000, l_linenumber
      FROM lineitem WHERE l_orderkey % 997 = 0
    ),
    orr AS (
      SELECT o_orderkey, o_custkey FROM orders
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey + 1000000000
      FROM orders WHERE o_orderkey % 499 = 0
    ),
    pk AS (
      SELECT l_orderkey, l_linenumber FROM li
      UNION ALL
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey % 1009 = 0
    ),
    fk_li AS (
      SELECT CAST(count(*) AS BIGINT) AS v, CAST((SELECT count(*) FROM li) AS BIGINT) AS n
      FROM li WHERE NOT EXISTS
        (SELECT 1 FROM orr WHERE orr.o_orderkey = li.l_orderkey)
    ),
    fk_o AS (
      SELECT CAST(count(*) AS BIGINT) AS v, CAST((SELECT count(*) FROM orr) AS BIGINT) AS n
      FROM orr WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = orr.o_custkey)
    ),
    pk_dup AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v,
             CAST((SELECT count(*) FROM pk) AS BIGINT) AS n
      FROM (SELECT count(*) AS c FROM pk
            GROUP BY l_orderkey, l_linenumber) WHERE c > 1
    ),
    nn AS (
      SELECT CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM events
    ),
    av AS (
      SELECT CAST(SUM(CASE WHEN event_type NOT IN
                   ('view','click','signup','error','purchase')
                   THEN 1 ELSE 0 END) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM events
    )
    SELECT 'fk_lineitem_orders' AS check_name, v AS n_violations, n AS n_checked FROM fk_li
    UNION ALL
    SELECT 'fk_orders_customer', v, n FROM fk_o
    UNION ALL
    SELECT 'pk_lineitem_unique', v, n FROM pk_dup
    UNION ALL
    SELECT 'not_null_event_value', v, n FROM nn
    UNION ALL
    SELECT 'accepted_event_types', v, n FROM av
    """,
)
def q161_dq_audit(spark, sf_dir):
    li0 = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    li = li0.unionByName(
        li0.where(F.col("l_orderkey") % 997 == 0).select(
            (F.col("l_orderkey") + 1000000000).alias("l_orderkey"),
            "l_linenumber",
        )
    )
    o0 = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    orr = o0.unionByName(
        o0.where(F.col("o_orderkey") % 499 == 0).select(
            (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
            (F.col("o_custkey") + 1000000000).alias("o_custkey"),
        )
    )
    pk = li.unionByName(li0.where(F.col("l_orderkey") % 1009 == 0))
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    ev = table(spark, sf_dir, "events").select("value", "event_type")

    def check(name, v_df, n_df):
        return v_df.crossJoin(n_df).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )

    fk_li = check(
        "fk_lineitem_orders",
        li.join(
            orr.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("v")),
        li.agg(F.count(F.lit(1)).alias("n")),
    )
    fk_o = check(
        "fk_orders_customer",
        orr.join(
            cust.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("v")),
        orr.agg(F.count(F.lit(1)).alias("n")),
    )
    dup_counts = (
        pk.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
    )
    pk_dup = check(
        "pk_lineitem_unique",
        dup_counts.agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("v")
        ),
        pk.agg(F.count(F.lit(1)).alias("n")),
    )
    nn = check(
        "not_null_event_value",
        ev.agg(
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("v")
        ),
        ev.agg(F.count(F.lit(1)).alias("n")),
    )
    allowed = ["view", "click", "signup", "error", "purchase"]
    av = check(
        "accepted_event_types",
        ev.agg(
            F.sum(
                F.when(~F.col("event_type").isin(allowed), 1).otherwise(0)
            ).alias("v")
        ),
        ev.agg(F.count(F.lit(1)).alias("n")),
    )
    return fk_li.unionByName(fk_o).unionByName(pk_dup).unionByName(nn).unionByName(av)


# --------------------------------------------------------------------------
# q162: incremental aggregate-state merge — the materialized-view
# maintenance primitive: per-key partial aggregates computed BEFORE a
# cutoff (the stored state) merge with the delta AFTER the cutoff via
# associative combination (cnt+cnt, sum+sum, min/min, max/max), and
# the result is checked IN-QUERY against the direct full aggregate —
# the `matches` column is constant-true and oracle-asserted. The sum
# is decimal-exact, so merge == direct holds bit-for-bit; this is the
# algebra that lets a 100 TB rollup update by scanning only the new
# partition. Cutoff derives from the data (max ts - 72 h), broadcast
# as a one-row anchor.
# --------------------------------------------------------------------------
@register(
    "q162_incremental_agg_merge",
    oracle=f"""
    WITH anchor AS (
      SELECT max(ts) - INTERVAL 72 HOURS AS cutoff FROM events
    ),
    state AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             SUM({sql_dec("value")}) AS s,
             min(value) AS mn, max(value) AS mx
      FROM events CROSS JOIN anchor WHERE ts < cutoff GROUP BY event_type
    ),
    delta AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             SUM({sql_dec("value")}) AS s,
             min(value) AS mn, max(value) AS mx
      FROM events CROSS JOIN anchor WHERE ts >= cutoff GROUP BY event_type
    ),
    direct AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             SUM({sql_dec("value")}) AS s,
             min(value) AS mn, max(value) AS mx
      FROM events GROUP BY event_type
    ),
    merged AS (
      SELECT COALESCE(st.event_type, d.event_type) AS event_type,
             COALESCE(st.cnt, 0) + COALESCE(d.cnt, 0) AS cnt,
             COALESCE(st.s, 0) + COALESCE(d.s, 0) AS s,
             least(COALESCE(st.mn, d.mn), COALESCE(d.mn, st.mn)) AS mn,
             greatest(COALESCE(st.mx, d.mx), COALESCE(d.mx, st.mx)) AS mx
      FROM state st FULL OUTER JOIN delta d USING (event_type)
    )
    SELECT m.event_type,
           m.cnt,
           {sql_double("m.s")} AS total,
           m.mn AS vmin, m.mx AS vmax,
           (m.cnt = x.cnt AND m.s = x.s AND m.mn = x.mn AND m.mx = x.mx)
             AS matches
    FROM merged m JOIN direct x USING (event_type)
    """,
)
def q162_incremental_agg_merge(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    anchor = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 72 HOURS")).alias("cutoff")
    )
    tagged = ev.crossJoin(F.broadcast(anchor))

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("value", 6)).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    state = agg(tagged.where(F.col("ts") < F.col("cutoff")))
    delta = agg(tagged.where(F.col("ts") >= F.col("cutoff")))
    direct = agg(ev)
    st = state.select(
        "event_type",
        F.col("cnt").alias("s_cnt"),
        F.col("s").alias("s_s"),
        F.col("mn").alias("s_mn"),
        F.col("mx").alias("s_mx"),
    )
    d = delta.select(
        "event_type",
        F.col("cnt").alias("d_cnt"),
        F.col("s").alias("d_s"),
        F.col("mn").alias("d_mn"),
        F.col("mx").alias("d_mx"),
    )
    merged = st.join(d, "event_type", "full_outer").select(
        "event_type",
        (
            F.coalesce("s_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))
        ).alias("cnt"),
        (
            F.coalesce("s_s", F.lit(0).cast("decimal(18,6)"))
            + F.coalesce("d_s", F.lit(0).cast("decimal(18,6)"))
        ).alias("s"),
        F.least(
            F.coalesce("s_mn", "d_mn"), F.coalesce("d_mn", "s_mn")
        ).alias("mn"),
        F.greatest(
            F.coalesce("s_mx", "d_mx"), F.coalesce("d_mx", "s_mx")
        ).alias("mx"),
    )
    x = direct.select(
        "event_type",
        F.col("cnt").alias("x_cnt"),
        F.col("s").alias("x_s"),
        F.col("mn").alias("x_mn"),
        F.col("mx").alias("x_mx"),
    )
    return merged.join(F.broadcast(x), "event_type").select(
        "event_type",
        "cnt",
        F.col("s").cast("double").alias("total"),
        F.col("mn").alias("vmin"),
        F.col("mx").alias("vmax"),
        (
            (F.col("cnt") == F.col("x_cnt"))
            & (F.col("s") == F.col("x_s"))
            & (F.col("mn") == F.col("x_mn"))
            & (F.col("mx") == F.col("x_mx"))
        ).alias("matches"),
    )


# --------------------------------------------------------------------------
# q163: grouped linear trend (least squares per key) — slope/intercept
# of value over time per event_type from the closed-form normal
# equations, all five sufficient statistics (n, Sx, Sy, Sxx, Sxy)
# decimal-quantized so both engines accumulate identically. ONE
# partial-aggregatable groupBy over the fact scan — the map-side
# pattern that makes per-key regression free at 100 TB (sufficient
# statistics are the associative-merge trick in sketch form).
# x = hours since the global min ts (broadcast one-row anchor), so the
# magnitudes stay in decimal(18,6) range.
# --------------------------------------------------------------------------
@register(
    "q163_grouped_linear_trend",
    oracle=f"""
    WITH anchor AS (SELECT min(ts) AS t0 FROM events),
    pts AS (
      SELECT event_type,
             CAST({sql_floor_ms("ts")} - {sql_floor_ms("t0")} AS DOUBLE) / 3600000 AS x,
             value AS y
      FROM events CROSS JOIN anchor
    ),
    s AS (
      -- x is CONTINUOUS (ms/3600000): quantize on the shared
      -- floor(v*1e6 + 0.5) grid — CAST(double AS DECIMAL) tie handling
      -- differs between engines (common.decq docstring; seed31 catch)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             {sql_double(f"SUM({sql_decq('x')})")}
               / 1000000 AS sx,
             {sql_dsum("y")} AS sy,
             {sql_double(f"SUM({sql_decq('x * x')})")}
               / 1000000 AS sxx,
             {sql_double(f"SUM({sql_decq('x * y')})")}
               / 1000000 AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           {{slope_rq}} AS slope,
           {{intercept_rq}} AS intercept
    FROM s
    """.format(
        # normal-equation ratios of micro-unit sums are rationals
        # (.5-tie class): guarded floor grid — which also normalizes
        # -0.0, subsuming the old + 0.0 idiom (r10 q225 class)
        slope_rq=sql_roundq(
            "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 8
        ),
        intercept_rq=sql_roundq(
            "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n"
        ),
    ),
)
def q163_grouped_linear_trend(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    anchor = ev.agg(F.min("ts").alias("t0"))
    pts = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        (
            (F.unix_millis("ts") - F.unix_millis("t0")).cast("double")
            / 3600000
        ).alias("x"),
        F.col("value").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(decq("x", 6)).cast("double") / F.lit(1e6)).alias("sx"),
        dsum("y").alias("sy"),
        (
            F.sum(decq(F.col("x") * F.col("x"), 6)).cast("double")
            / F.lit(1e6)
        ).alias("sxx"),
        (
            F.sum(decq(F.col("x") * F.col("y"), 6)).cast("double")
            / F.lit(1e6)
        ).alias("sxy"),
    )
    # try_divide: a zero x-variance (every event at the SAME timestamp
    # — constant_ts robustness axis) makes the normal-equation
    # denominator 0; slope and intercept are NULL on both engines
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return s.select(
        "event_type",
        "n",
        roundq(slope, 8).alias("slope"),
        roundq(
            (F.col("sy") - slope * F.col("sx")) / F.col("n")
        ).alias("intercept"),
    )


# --------------------------------------------------------------------------
# q164: chi-square independence test — event_type x day-of-week
# contingency table, expected counts from the marginals, and the
# chi-square statistic with each cell's term decimal-quantized before
# the order-dependent sum. Observed counts are one groupBy; marginals
# broadcast back. The acceptance flag compares against the 0.995
# quantile for (5-1)(7-1)=24 dof in INTEGER-free double arithmetic on
# both engines.
# --------------------------------------------------------------------------
_Q164_CHI2 = sql_double(f"SUM({sql_decq('(o - e) * (o - e) / e', 8)})")


@register(
    "q164_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    cm AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM obs),
    cells AS (
      SELECT obs.event_type, obs.dow, obs.o,
             CAST(rm.r AS DOUBLE) * cm.c / tot.t AS e
      FROM obs JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           -- floor grid, not CAST-to-DECIMAL: the term is continuous
           -- (common.decq docstring)
           {chi2_rq} AS chi2,
           {chi2} / 100000000 < 45.56 AS independent_995
    FROM cells
    """.format(
        # chi2 is k/1e8 grid-exact — re-rounding to 6 dp ties when
        # k mod 100 = 50: guarded floor grid (r10 q225 class)
        chi2_rq=sql_roundq(_Q164_CHI2 + " / 100000000"),
        chi2=_Q164_CHI2,
    ),
)
def q164_chi_square(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rm = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cm = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(F.sum("o").cast("long").alias("t"))
    cells = (
        obs.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "o",
            (F.col("r").cast("double") * F.col("c") / F.col("t")).alias("e"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    chi2 = F.sum(decq(term, 8)).cast("double") / F.lit(1e8)
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        roundq(chi2).alias("chi2"),
        (chi2 < 45.56).alias("independent_995"),
    )


# --------------------------------------------------------------------------
# q165: revenue concentration — Pareto/Gini over customer revenue.
# Customers sorted by revenue descending (deterministic tiebreak on
# custkey), cumulative revenue share, the top-20% share (the 80/20
# check), and the Gini coefficient from the rank-weighted closed form
# G = (2*sum(i*y_i_sorted_asc)/(n*sum(y)) - (n+1)/n). The sort runs
# over the CUSTOMER aggregate (dimension-sized); revenue itself is one
# fact groupBy. All sums decimal-exact.
# --------------------------------------------------------------------------
@register(
    "q165_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM({price}) AS r
      FROM orders
      WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
      GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, r,
             row_number() OVER (ORDER BY r ASC, o_custkey) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n,
             SUM(r) OVER () AS tot
      FROM rev
    ),
    g AS (
      SELECT max(n) AS n,
             {tot} AS tot,
             {iw} AS iw,
             {top_rev} AS top_rev
      FROM ranked
    )
    SELECT n,
           {tot_rq} AS total_revenue,
           {gini_rq} AS gini,
           {top20_rq} AS top20_share
    FROM g
    """.format(
        price=sql_dec("o_totalprice", 2),
        tot=sql_double("max(tot)"),
        iw=sql_double("SUM(i * r)"),
        top_rev=sql_double(
            f"SUM(CASE WHEN i > n - n // 5 THEN r ELSE {sql_dec('0', 2)} END)"
        ),
        # gini/top20 are rationals of 2-dp sums (.5-tie class) and tot
        # can carry magnitude at scaled sweeps: guarded floor grid
        # (r10 q225 class + q220 magnitude class)
        tot_rq=sql_roundq("tot", 2),
        gini_rq=sql_roundq(
            "2.0 * iw / (n * tot) - CAST(n + 1 AS DOUBLE) / n"
        ),
        top20_rq=sql_roundq("top_rev / tot"),
    ),
)
def q165_revenue_concentration(spark, sf_dir):
    # null prices are excluded on BOTH engines (null_mass x10 catch):
    # a customer whose EVERY price is NULL gets r = NULL, which the
    # Gini rank sorts FIRST in Spark but LAST in DuckDB, shifting
    # every other customer's rank weight i by one. NON-FINITE prices
    # are the same hole one level up (nonfinite+hot_key x1 catch,
    # r12): they pass isNotNull, then dec() NULLs them inside the sum,
    # so a hot_key-thinned customer whose only orders are NaN/inf
    # re-creates the r = NULL rank divergence. Row-filter them like
    # NULLs (bare isNotNull stays as the parquet-pushable conjunct —
    # the finite guard itself compiles to an unpushable CASE).
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_totalprice").isNotNull()
            & finite(F.col("o_totalprice")).isNotNull()
        )
        .select("o_custkey", "o_totalprice")
    )
    rev = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 2)).alias("r")
    )
    # two-phase global rank (operators/windows): the per-customer
    # frame would otherwise hit one partition for the Gini rank sum.
    from airquality_data_pipeline_spark.operators.windows import (
        global_row_number,
    )

    ranked = global_row_number(
        rev, [F.col("r").asc(), F.col("o_custkey")], rn_col="i", n_col="n"
    )
    zero = F.lit(0).cast("decimal(18,2)")
    g = ranked.agg(
        F.max("n").alias("n"),
        F.sum("r").cast("double").alias("tot"),
        F.sum(F.col("i") * F.col("r")).cast("double").alias("iw"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.expr("n div 5"), F.col("r")
            ).otherwise(zero)
        )
        .cast("double")
        .alias("top_rev"),
    )
    return g.select(
        "n",
        roundq(F.col("tot"), 2).alias("total_revenue"),
        roundq(
            F.lit(2.0) * F.col("iw") / (F.col("n") * F.col("tot"))
            - (F.col("n") + 1).cast("double") / F.col("n")
        ).alias("gini"),
        roundq(F.col("top_rev") / F.col("tot")).alias("top20_share"),
    )


# --------------------------------------------------------------------------
# q166: cross-series Pearson correlation — hourly volumes of every
# event-type PAIR, correlated over the aligned hour spine. The series
# pivot is one groupBy(hour); the pair stage self-joins the 5-series
# AGGREGATE (25 pairs), never the fact table, and each correlation
# reduces to decimal-exact sufficient statistics. The fact table is
# scanned once.
# --------------------------------------------------------------------------
@register(
    "q166_series_correlation",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type AS et_a, b.event_type AS et_b,
             a.v AS x, b.v AS y
      FROM hourly a JOIN hourly b
        ON a.h = b.h AND a.event_type < b.event_type
    ),
    s AS (
      SELECT et_a, et_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY et_a, et_b
    )
    SELECT et_a, et_b, n,
           {sql_roundz(
               "(n * sxy - sx * sy)"
               " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
               " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
           )} AS r
    FROM s
    """,
)
def q166_series_correlation(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("v"))
    a = hourly.select(
        "h", F.col("event_type").alias("et_a"), F.col("v").alias("x")
    )
    b = hourly.select(
        "h", F.col("event_type").alias("et_b"), F.col("v").alias("y")
    )
    pairs = a.join(b, "h").where(F.col("et_a") < F.col("et_b"))
    s = pairs.groupBy("et_a", "et_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    # try_divide: a zero-variance series (constant hourly volume) zeroes
    # the denominator; DuckDB's x/0 is NULL, ANSI Spark's `/` throws.
    return s.select(
        "et_a",
        "et_b",
        "n",
        roundz(F.try_divide(num, denx * deny)).alias("r"),
    )


# --------------------------------------------------------------------------
# q167: A/B experiment analysis — md5-hash variant assignment (the
# deterministic splitter every experimentation platform uses so
# assignment is reproducible and join-free), per-variant purchase
# conversion, and the two-proportion z-test with a |z| < 1.96
# no-difference flag. An A/A test by construction: the hash split is
# independent of behavior, so the flag doubles as a randomization
# sanity check. Two fact-scan groupBys; everything else is one-row
# arithmetic.
# --------------------------------------------------------------------------
@register(
    "q167_ab_test",
    oracle="""
    WITH u AS (
      SELECT user_id,
             {h} % 2 AS variant,
             CASE WHEN (min(struct_pack(t := ts, e := event_id,
                                        et := event_type))).et = 'purchase'
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM u GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
             max(CASE WHEN variant = 0 THEN conv END) AS c0,
             max(CASE WHEN variant = 1 THEN n END) AS n1,
             max(CASE WHEN variant = 1 THEN conv END) AS c1
      FROM v
    )
    SELECT n0, c0, n1, c1,
           {p0_rq} AS p0,
           {p1_rq} AS p1,
           {z_rz} AS z,
           abs((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
               / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                      * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                      * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)))
             < 1.96 AS no_difference
    FROM wide
    """.format(
        h=md5_int_sql("CAST(user_id AS VARCHAR)", 1, 8),
        # conversion rates are k/n rationals (.5-tie class): guarded
        # floor grid; z's denominator is sqrt-derived — tie-free,
        # roundz ok (r10 q225 class)
        p0_rq=sql_roundq("CAST(c0 AS DOUBLE) / n0"),
        p1_rq=sql_roundq("CAST(c1 AS DOUBLE) / n1"),
        z_rz=sql_roundz(
            "(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)"
            " / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
            " * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
            " * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))"
        ),
    ),
)
def q167_ab_test(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    variant = md5_int(F.col("user_id").cast("string"), 1, 8) % 2
    first_type = F.min(F.struct("ts", "event_id", "event_type")).getField(
        "event_type"
    )
    u = ev.groupBy("user_id").agg(
        F.when(first_type == "purchase", 1).otherwise(0).alias("converted")
    ).select(variant.alias("variant"), "converted")
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    # try_divide: pp*(1-pp) is 0 when nobody (or everybody) converts;
    # DuckDB's x/0 is NULL, ANSI Spark's `/` throws.
    z = F.try_divide(
        p0 - p1,
        F.sqrt(
            pp
            * (1 - pp)
            * (
                F.lit(1).cast("double") / F.col("n0")
                + F.lit(1).cast("double") / F.col("n1")
            )
        ),
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        roundq(p0).alias("p0"),
        roundq(p1).alias("p1"),
        roundz(z).alias("z"),
        (F.abs(z) < 1.96).alias("no_difference"),
    )


# --------------------------------------------------------------------------
# q168: fulfillment-latency distribution — ship-minus-order days per
# order priority, bucketed into service-level bands. The
# lineitem-orders equi-join is the only shuffle (q158's bucketing
# candidate); banding is integer arithmetic, so every count is exact.
# --------------------------------------------------------------------------
@register(
    "q168_fulfillment_latency",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority,
             datediff('day', o.o_orderdate, l.l_shipdate) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CASE WHEN lag_days <= 30 THEN 'fast'
                WHEN lag_days <= 60 THEN 'normal'
                WHEN lag_days <= 90 THEN 'slow'
                ELSE 'late' END AS band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(lag_days) AS BIGINT) AS min_days,
           CAST(max(lag_days) AS BIGINT) AS max_days
    FROM j GROUP BY 1, 2
    """,
)
def q168_fulfillment_latency(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
    )
    band = (
        F.when(F.col("lag_days") <= 30, "fast")
        .when(F.col("lag_days") <= 60, "normal")
        .when(F.col("lag_days") <= 90, "slow")
        .otherwise("late")
    )
    return j.groupBy("o_orderpriority", band.alias("band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lag_days").cast("long").alias("min_days"),
        F.max("lag_days").cast("long").alias("max_days"),
    )


# --------------------------------------------------------------------------
# q169: session bounce rate — 30-minute-gap sessionization
# (operators/windows.sessionize: gaps-and-islands, one sort+window
# stage), then the fraction of single-event sessions per entry event
# type. The product-analytics KPI that needs real sessionization, not
# fixed windows. Shuffles once on user_id; session aggregation rides
# the same partitioning.
# --------------------------------------------------------------------------
@register(
    "q169_bounce_rate",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag({sql_floor_ms("ts")}) OVER w IS NULL
                       OR {sql_floor_ms("ts")} - lag({sql_floor_ms("ts")}) OVER w
                          > 1800000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    ),
    agg AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             (min(struct_pack(t := ts, e := event_id, et := event_type))).et
               AS entry_type
      FROM s GROUP BY user_id, session_id
    )
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           {{bounce_rq}} AS bounce_rate
    FROM agg GROUP BY entry_type
    """.format(
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        bounce_rq=sql_roundq(
            "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(*)"
        ),
    ),
)
def q169_bounce_rate(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.windows import sessionize

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    s = sessionize(
        ev, key="user_id", ts_col="ts", gap_seconds=1800,
        order_tiebreak="event_id",
    )
    agg = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("entry_type"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return agg.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        roundq(
            bounces.cast("double") / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------
# q170: month-over-month growth — revenue per (region, month) with lag
# window growth rates, the BI staple. The star join reuses q158's
# one-broadcast shape; the growth window runs over the (region, month)
# AGGREGATE (~300 rows), so the lag sort never touches the fact table.
# --------------------------------------------------------------------------
@register(
    "q170_mom_growth",
    oracle=f"""
    WITH rev AS (
      SELECT r.r_name,
             {sql_floor_ms("date_trunc('month', o.o_orderdate)")} AS month_ms,
             SUM({sql_dec("o.o_totalprice", 2)}) AS m
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT r_name, month_ms,
           {sql_double("m")} AS revenue,
           {{mom_rq}} AS mom_growth
    FROM rev
    WINDOW w AS (PARTITION BY r_name ORDER BY month_ms)
    """.format(
        # ratio of 2-dp decimal sums is a rational (.5-tie class):
        # guarded floor grid, which also normalizes -0.0 (r10 q225)
        mom_rq=sql_roundq(
            "CASE WHEN lag(m) OVER w IS NULL THEN NULL"
            f" ELSE ({sql_double('m')}"
            f" - {sql_double('lag(m) OVER w')})"
            f" / {sql_double('lag(m) OVER w')} END"
        ),
    ),
)
def q170_mom_growth(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    rev = (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy(
            "r_name",
            F.unix_millis(
                F.date_trunc("month", "o_orderdate").cast("timestamp")
            ).alias("month_ms"),
        )
        .agg(F.sum(dec("o_totalprice", 2)).alias("m"))
    )
    w = W.partitionBy("r_name").orderBy("month_ms")
    prev = F.lag(F.col("m").cast("double")).over(w)
    cur = F.col("m").cast("double")
    return rev.select(
        "r_name",
        "month_ms",
        cur.alias("revenue"),
        roundq((cur - prev) / prev).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# q171: one-way ANOVA — does mean value differ across event types?
# Between/within sum-of-squares decomposition from per-group decimal
# sufficient statistics (ONE map-side-combinable groupBy over the fact
# scan, then 5-row arithmetic), F = (SSB/(k-1)) / (SSW/(N-k)), plus
# the eta-squared effect size. The grand totals ride the same
# aggregate — no second scan.
# --------------------------------------------------------------------------
@register(
    "q171_anova_f",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             {s} AS s,
             {ss} AS ss
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
             {gs} AS gs,
             {gss} AS gss
      FROM g
    ),
    parts AS (
      SELECT max(t.nn) AS nn, max(t.k) AS k,
             -- floor grid: s*s/n is continuous (common.decq)
             {ssn} / 1000000
               - max(t.gs) * max(t.gs) / max(t.nn) AS ssb,
             max(t.gss) - {ssn} / 1000000 AS ssw
      -- LEFT JOIN ON TRUE (identical to the cross join when g is
      -- non-empty) so k survives as 0 on empty events
      -- (empty_relation axis): g CROSS JOIN tot over empty g fed the
      -- aggregate zero rows, collapsing k to NULL where Spark's
      -- global agg keeps count(*) = 0.
      FROM tot t LEFT JOIN g ON TRUE
    )
    SELECT nn, k,
           {ssb_rq} AS ss_between,
           {ssw_rq} AS ss_within,
           {f_rq} AS f_stat,
           {eta_rq} AS eta_squared
    FROM parts
    """.format(
        s=sql_dsum("value"),
        ss=sql_dsum("value * value"),
        gs=sql_dsum("s"),
        gss=sql_dsum("ss"),
        ssn=sql_double(f"SUM({sql_decq('g.s * g.s / g.n')})"),
        # sums-of-squares and their ratios are micro-unit rationals
        # (.5-tie class): guarded floor grid (r10 q225 class)
        ssb_rq=sql_roundq("ssb"),
        ssw_rq=sql_roundq("ssw"),
        f_rq=sql_roundq("(ssb / (k - 1)) / (ssw / (nn - k))"),
        eta_rq=sql_roundq("ssb / (ssb + ssw)"),
    ),
)
def q171_anova_f(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    parts = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        dsum("s").alias("gs"),
        dsum("ss").alias("gss"),
        (
            F.sum(decq(F.col("s") * F.col("s") / F.col("n"), 6))
            .cast("double")
            / F.lit(1e6)
        ).alias("between_raw"),
    )
    ssb = F.col("between_raw") - F.col("gs") * F.col("gs") / F.col("nn")
    ssw = F.col("gss") - F.col("between_raw")
    return parts.select(
        "nn",
        "k",
        roundq(ssb).alias("ss_between"),
        roundq(ssw).alias("ss_within"),
        # try_divide: ssw = 0 (and ssb + ssw = 0) when every value is
        # identical (all-ties robustness axis) — DuckDB yields NULL
        roundq(
            F.try_divide(
                F.try_divide(ssb, (F.col("k") - 1).cast("double")),
                F.try_divide(ssw, (F.col("nn") - F.col("k")).cast("double")),
            )
        ).alias("f_stat"),
        roundq(F.try_divide(ssb, ssb + ssw)).alias("eta_squared"),
    )


# --------------------------------------------------------------------------
# q172: label-noise detection via in-bucket kNN disagreement (the
# Confident-Learning-lite screen): each vector's 3 nearest neighbors
# (exact cosine, WITHIN its IVF bucket — nprobe=1 candidate gating, so
# the pair term is bucket-local), majority neighbor label vs own
# label, flag disagreements. Deterministic top-k via (cos desc, id
# asc) ranking; majority via count desc + label asc argmax.
# The cluster count SCALES WITH THE CORPUS (k = max(8, floor(sqrt(n))),
# the classic IVF k ~ sqrt(n) balance between row-local assignment cost
# (linear in k) and per-bucket pair volume (n^2/k); the count is an
# in-plan aggregate, not a driver job) so per-bucket density — and with
# it the
# in-bucket pair term — stays constant as the corpus grows; a frozen k
# measured 3.2x wall at 4x vectors (the q130 dial, here applied as the
# registered default).
# --------------------------------------------------------------------------
@register(
    "q172_knn_label_noise",
    oracle="""
    WITH {norm},
    {assign},
    knn AS (
      SELECT id, own_label, nb_label FROM (
        SELECT a.id, a.label AS own_label, b.label AS nb_label,
               ROW_NUMBER() OVER (
                 PARTITION BY a.id
                 ORDER BY {cos} DESC, b.id
               ) AS rk
        FROM assigned a JOIN assigned b
          ON a.bucket = b.bucket AND a.id <> b.id
      ) WHERE rk <= 3
    ),
    vote AS (
      SELECT id, own_label,
             (max(struct_pack(c := cnt, neg_l := -nb_label))).neg_l * -1
               AS majority_label
      FROM (
        SELECT id, own_label, nb_label, CAST(count(*) AS BIGINT) AS cnt
        FROM knn GROUP BY id, own_label, nb_label
      ) GROUP BY id, own_label
    )
    SELECT own_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN majority_label <> own_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           {noise_rq} AS noise_rate
    FROM vote GROUP BY own_label
    """.format(
        norm=with_norm_sql("embeddings", ("label",)),
        cos=cosine_sql("a.v", "a.nrm", "b.v", "b.nrm"),
        assign=ivf_assign_sql(
            sqrt_k_centroids_sql("embeddings WHERE embedding IS NOT NULL"),
            ("label",),
        ),
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        noise_rq=sql_roundq(
            "CAST(SUM(CASE WHEN majority_label <> own_label"
            " THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"
        ),
    ),
)
def q172_knn_label_noise(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        cosine,
        ivf_assign,
        sqrt_k_centroids,
    )

    # NULL vectors excluded on BOTH engines (null_text axis); the
    # oracle's k-formula count subquery filters identically
    emb = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    # k = max(8, floor(sqrt(n))) inside the plan — no plan-build count
    # job (r7 verdict); oracle pins the identical formula.
    assigned = ivf_assign(emb, centroids=sqrt_k_centroids(emb)).join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    a = assigned.select(
        "bucket",
        F.col("id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("label").alias("own_label"),
    )
    b = assigned.select(
        "bucket",
        F.col("id").alias("nid"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn_"),
        F.col("label").alias("nb_label"),
    )
    scored = (
        a.join(b, "bucket")
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "own_label",
            "nid",
            "nb_label",
            cosine(
                F.col("qv"), F.col("qn"), F.col("nv"), F.col("nn_")
            ).alias("cos_sim"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    )
    knn = scored.withColumn("rk", rk).where(F.col("rk") <= 3)
    counts = knn.groupBy("qid", "own_label", "nb_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vote = counts.groupBy("qid", "own_label").agg(
        (
            F.max(
                F.struct(
                    F.col("cnt").alias("c"),
                    (-F.col("nb_label")).alias("neg_l"),
                )
            ).getField("neg_l")
            * -1
        ).alias("majority_label")
    )
    flagged = F.sum(
        F.when(F.col("majority_label") != F.col("own_label"), 1).otherwise(0)
    )
    return vote.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        flagged.cast("long").alias("n_flagged"),
        roundq(flagged.cast("double") / F.count(F.lit(1))).alias(
            "noise_rate"
        ),
    )


# --------------------------------------------------------------------------
# q173: grid-bucketed nearest-neighbor spatial join — the air-quality
# domain's "nearest station" primitive (reference S3 discovers WGS84
# station coords) on synthetic md5-derived coordinates: candidates
# come from the query point's 3x3 grid neighborhood (explode of 9
# offsets — a BOUNDED fanout — then a grid-cell EQUI-join), and only
# candidates get the exact distance + rank. This is how a spatial
# join survives 100 TB: the grid key turns O(n*m) into O(n * cell
# density). Distance is squared degrees (pure multiplication — trig
# would differ in the last ULP between libms; swap in haversine on a
# real deployment where a 1-ULP tie cannot flip a ranking decision).
# Cell size 10 degrees; customers whose 3x3 neighborhood holds no
# supplier are dropped (counted by the coverage row in the invariant
# test).
# --------------------------------------------------------------------------
@register(
    "q173_grid_nn_join",
    oracle="""
    WITH cust AS (
      SELECT c_custkey AS id,
             ({h1} % 120000) / 1000.0 - 60 AS lat,
             ({h2} % 360000) / 1000.0 - 180 AS lon
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey AS sid,
             ({h3} % 120000) / 1000.0 - 60 AS slat,
             ({h4} % 360000) / 1000.0 - 180 AS slon
      FROM supplier
    ),
    sg AS (
      SELECT sid, slat, slon,
             CAST(floor(slat / 10) AS BIGINT) AS gy,
             CAST(floor(slon / 10) AS BIGINT) AS gx
      FROM supp
    ),
    probes AS (
      SELECT c.id, c.lat, c.lon,
             CAST(floor(c.lat / 10) AS BIGINT) + dy.d AS gy,
             CAST(floor(c.lon / 10) AS BIGINT) + dx.d AS gx
      FROM cust c,
           (SELECT unnest([-1, 0, 1]) AS d) dy,
           (SELECT unnest([-1, 0, 1]) AS d) dx
    ),
    scored AS (
      SELECT p.id, s.sid,
             {d2_rq} AS d2
      FROM probes p JOIN sg s ON p.gy = s.gy AND p.gx = s.gx
    )
    SELECT id AS c_custkey, sid AS nearest_supplier, d2 FROM (
      SELECT id, sid, d2,
             row_number() OVER (PARTITION BY id ORDER BY d2, sid) AS rk
      FROM scored
    ) WHERE rk = 1
    """.format(
        h1=md5_int_sql("CAST(c_custkey AS VARCHAR)", 1, 8),
        h2=md5_int_sql("CAST(c_custkey AS VARCHAR)", 9, 8),
        h3=md5_int_sql("'s' || CAST(s_suppkey AS VARCHAR)", 1, 8),
        h4=md5_int_sql("'s' || CAST(s_suppkey AS VARCHAR)", 9, 8),
        # squared distance of grid coordinates is a rational (.5-tie
        # class, and it ORDERS the rank): guarded floor grid (r10 q225)
        d2_rq=sql_roundq(
            "(p.lat - s.slat) * (p.lat - s.slat)"
            " + (p.lon - s.slon) * (p.lon - s.slon)"
        ),
    ),
)
def q173_grid_nn_join(spark, sf_dir):
    def coord(expr, start, mod, scale, shift):
        return (md5_int(expr, start, 8) % mod) / scale - shift

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        coord(F.col("c_custkey").cast("string"), 1, 120000, 1000.0, 60).alias("lat"),
        coord(F.col("c_custkey").cast("string"), 9, 360000, 1000.0, 180).alias("lon"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sid"),
        coord(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")), 1,
              120000, 1000.0, 60).alias("slat"),
        coord(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")), 9,
              360000, 1000.0, 180).alias("slon"),
    )
    sg = supp.select(
        "sid",
        "slat",
        "slon",
        F.floor(F.col("slat") / 10).cast("long").alias("gy"),
        F.floor(F.col("slon") / 10).cast("long").alias("gx"),
    )
    offsets = F.explode(
        F.array(*[F.lit(d) for d in (-1, 0, 1)])
    )
    probes = (
        cust.withColumn("dy", offsets)
        .withColumn("dx", F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])))
        .select(
            "id",
            "lat",
            "lon",
            (F.floor(F.col("lat") / 10).cast("long") + F.col("dy")).alias("gy"),
            (F.floor(F.col("lon") / 10).cast("long") + F.col("dx")).alias("gx"),
        )
    )
    scored = probes.join(F.broadcast(sg), ["gy", "gx"]).select(
        "id",
        "sid",
        roundq(
            (F.col("lat") - F.col("slat")) * (F.col("lat") - F.col("slat"))
            + (F.col("lon") - F.col("slon")) * (F.col("lon") - F.col("slon"))
        ).alias("d2"),
    )
    rk = F.row_number().over(W.partitionBy("id").orderBy("d2", "sid"))
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            F.col("id").alias("c_custkey"),
            F.col("sid").alias("nearest_supplier"),
            "d2",
        )
    )


# --------------------------------------------------------------------------
# q174: point-in-time (bitemporal) lookup — "what state was every user
# in at time T?" answered over q156's SCD2 intervals: the interval
# containing T via a range predicate on the CHANGE rows. T is the
# fixture midpoint (anchor-derived, broadcast). The interval build
# shuffles once on user_id; the containment filter is a projection.
# This is the AS OF query every warehouse dimension table needs.
# --------------------------------------------------------------------------
@register(
    "q174_time_travel_lookup",
    oracle=f"""
    WITH anchor AS (
      SELECT {sql_floor_ms("min(ts)")}
             + ({sql_floor_ms("max(ts)")} - {sql_floor_ms("min(ts)")}) // 2 AS t_ms
      FROM events
    ),
    o AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, state, ts, event_id FROM o
      WHERE prev_state IS NULL OR state <> prev_state
    ),
    iv AS (
      SELECT user_id, state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
    SELECT iv.user_id, iv.state,
           {sql_floor_ms("iv.valid_from")} AS since_ms
    FROM iv CROSS JOIN anchor a
    WHERE {sql_floor_ms("iv.valid_from")} <= a.t_ms
      AND (iv.valid_to IS NULL OR {sql_floor_ms("iv.valid_to")} > a.t_ms)
    """,
)
def q174_time_travel_lookup(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("event_type").alias("state")
    )
    anchor = ev.agg(
        (
            F.unix_millis(F.min("ts"))
            + F.expr(
                "(unix_millis(max(ts)) - unix_millis(min(ts))) div 2"
            )
        ).alias("t_ms")
    )
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_state", F.lag("state").over(seq))
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", "ts", "event_id")
    )
    iv = changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(seq).alias("valid_to"),
    )
    return (
        iv.crossJoin(F.broadcast(anchor))
        .where(
            (F.unix_millis(F.col("valid_from").cast("timestamp")) <= F.col("t_ms"))
            & (
                F.col("valid_to").isNull()
                | (F.unix_millis(F.col("valid_to").cast("timestamp")) > F.col("t_ms"))
            )
        )
        .select(
            "user_id",
            "state",
            F.unix_millis(F.col("valid_from").cast("timestamp")).alias(
                "since_ms"
            ),
        )
    )


# --------------------------------------------------------------------------
# q175: two-sample Kolmogorov-Smirnov test — are doc-length
# distributions the same across the two largest sources? KS statistic
# = max |ECDF_a - ECDF_b| evaluated at the DISTINCT length values:
# group the pooled sample by x = len(text) (the length domain is
# value-bounded — ≤ max doc length distinct values regardless of
# corpus size, 523 at sf0.1), take per-source counts per x, and run
# the cumulative window over that pre-aggregated frame (the q190
# pattern — never a per-row walk over the fact table, which an earlier
# version did and which single-partitions the whole corpus at scale).
# Evaluating at distinct values is also the statistically correct tie
# handling: the ECDF only steps after absorbing ALL rows tied at x, so
# intra-tie row order (doc_id) cannot leak into the statistic. ECDF
# values divide exact integer counts, so both engines agree
# bit-for-bit. The accept flag compares against the alpha=0.01
# large-sample threshold 1.63*sqrt((na+nb)/(na*nb)).
# --------------------------------------------------------------------------
@register(
    "q175_ks_test",
    oracle="""
    WITH pick AS (
      SELECT source, row_number() OVER (ORDER BY count(*) DESC, source)
               AS prio
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ),
    ab AS (SELECT source, prio FROM pick WHERE prio <= 2),
    docs2 AS (
      SELECT d.doc_id, ab.prio, len(d.text) AS x
      FROM documents d JOIN ab ON d.source = ab.source
      WHERE d.text IS NOT NULL
    ),
    byx AS (
      SELECT x,
             CAST(SUM(CASE WHEN prio = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ax,
             CAST(SUM(CASE WHEN prio = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS bx
      FROM docs2 GROUP BY x
    ),
    walk AS (
      SELECT x,
             SUM(ax) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(bx) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cb
      FROM byx
    ),
    tot AS (
      SELECT CAST(SUM(ax) AS BIGINT) AS na,
             CAST(SUM(bx) AS BIGINT) AS nb
      FROM byx
    )
    SELECT t.na, t.nb,
           {ks_rq} AS ks_stat,
           max(abs(CAST(w.ca AS DOUBLE) / t.na
                   - CAST(w.cb AS DOUBLE) / t.nb))
             < 1.63 * sqrt(CAST(t.na + t.nb AS DOUBLE) / (t.na * t.nb))
             AS same_distribution_01
    FROM walk w CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """.format(
        # ECDF gap k/na - j/nb is a rational (.5-tie class): guarded
        # floor grid (r10 q225 class)
        ks_rq=sql_roundq(
            "max(abs(CAST(w.ca AS DOUBLE) / t.na"
            " - CAST(w.cb AS DOUBLE) / t.nb))"
        ),
    ),
)
def q175_ks_test(spark, sf_dir):
    # a NULL text has no length: it belongs to neither ECDF, and its
    # NULL x group otherwise sits at opposite ends of the cumulative
    # walk on the two engines (null_text axis)
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", F.length("text").alias("x"))
    )
    pick = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "source",
            F.row_number()
            .over(W.orderBy(F.desc("c"), F.asc("source")))
            .alias("prio"),
        )
        .where(F.col("prio") <= 2)
    )
    d2 = docs.join(F.broadcast(pick), "source").select(
        "doc_id", "prio", "x"
    )
    byx = d2.groupBy("x").agg(
        F.sum(F.when(F.col("prio") == 1, 1).otherwise(0))
        .cast("long")
        .alias("ax"),
        F.sum(F.when(F.col("prio") == 2, 1).otherwise(0))
        .cast("long")
        .alias("bx"),
    )
    walk_w = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    walk = byx.select(
        F.sum("ax").over(walk_w).alias("ca"),
        F.sum("bx").over(walk_w).alias("cb"),
    )
    tot = byx.agg(
        F.sum("ax").cast("long").alias("na"),
        F.sum("bx").cast("long").alias("nb"),
    )
    j = walk.crossJoin(F.broadcast(tot))
    # try_divide: a one-source corpus (single_row axis) has no second
    # sample (nb = 0) — DuckDB's /0 is NULL, ANSI / throws
    diff = F.abs(
        F.try_divide(F.col("ca").cast("double"), F.col("na"))
        - F.try_divide(F.col("cb").cast("double"), F.col("nb"))
    )
    thresh = 1.63 * F.sqrt(
        F.try_divide(
            (F.col("na") + F.col("nb")).cast("double"),
            F.col("na") * F.col("nb"),
        )
    )
    return j.groupBy("na", "nb").agg(
        roundq(F.max(diff)).alias("ks_stat"),
        (F.max(diff) < thresh).alias("same_distribution_01"),
    )


# --------------------------------------------------------------------------
# q176: quantile normalization — map every doc's length onto the
# POOLED distribution's quantile grid (16 bins), the cross-source
# normalization step that makes per-source scores comparable (and the
# batch shape of sklearn's QuantileTransformer). percent_rank within
# source -> pooled ntile bin lookup via a range-free integer
# computation: bin = floor(pct_rank * 16), capped at 15. Everything is
# exact integer rank arithmetic; output is the per-(source, bin)
# histogram that must be near-uniform per source.
# --------------------------------------------------------------------------
@register(
    "q176_quantile_normalization",
    oracle="""
    WITH ranked AS (
      SELECT source,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY len(text), doc_id) AS pr
      FROM documents
    ),
    binned AS (
      SELECT source,
             least(CAST(floor(pr * 16) AS BIGINT), 15) AS bin
      FROM ranked
    )
    SELECT source, bin, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY source, bin
    """,
)
def q176_quantile_normalization(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("x")
    )
    pr = F.percent_rank().over(
        W.partitionBy("source").orderBy("x", "doc_id")
    )
    binned = docs.select(
        "source",
        F.least(F.floor(pr * 16).cast("long"), F.lit(15).cast("long")).alias(
            "bin"
        ),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# q177: inter-event-time fit — per event type, the gaps between
# consecutive events (one lag window on the GLOBAL per-type stream),
# the exponential-fit rate lambda = 1/mean_gap, and a dispersion check
# (variance/mean^2 ~ 1 for a Poisson process). Gap moments run
# through decimal quantization; the CV^2 flag is the
# burstiness-detection rule used in event-stream monitoring.
# --------------------------------------------------------------------------
@register(
    "q177_interevent_fit",
    oracle=f"""
    WITH gaps AS (
      SELECT event_type,
             CAST({sql_floor_ms("ts")}
                  - lag({sql_floor_ms("ts")}) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id)
                  AS DOUBLE) / 1000 AS gap_s
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(gap_s) AS BIGINT) AS n,
             {sql_dsum("gap_s")} AS sg,
             -- DECIMAL(28,6): gap_s is on the exact ms grid, but its
             -- SQUARE reaches ~7e12 s^2 on sparse fixtures (days-long
             -- gaps) and overflows 18,6's 1e12 integer headroom
             -- (minimal-scale robustness sweep catch)
             {sql_double(f"SUM({sql_dec('gap_s * gap_s', precision=28)})")} AS sgg
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           {{mean_rq}} AS mean_gap_s,
           {{lambda_rq}} AS lambda_per_s,
           {{cv2_rq}} AS cv_squared,
           ((sgg - sg * sg / n) / (n - 1)) / ((sg / n) * (sg / n))
             < 1.5 AS poisson_like
    FROM s
    """.format(
        # mean/rate/cv^2 of grid-exact gaps are rationals (.5-tie
        # class): guarded floor grid (r10 q225 class)
        mean_rq=sql_roundq("sg / n"),
        lambda_rq=sql_roundq("n / sg"),
        cv2_rq=sql_roundq(
            "((sgg - sg * sg / n) / (n - 1)) / ((sg / n) * (sg / n))"
        ),
    ),
)
def q177_interevent_fit(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id"
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).cast(
                "double"
            )
            / 1000
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    s = gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n"),
        dsum("gap_s").alias("sg"),
        # decimal(28,6), not dec()'s (18,6): the squared gap is still
        # grid-exact but needs ~1e13 integer headroom on sparse
        # fixtures (minimal-scale robustness sweep catch)
        F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sgg"),
    )
    # try_divide throughout: a type with ONE gap has n - 1 = 0, and
    # same-timestamp bursts make sg = 0 (mean 0 -> cv2 0/0) — DuckDB's
    # x/0 is NULL and the poisson_like comparison is NULL on both
    # engines (minimal-scale robustness sweep catch)
    mean = F.col("sg") / F.col("n")
    var = F.try_divide(
        F.col("sgg") - F.col("sg") * F.col("sg") / F.col("n"),
        (F.col("n") - 1).cast("double"),
    )
    cv2 = F.try_divide(var, mean * mean)
    return s.select(
        "event_type",
        "n",
        roundq(mean).alias("mean_gap_s"),
        roundq(F.try_divide(F.col("n"), F.col("sg"))).alias(
            "lambda_per_s"
        ),
        roundq(cv2).alias("cv_squared"),
        (cv2 < 1.5).alias("poisson_like"),
    )


# --------------------------------------------------------------------------
# q178: embedding-dimension QA — per-dimension mean/std over the
# vector corpus, the collapse/bias screen run before any ANN index is
# trusted (a collapsed dimension silently destroys cosine contrast).
# Dimension 8 is PLANTED near-constant (0.042) on every 3rd vector to
# make the flags non-vacuous. posexplode fans each vector into
# (dim, value) — 64x, bounded by the dimensionality — and one groupBy
# with decimal-exact moments does the rest.
# --------------------------------------------------------------------------
@register(
    "q178_embedding_dim_stats",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             CASE WHEN vec_id % 3 = 0 THEN
               list_transform(range(len(embedding)),
                 i -> CASE WHEN i = 8 THEN 0.042
                      ELSE CAST(embedding[i+1] AS DOUBLE) END)
             ELSE embedding::DOUBLE[] END AS v
      FROM embeddings
    ),
    expl AS (
      SELECT CAST(g.i AS BIGINT) AS dim, v[g.i + 1] AS x
      FROM base, UNNEST(generate_series(0, len(v) - 1)) AS g(i)
    ),
    s AS (
      -- floor grid: embedding x is a generic double (common.decq)
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             {sx} / 100000000 AS sx,
             {sxx} / 100000000 AS sxx
      FROM expl GROUP BY dim
    )
    SELECT dim, n,
           -- mean is a small-denominator rational (k / (100 * n) on
           -- the 1e-6 grid): guarded floor grid, not round() (r10
           -- q225-class); std is sqrt-derived — tie-free, round() ok
           {mean_rq} AS mean,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std,
           sqrt((sxx - sx * sx / n) / (n - 1)) < 0.5 AS collapsed,
           abs(sx / n) > 0.1 AS biased
    FROM s
    """.format(
        sx=sql_double(f"SUM({sql_decq('x', 8)})"),
        sxx=sql_double(f"SUM({sql_decq('x * x', 8)})"),
        mean_rq=sql_roundq("sx / n"),
    ),
)
def q178_embedding_dim_stats(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    planted = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 3 == 0,
            F.transform(
                "v",
                lambda x, i: F.when(i == 8, F.lit(0.042)).otherwise(x),
            ),
        )
        .otherwise(F.col("v"))
        .alias("v"),
    )
    expl = planted.select(
        F.posexplode("v").alias("dim", "x")
    ).select(F.col("dim").cast("long").alias("dim"), "x")
    s = expl.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(decq("x", 8)).cast("double") / F.lit(1e8)).alias("sx"),
        (
            F.sum(decq(F.col("x") * F.col("x"), 8)).cast("double")
            / F.lit(1e8)
        ).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    # try_divide: a single-vector corpus (single_row axis) has n = 1
    # per dim — the sample-variance denominator is 0; DuckDB /0 = NULL
    std = F.sqrt(
        F.try_divide(
            F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
            (F.col("n") - 1).cast("double"),
        )
    )
    return s.select(
        "dim",
        "n",
        roundq(mean).alias("mean"),
        F.round(std, 6).alias("std"),
        (std < 0.5).alias("collapsed"),
        (F.abs(mean) > 0.1).alias("biased"),
    )


# --------------------------------------------------------------------------
# q179: boilerplate hub detection — degree distribution of the
# shingle-sharing graph. Documents that near-match MANY others are
# boilerplate/template suspects (the hub pathology that poisons
# near-dup closures — one hub fuses unrelated clusters). Candidate
# edges come from the df-capped shingle join (q138's guard: shingles
# with df > 64 are dropped, so no shingle contributes more than
# C(64,2) pairs) with >= 3 shared shingles. A 30-doc boilerplate
# CLIQUE is planted: exactly those docs must surface at degree 29.
# Output is the degree histogram with the hub flag.
# --------------------------------------------------------------------------
@register(
    "q179_hub_detection",
    oracle=fr"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT 300000 + g.i AS doc_id,
             'standard boilerplate footer all rights reserved contact us' AS text
      FROM UNNEST(generate_series(0, 29)) AS g(i)
    ),
    {word_shingles_sql("corpus", 3, ())},
    hashed AS (
      SELECT id, {md5_int_sql("shingle", 1, 15)} AS h
      FROM sh
    ),
    df AS (
      SELECT h FROM hashed GROUP BY h
      HAVING count(*) BETWEEN 2 AND 64
    ),
    kept AS (SELECT hashed.id, hashed.h FROM hashed JOIN df USING (h)),
    edges AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM kept a JOIN kept b ON a.h = b.h AND a.id < b.id
      GROUP BY a.id, b.id HAVING count(*) >= 3
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS node FROM edges
        UNION ALL SELECT id_b AS node FROM edges
      ) GROUP BY node
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs,
           degree >= 10 AS is_hub_degree
    FROM deg GROUP BY degree
    """,
)
def q179_hub_detection(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = spark.range(30).select(
        (F.col("id") + 300000).alias("doc_id"),
        F.lit(
            "standard boilerplate footer all rights reserved contact us"
        ).alias("text"),
    )
    corpus = docs.unionByName(boiler)
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    sh = word_shingles(corpus, text_col="text", id_col="doc_id", n=3)
    hashed = sh.select(
        "id",
        md5_int("shingle", 1, 15)
        .alias("h"),
    )
    df_ok = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c").between(2, 64))
        .select("h")
    )
    kept = hashed.join(df_ok, "h")
    a = kept.select(F.col("id").alias("id_a"), "h")
    b = kept.select(F.col("id").alias("id_b"), "h")
    edges = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
    )
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        "degree", "n_docs", (F.col("degree") >= 10).alias("is_hub_degree")
    )


# --------------------------------------------------------------------------
# q180: join cardinality from key histograms — the cost-based
# optimizer's core primitive: the size of lineitem JOIN orders is
# computed WITHOUT running the join, as sum over matching keys of
# count_a * count_b (two tiny per-key aggregates + one histogram
# join). The constant-true `exact` column checks the prediction
# against the real join count in-query — the algebra a CBO's estimate
# degrades from (it samples/bounds the same histogram product).
# --------------------------------------------------------------------------
@register(
    "q180_join_cardinality",
    oracle="""
    WITH ha AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
      FROM lineitem GROUP BY l_orderkey
    ),
    hb AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
      FROM orders GROUP BY o_orderkey
    ),
    pred AS (
      SELECT CAST(SUM(ca * cb) AS BIGINT) AS predicted,
             CAST(count(*) AS BIGINT) AS n_matching_keys,
             CAST(max(ca * cb) AS BIGINT) AS max_key_contribution
      FROM ha JOIN hb USING (k)
    ),
    act AS (
      SELECT CAST(count(*) AS BIGINT) AS actual
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT p.predicted, p.n_matching_keys, p.max_key_contribution,
           a.actual, p.predicted = a.actual AS exact
    FROM pred p CROSS JOIN act a
    """,
)
def q180_join_cardinality(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    ha = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    hb = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    pred = ha.join(hb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("predicted"),
        F.count(F.lit(1)).alias("n_matching_keys"),
        F.max(F.col("ca") * F.col("cb")).cast("long").alias(
            "max_key_contribution"
        ),
    )
    act = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    return pred.crossJoin(act).select(
        "predicted",
        "n_matching_keys",
        "max_key_contribution",
        "actual",
        (F.col("predicted") == F.col("actual")).alias("exact"),
    )


# --------------------------------------------------------------------------
# q181: Theil-Sen robust trend — median of pairwise slopes over each
# event type's HOURLY series (outlier-resistant alternative to q163's
# least squares; one contaminated hour cannot move the estimate). The
# pair stage self-joins the ~720-point-per-type AGGREGATE, never the
# fact table — C(720,2) slope pairs per type is the deliberate,
# bounded cost of the exact estimator (at larger series, Theil-Sen is
# run on a deterministic hash sample of pairs, same shape).
# --------------------------------------------------------------------------
@register(
    "q181_theil_sen",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST({sql_floor_ms("date_trunc('hour', ts)")} / 3600000 AS BIGINT)
               AS hx,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / (b.hx - a.hx) AS slope
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND a.hx < b.hx
    )
    SELECT s.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {{sph_rq}} AS slope_per_hour,
           {{spd_rq}} AS slope_per_day
    FROM slopes s GROUP BY s.event_type
    """.format(
        # median of k/d slope rationals is itself a rational (or a
        # midpoint of two): guarded floor grid, which also normalizes
        # -0.0 (r10 q225 class)
        sph_rq=sql_roundq("median(s.slope)", 8),
        spd_rq=sql_roundq("median(s.slope) * 24"),
    ),
)
def q181_theil_sen(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_millis(F.date_trunc("hour", "ts")) / 3600000)
        .cast("long")
        .alias("hx"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a = hourly.select(
        "event_type", F.col("hx").alias("xa"), F.col("y").alias("ya")
    )
    b = hourly.select(
        "event_type", F.col("hx").alias("xb"), F.col("y").alias("yb")
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa"))
            ).alias("slope"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        roundq(F.median("slope"), 8).alias(
            "slope_per_hour"
        ),
        roundq(F.median("slope") * 24).alias(
            "slope_per_day"
        ),
    )


# --------------------------------------------------------------------------
# q182: windowed token PMI — pointwise mutual information of token
# pairs co-occurring within 2 positions (the distributional-semantics
# primitive under word2vec-era embeddings). Pair generation is the
# q146 bounded-lag trick: explode d in {1,2}, equi-join on
# (doc, position - d) — fanout exactly 2x, shuffle keyed on the doc.
# Marginals are unigram corpus counts; PMI = log2(c_ab N / (c_a c_b))
# on pairs with support >= 5, rounded. Pair canonicalization is
# lexicographic so (a,b) and (b,a) merge.
# --------------------------------------------------------------------------
@register(
    "q182_token_pmi",
    oracle=fr"""
    WITH toks AS (
      SELECT doc_id, g.i AS pos, t[g.i] AS tok
      FROM (SELECT doc_id,
                   {tokens_sql("text")} AS t
            FROM documents),
           UNNEST(generate_series(1, len(t))) AS g(i)
    ),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    pairs AS (
      SELECT least(a.tok, b.tok) AS tok_a,
             greatest(a.tok, b.tok) AS tok_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM toks a
      JOIN (SELECT 1 AS d UNION ALL SELECT 2) off ON true
      JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos - off.d
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT p.tok_a, p.tok_b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
           {sql_roundz("log2(CAST(p.c_ab AS DOUBLE) * t.n / (ua.c * ub.c))")}
             AS pmi
    FROM pairs p
    JOIN uni ua ON p.tok_a = ua.tok
    JOIN uni ub ON p.tok_b = ub.tok
    CROSS JOIN tot t
    """,
)
def q182_token_pmi(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    a = toks.withColumn("d", F.explode(F.array(F.lit(1), F.lit(2))))
    b = toks.select(
        F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("b_pos"),
        F.col("tok").alias("b_tok"),
    )
    pairs = (
        a.join(
            b,
            (F.col("b_doc") == F.col("doc_id"))
            & (F.col("b_pos") == F.col("pos") - F.col("d")),
        )
        .groupBy(
            F.least("tok", "b_tok").alias("tok_a"),
            F.greatest("tok", "b_tok").alias("tok_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "c_a",
            "c_b",
            roundz(
                F.log2(
                    F.col("c_ab").cast("double")
                    * F.col("n")
                    / (F.col("c_a") * F.col("c_b"))
                )
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# q183: Benford's-law audit — first-significant-digit distribution of
# order totals vs the Benford expectation, with a chi-square
# conformity flag (the fraud/data-fabrication screen auditors run on
# financial facts). The first digit comes from STRING truncation of
# the integer part (log10-based extraction can mis-floor at exact
# powers of ten); expected shares are hard-coded 6-decimal constants
# so no libm log enters the comparison.
# --------------------------------------------------------------------------
_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
    5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@register(
    "q183_benford_audit",
    oracle="""
    WITH d AS (
      -- finite prices only (sql_finite): NaN/inf >= 1 is TRUE on both
      -- engines, then DuckDB's BIGINT cast raises (nonfinite axis);
      -- a non-finite amount has no leading digit — excluded like NULL
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE {f} >= 1
    ),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY digit
    ),
    exp AS (
      SELECT * FROM (VALUES
        (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        (9, 0.045757)) AS t(digit, p)
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT obs.digit, obs.o,
           CAST({exp_milli_rq} AS BIGINT) AS expected_milli,
           {share_rq} AS share,
           {chi2_rq} AS chi2_term
    FROM obs JOIN exp USING (digit) CROSS JOIN tot
    """.format(
        # p*n*1000 (p a 6-dp constant) and the k/n share are rationals
        # with .5 boundaries: guarded floor grid (r10 q225 class)
        f=sql_finite("o_totalprice"),
        exp_milli_rq=sql_roundq("CAST(exp.p AS DOUBLE) * tot.n * 1000", 0),
        share_rq=sql_roundq("CAST(obs.o AS DOUBLE) / tot.n"),
        chi2_rq=sql_roundq(
            "(obs.o - CAST(exp.p AS DOUBLE) * tot.n)"
            " * (obs.o - CAST(exp.p AS DOUBLE) * tot.n)"
            " / (CAST(exp.p AS DOUBLE) * tot.n)"
        ),
    ),
)
def q183_benford_audit(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = (
        # finite(x) >= 1: NULL for NaN/inf -> row excluded, like the
        # oracle's sql_finite guard (non-finite has no leading digit).
        # The bare x >= 1 conjunct is subsumed by it (NaN/inf >= 1 is
        # true, -inf fails both) but parquet-PUSHABLE, keeping min/max
        # row-group skipping at 100 TB.
        o.where(
            (F.col("o_totalprice") >= 1)
            & (finite(F.col("o_totalprice")) >= 1)
        )
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    exp = local_frame(spark, sorted(_BENFORD.items()), "digit long, p double")
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("p").cast("double") * F.col("n")
    return (
        obs.join(F.broadcast(exp), "digit")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "o",
            roundq(e * 1000, 0).cast("long").alias("expected_milli"),
            roundq(F.col("o").cast("double") / F.col("n")).alias(
                "share"
            ),
            roundq((F.col("o") - e) * (F.col("o") - e) / e).alias(
                "chi2_term"
            ),
        )
    )


# --------------------------------------------------------------------------
# q184: retention half-life — fit ln(retention) ~ a + b * week_offset
# over q140's cohort matrix (pooled across cohorts) by least squares
# on the log scale, and report the decay half-life -ln(2)/b. The
# regression consumes the ~8-row offset aggregate; the only real work
# is the two fact-scan groupBys that build the retention curve.
# --------------------------------------------------------------------------
@register(
    "q184_retention_halflife",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(datediff('week', f.cohort, date_trunc('week', e.ts))
                  AS BIGINT) AS wk
      FROM events e JOIN firsts f USING (user_id)
    ),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n0 FROM firsts
      GROUP BY cohort
    ),
    curve AS (
      SELECT a.wk,
             CAST(count(*) AS BIGINT) AS active,
             CAST(SUM(s.n0) AS BIGINT) AS base
      FROM activity a JOIN sizes s USING (cohort)
      GROUP BY a.wk
      HAVING a.wk >= 1
    ),
    pts AS (
      SELECT CAST(wk AS DOUBLE) AS x,
             ln(CAST(active AS DOUBLE) / base) AS y
      FROM curve
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sql_dsum("x", 8)} AS sx,
             -- floor grid for the ln-derived terms (common.decq)
             {sql_double(f"SUM({sql_decq('y', 8)})")}
               / 100000000 AS sy,
             {sql_dsum("x * x", 8)} AS sxx,
             {sql_double(f"SUM({sql_decq('x * y', 8)})")}
               / 100000000 AS sxy
      FROM pts
    )
    SELECT n, decay_b,
           -- half-life from the ROUNDED slope, NULL when the curve is
           -- flat: 1/b at b ~ 1e-15 lands where doubles are spaced
           -- coarser than 4 decimals and engines disagree in the ULP
           CASE WHEN abs(decay_b) < 1e-6 THEN NULL
                ELSE {sql_roundz("-0.693147 / decay_b", 4)} END
             AS half_life_weeks
    FROM (
      SELECT n,
             {sql_roundz("(n * sxy - sx * sy) / (n * sxx - sx * sx)")}
               AS decay_b
      FROM s
    )
    """,
)
def q184_retention_halflife(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort"))
                / 7
            )
            .cast("long")
            .alias("wk"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n0"))
    curve = (
        activity.join(F.broadcast(sizes), "cohort")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("active"),
            F.sum("n0").cast("long").alias("base"),
        )
        .where(F.col("wk") >= 1)
    )
    pts = curve.select(
        F.col("wk").cast("double").alias("x"),
        F.log(F.col("active").cast("double") / F.col("base")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 8).alias("sx"),
        (F.sum(decq("y", 8)).cast("double") / F.lit(1e8)).alias("sy"),
        dsum(F.col("x") * F.col("x"), 8).alias("sxx"),
        (
            F.sum(decq(F.col("x") * F.col("y"), 8)).cast("double")
            / F.lit(1e8)
        ).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    rounded = s.select("n", roundz(b).alias("decay_b"))
    return rounded.select(
        "n",
        "decay_b",
        F.when(
            F.abs(F.col("decay_b")) < 1e-6, F.lit(None).cast("double")
        )
        .otherwise(roundz(F.lit(-0.693147) / F.col("decay_b"), 4))
        .alias("half_life_weeks"),
    )


# --------------------------------------------------------------------------
# q185: weighted median — order price weighted by line count (the
# "median dollar" / weighted-quantile primitive ordinary median can't
# express: each order counts proportionally to its mass). Cumulative
# weights over a per-priority window with a deterministic total order,
# then the first row where 2*cumw >= total wins (argmin via the q38
# struct-min pattern). Weights are exact integers; no float enters the
# selection.
# --------------------------------------------------------------------------
@register(
    "q185_weighted_median",
    oracle="""
    WITH w AS (
      SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice,
             CAST(count(*) AS BIGINT) AS wt
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_totalprice IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    c AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, wt,
             SUM(wt) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(wt) OVER (PARTITION BY o_orderpriority) AS totw
      FROM w
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(totw) AS BIGINT) AS total_weight,
           (min(CASE WHEN 2 * cumw >= totw
                THEN struct_pack(p := o_totalprice, k := o_orderkey)
                END)).p AS weighted_median_price
    FROM c GROUP BY o_orderpriority
    """,
)
def q185_weighted_median(spark, sf_dir):
    # null-priced orders carry no mass for a median OF PRICE — and an
    # unfiltered null sorts FIRST in Spark's cumw window but LAST in
    # DuckDB's, shifting the crossing point (null_mass axis)
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull())
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority", "o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    part = W.partitionBy("o_orderpriority")
    c = w.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        "wt",
        F.sum("wt")
        .over(
            part.orderBy("o_totalprice", "o_orderkey").rowsBetween(
                W.unboundedPreceding, 0
            )
        )
        .alias("cumw"),
        F.sum("wt").over(part).alias("totw"),
    )
    pick = F.when(
        2 * F.col("cumw") >= F.col("totw"),
        F.struct("o_totalprice", "o_orderkey"),
    )
    return c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("totw").cast("long").alias("total_weight"),
        F.min(pick).getField("o_totalprice").alias("weighted_median_price"),
    )


# --------------------------------------------------------------------------
# q186: funnel step latency — median and p90 seconds between the
# funnel's chained stage timestamps (q139's min-after-predecessor
# semantics: first view, first click AFTER that view, first purchase
# AFTER that click). Three grouped-FILTER aggregates per user ride one
# shuffle; the latency percentiles run over the per-user stage frame
# with the q37-established percentile/quantile_cont pair.
# --------------------------------------------------------------------------
@register(
    "q186_funnel_latency",
    oracle=f"""
    WITH t1s AS (
      SELECT user_id, min(ts) FILTER (event_type = 'view') AS t1
      FROM events GROUP BY user_id
    ),
    t2s AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1s ON e.user_id = t1s.user_id
      WHERE e.event_type = 'click' AND t1s.t1 IS NOT NULL
        AND e.ts > t1s.t1
      GROUP BY e.user_id
    ),
    t3s AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2s ON e.user_id = t2s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2s.t2
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT 'view_to_click' AS step,
             CAST({sql_floor_ms("t2s.t2")} - {sql_floor_ms("t1s.t1")} AS DOUBLE) / 1000
               AS secs
      FROM t2s JOIN t1s USING (user_id)
      UNION ALL
      SELECT 'click_to_purchase',
             CAST({sql_floor_ms("t3s.t3")} - {sql_floor_ms("t2s.t2")} AS DOUBLE) / 1000
      FROM t3s JOIN t2s USING (user_id)
    )
    SELECT step, CAST(count(*) AS BIGINT) AS n_users,
           {{med_rq}} AS median_secs,
           {{p90_rq}} AS p90_secs
    FROM lat GROUP BY step
    """.format(
        # interpolated percentiles of millisecond-grid latencies are
        # rationals (.5-tie class at scale 3): guarded floor grid
        med_rq=sql_roundq("quantile_cont(secs, 0.5)", 3),
        p90_rq=sql_roundq("quantile_cont(secs, 0.9)", 3),
    ),
)
def q186_funnel_latency(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    ).where(F.col("t1").isNotNull())
    t2s = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(t1s), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    t3s = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(t2s.select("user_id", "t2")), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t2")
        .agg(F.min("ts").alias("t3"))
    )
    lat = t2s.select(
        F.lit("view_to_click").alias("step"),
        (
            (F.unix_millis("t2") - F.unix_millis("t1")).cast("double") / 1000
        ).alias("secs"),
    ).unionByName(
        t3s.select(
            F.lit("click_to_purchase").alias("step"),
            (
                (F.unix_millis("t3") - F.unix_millis("t2")).cast("double")
                / 1000
            ).alias("secs"),
        )
    )
    return lat.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_users"),
        roundq(F.expr("percentile(secs, 0.5)"), 3).alias("median_secs"),
        roundq(F.expr("percentile(secs, 0.9)"), 3).alias("p90_secs"),
    )


# --------------------------------------------------------------------------
# q187: rate-of-change monitor — hourly volume deltas per event type,
# flagged where |delta| exceeds 3 sigma of the type's own delta
# distribution (jump detection; q150 catches level anomalies, this
# catches steps). Everything after the hourly rollup runs on the
# ~720-row-per-type aggregate: a lag window for deltas, decimal-exact
# moments for sigma, a broadcast join back. Integer deltas keep the
# flag arithmetic exact.
# --------------------------------------------------------------------------
@register(
    "q187_rate_change_alert",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    deltas AS (
      SELECT event_type, h,
             v - lag(v) OVER (PARTITION BY event_type ORDER BY h) AS d
      FROM hourly
    ),
    stats AS (
      SELECT event_type,
             CAST(count(d) AS BIGINT) AS n,
             {sd} AS sd,
             {sdd} AS sdd
      FROM deltas WHERE d IS NOT NULL GROUP BY event_type
    )
    SELECT x.event_type, x.n,
           {mean_rq} AS mean_delta,
           round(sqrt((x.sdd - x.sd * x.sd / x.n) / (x.n - 1)), 6)
             AS sigma_delta,
           CAST(SUM(CASE WHEN abs(dl.d - x.sd / x.n)
                         > 3 * sqrt((x.sdd - x.sd * x.sd / x.n) / (x.n - 1))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_jumps
    FROM deltas dl JOIN stats x USING (event_type)
    WHERE dl.d IS NOT NULL
    GROUP BY x.event_type, x.n, x.sd, x.sdd
    """.format(
        sd=sql_dsum("d"),
        sdd=sql_dsum("d * d"),
        # mean = k/(1e6*n) rational (.5-tie class): guarded floor
        # grid, which also normalizes -0.0; sigma is sqrt-derived —
        # tie-free, round() ok (r10 q225 class)
        mean_rq=sql_roundq("x.sd / x.n"),
    ),
)
def q187_rate_change_alert(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("v"))
    deltas = hourly.select(
        "event_type",
        (
            F.col("v")
            - F.lag("v").over(W.partitionBy("event_type").orderBy("h"))
        ).alias("d"),
    ).where(F.col("d").isNotNull())
    stats = deltas.groupBy("event_type").agg(
        F.count("d").alias("n"),
        dsum("d").alias("sd"),
        dsum(F.col("d") * F.col("d")).alias("sdd"),
    )
    mean = F.col("sd") / F.col("n")
    # try_divide: a type with a single hourly delta has n - 1 = 0
    # (minimal-scale robustness sweep catch); sigma NULL disables the
    # 3-sigma test identically on both engines (comparison -> NULL ->
    # CASE else-branch)
    sigma = F.sqrt(
        F.try_divide(
            F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n"),
            (F.col("n") - 1).cast("double"),
        )
    )
    j = deltas.join(F.broadcast(stats), "event_type")
    return j.groupBy("event_type", "n", "sd", "sdd").agg(
        F.sum(
            F.when(F.abs(F.col("d") - mean) > 3 * sigma, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_jumps")
    ).select(
        "event_type",
        "n",
        roundq(mean).alias("mean_delta"),
        F.round(sigma, 6).alias("sigma_delta"),
        "n_jumps",
    )


# --------------------------------------------------------------------------
# q188: invoice reconciliation — o_totalprice vs the recomputed
# sum(extendedprice * (1+tax) * (1-discount)) per order, banded by
# relative difference (the cross-table consistency audit run before
# trusting any revenue rollup; on this synthetic fixture the columns
# are independent, so the audit REPORTS the inconsistency instead of
# assuming it away). One lineitem groupBy + an orderkey join; the
# recomputed charge is a 6-decimal-exact product sum and band edges
# are evaluated in multiplication form (no division).
# --------------------------------------------------------------------------
@register(
    "q188_invoice_reconciliation",
    oracle="""
    WITH calc AS (
      SELECT l_orderkey,
             {charge} AS charge
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CASE
             WHEN abs(o.o_totalprice - c.charge) <= 0.01 * o.o_totalprice
               THEN 'reconciled_1pct'
             WHEN abs(o.o_totalprice - c.charge) <= 0.25 * o.o_totalprice
               THEN 'off_25pct'
             WHEN abs(o.o_totalprice - c.charge) <= o.o_totalprice
               THEN 'off_100pct'
             ELSE 'gross_mismatch' END AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           -- gaps carry <= 6 decimals exactly: scale-6 quantization is
           -- identity; re-rounding the 6-dp sum to 2 dp ties when the
           -- last four digits are exactly 5000 — guarded floor grid
           {gap_rq} AS abs_gap_total
    FROM orders o JOIN calc c ON o.o_orderkey = c.l_orderkey
    GROUP BY band
    """.format(
        charge=sql_dsum("l_extendedprice * (1 + l_tax) * (1 - l_discount)"),
        gap_rq=sql_roundq(sql_dsum("abs(o.o_totalprice - c.charge)"), 2),
    ),
)
def q188_invoice_reconciliation(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_tax", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    charge = dec(
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount")),
        6,
    )
    calc = li.groupBy("l_orderkey").agg(
        F.sum(charge).cast("double").alias("charge")
    )
    j = o.join(calc, o.o_orderkey == calc.l_orderkey)
    gap = F.abs(F.col("o_totalprice") - F.col("charge"))
    band = (
        F.when(gap <= 0.01 * F.col("o_totalprice"), "reconciled_1pct")
        .when(gap <= 0.25 * F.col("o_totalprice"), "off_25pct")
        .when(gap <= F.col("o_totalprice"), "off_100pct")
        .otherwise("gross_mismatch")
    )
    return j.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        roundq(dsum(gap), 2).alias("abs_gap_total"),
    )


# --------------------------------------------------------------------------
# q189: duplicate-payment detection — orders identical on
# (custkey, totalprice, orderdate) under DIFFERENT keys (the classic
# accounts-payable audit). The fixture has no natural duplicates, so
# every 503rd order is planted again under a shifted key; the audit
# must recover exactly those groups. Grouping on the natural key is
# one shuffle; output is per-duplicate-group with deterministic
# min/max key evidence.
# --------------------------------------------------------------------------
@register(
    "q189_duplicate_payments",
    oracle=f"""
    WITH corpus AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
      UNION ALL
      SELECT o_orderkey + 5000000, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 503 = 0
    )
    SELECT o_custkey, o_totalprice,
           {sql_floor_ms("o_orderdate")} AS orderdate_ms,
           CAST(count(*) AS BIGINT) AS n_payments,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(max(o_orderkey) AS BIGINT) AS last_key
    FROM corpus
    GROUP BY o_custkey, o_totalprice, o_orderdate
    HAVING count(*) > 1
    """,
)
def q189_duplicate_payments(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    corpus = o.unionByName(
        o.where(F.col("o_orderkey") % 503 == 0).select(
            (F.col("o_orderkey") + 5000000).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
        )
    )
    return (
        corpus.groupBy("o_custkey", "o_totalprice", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_payments"),
            F.min("o_orderkey").cast("long").alias("first_key"),
            F.max("o_orderkey").cast("long").alias("last_key"),
        )
        .where(F.col("n_payments") > 1)
        .select(
            "o_custkey",
            "o_totalprice",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_ms"
            ),
            "n_payments",
            "first_key",
            "last_key",
        )
    )
