"""Time-window operators: sessionization + tumbling/sliding assignment.

The reference has no aggregation windows (SURVEY.md §2.8 — only
source-side lookbacks); these supply the streaming-analytics surface the
engine needs. Batch forms here; streaming twins in streaming/jobs.py use
window()/session_window() with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: adds a per-key `session_id`
    (1-based) that increments whenever the gap to the previous event
    exceeds `gap_seconds`. Equivalent to session_window(ts, gap) for a
    constant gap. Two windows over the same (key, ts) sort — Catalyst
    executes them in a single sort+window stage."""
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    new_sess = F.when(
        prev_ms.isNull() | (ms - prev_ms > gap_seconds * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def interval_union(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Merge overlapping [start, end) intervals per key — the running-
    max-of-end island sweep: a new island starts exactly when an
    interval's start clears every earlier end (window over PRECEDING
    rows only); island ids are a running sum of those starts. Returns
    one row per key with n_intervals / n_merged / covered (sum of
    merged island extents). Keyed windows with a fully deterministic
    order; partitions sort locally at any scale — no global sort, no
    interval self-join. Registered as q194 over supplier shipment
    windows; property-tested against a pure-Python sweep."""
    order = [F.col(start_col), F.col(end_col)] + [
        F.col(c) for c in (tiebreak or [])
    ]
    w = Window.partitionBy(key).orderBy(*order)
    prev_max = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = df.withColumn(
        "_new_island",
        F.when(
            prev_max.isNull() | (F.col(start_col) > prev_max), 1
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "_island",
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy(key, "_island").agg(
        F.count(F.lit(1)).alias("_n_in_island"),
        (F.max(end_col) - F.min(start_col)).alias("_cov"),
    )
    return merged.groupBy(key).agg(
        F.sum("_n_in_island").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_merged"),
        F.sum("_cov").alias("covered"),
    )


def pareto_frontier(
    df: DataFrame, minimize_col: str, maximize_col: str
) -> DataFrame:
    """2-D skyline: points not weakly dominated on (minimize x,
    maximize y). Only the max-y point per distinct x can survive, so
    the frontier reduces to a groupBy on x followed by one ascending
    sweep keeping points whose y strictly exceeds the running max over
    all strictly smaller x — the sort-based skyline, never the O(n^2)
    dominance join. The sweep window runs on the |distinct x|-row
    aggregate (single partition there by design). Registered as q210;
    property-tested against a brute-force dominance check."""
    best = df.groupBy(minimize_col).agg(
        F.max(maximize_col).alias(maximize_col)
    )
    w = Window.orderBy(minimize_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sweep = best.withColumn("_prev_max", F.max(maximize_col).over(w))
    return sweep.where(
        F.col("_prev_max").isNull()
        | (F.col(maximize_col) > F.col("_prev_max"))
    ).select(minimize_col, maximize_col)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    *,
    num_partitions: int = 64,
    rn_col: str = "rn",
    n_col: str | None = None,
) -> DataFrame:
    """Distributed global row_number — the TWO-PHASE RANK that replaces
    `row_number() OVER (ORDER BY ...)` when the input is fact-scale
    (a literal global window moves every row to ONE partition; see
    PLANS.md "Global windows"). Phase 1: repartitionByRange on the
    full sort key, rank locally per range partition (the window is
    keyed on the partition id). Phase 2: prefix-sum the per-partition
    counts (a <= num_partitions-row frame) and broadcast the offsets
    back. Any range-boundary placement yields the same global ranks
    when the sort key is unique; with ties, the output is a valid
    total order consistent with the key (ties ordered by partition),
    so order STATISTICS (k-th value) are deterministic even then.
    Adds `rn_col` (1-based global rank, BIGINT) and optionally
    `n_col` (total row count) to df's columns."""
    clash = {"__pid", "__lrn", "__off", "__n"}.intersection(df.columns)
    if clash:
        raise ValueError(
            "global_row_number: input already carries reserved internal "
            f"columns {sorted(clash)} — rename them first"
        )
    local = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrn",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_cols)
            ),
        )
    )
    cnts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    offs = cnts.select(
        "__pid",
        F.coalesce(
            F.sum("__cnt").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__off"),
        F.sum("__cnt").over(
            Window.orderBy("__pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    out = local.join(F.broadcast(offs), "__pid")
    cols = [F.col(c) for c in df.columns]
    cols.append((F.col("__off") + F.col("__lrn")).cast("long").alias(rn_col))
    if n_col is not None:
        cols.append(F.col("__n").cast("long").alias(n_col))
    return out.select(*cols)


def global_ntile(
    df: DataFrame,
    num_tiles: int,
    order_cols: list,
    *,
    out_col: str = "tile",
    num_partitions: int = 64,
) -> DataFrame:
    """Distributed ntile — `ntile(k) OVER (ORDER BY ...)` computed from
    the two-phase global rank plus the closed-form SQL ntile contract
    (the first n % k tiles hold n div k + 1 rows, the rest n div k),
    in pure integer arithmetic. Matches Spark's and DuckDB's native
    ntile bucket-for-bucket for any deterministic total order without
    ever sorting the input on a single partition. order_cols may be
    column names or Column expressions (e.g. F.col("x").desc())."""
    k = int(num_tiles)
    ranked = global_row_number(
        df,
        order_cols,
        num_partitions=num_partitions,
        rn_col="__rn",
        n_col="__nt",
    )
    bucket = F.expr(
        f"""
        CAST(CASE
          WHEN __rn <= (__nt % {k}) * (__nt div {k} + 1)
          THEN (__rn - 1) div (__nt div {k} + 1)
          ELSE (__nt % {k})
               + (__rn - (__nt % {k}) * (__nt div {k} + 1) - 1)
                 div greatest(__nt div {k}, 1)
        END + 1 AS BIGINT)
        """
    )
    return ranked.withColumn(out_col, bucket).drop("__rn", "__nt")


def exact_decile_edges(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """1-row frame whose `qs` column is the 9-element array of exact
    decile edges: edge i = the ceil(i*n/10)-th smallest value
    (1-based), an order statistic that is deterministic under ties and
    — unlike pairing percentile_approx against DuckDB's quantile_disc
    — follows ONE rank convention both engines can state explicitly
    (ceil via integer arithmetic, (i*n + 9) div 10, so no float
    p*n rounding at decile boundaries). Computed over the DISTINCT
    value domain: edge i is the smallest value whose cumulative
    multiset count reaches the rank, so the only unpartitioned window
    runs over |distinct values| aggregated rows. Use on value-bounded
    domains (scores on a cents grid, integer lengths); for near-unique
    keys, derive the order statistic from global_row_number instead
    (the q260 pattern)."""
    g = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = g.select(
        F.col(value_col).alias("__v"),
        F.sum("__cnt")
        .over(
            Window.orderBy(value_col).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("__cum"),
        F.sum("__cnt")
        .over(
            Window.orderBy(value_col).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__n"),
    )
    anchor = df.sparkSession.range(1, 10).select(
        F.col("id").cast("long").alias("__i")
    )
    hit = cum.join(
        F.broadcast(anchor),
        F.col("__cum") >= F.expr("(__i * __n + 9) div 10"),
    ).groupBy("__i").agg(F.min("__v").alias("__edge"))
    # Always emit exactly 9 elements: for n >= 1 every decile rank has
    # a hit (ceil(i*n/10) <= n), but on EMPTY input the hit join is
    # empty and transform over the collected structs used to yield a
    # 0-element array — consumers indexing element_at(qs, i) then threw
    # under ANSI (r6 ADVICE item). F.get returns NULL out-of-bounds, so
    # an empty input now yields [null x 9] instead.
    return (
        hit.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__i", "__edge"))
            ).alias("__s")
        )
        .select(
            F.transform(
                F.sequence(F.lit(1).cast("long"), F.lit(9).cast("long")),
                lambda i: F.get(
                    F.filter(F.col("__s"), lambda s: s["__i"] == i), 0
                )["__edge"],
            ).alias("qs")
        )
    )
