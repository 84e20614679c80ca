"""Mergeable sketch operators: count-min sketch over a token stream.

The 100 TB shape: a CMS is a fixed d x w counter grid whose cells only
ever ADD, so partial sketches built per partition / per micro-batch /
per day merge by element-wise sum — the property that lets term stats
run in O(d*w) memory no matter the corpus size. Hash r of a token is
md5(token || '#r') (engine-portable, the repo-standard digest family),
so a DuckDB oracle can replicate the grid bit-exactly (q131).

Estimates never undercount: est(tok) = min over rows of the counter at
the token's position >= true count, with overcounts bounded by
(e/w) * total mass per row at probability 1 - e^-d (Cormode &
Muthukrishnan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import md5_int

CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_position(tok: Column, r: Column) -> Column:
    """Counter column for token `tok` in hash row `r`: first 32 bits of
    md5(tok || '#' || r) mod CMS_WIDTH."""
    return md5_int(F.concat(tok, F.lit("#"), r.cast("string")), 1, 8) % CMS_WIDTH


def _rows(df_or_spark, depth: int) -> DataFrame:
    spark = df_or_spark.sparkSession if isinstance(df_or_spark, DataFrame) else df_or_spark
    return spark.range(depth).select(F.col("id").cast("int").alias("r"))


def cms_build(
    toks: DataFrame,
    tok_col: str = "tok",
    weight_col: str | None = None,
) -> DataFrame:
    """Build the (r, col, counter) grid from a token DataFrame — one
    row per token OCCURRENCE (or per token with `weight_col` giving the
    occurrence count; building from a pre-aggregated count is the same
    grid, cheaper). Plan: broadcast the CMS_DEPTH-row hash index, one
    groupBy(r, col) with map-side partial sums — the shuffle carries at
    most CMS_DEPTH*CMS_WIDTH rows regardless of input size."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    pos = toks.crossJoin(F.broadcast(_rows(toks, CMS_DEPTH))).select(
        F.col("r"),
        cms_position(F.col(tok_col), F.col("r")).alias("col"),
        w.alias("w"),
    )
    return pos.groupBy("r", "col").agg(F.sum("w").alias("counter"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    tok_col: str = "tok",
) -> DataFrame:
    """Point-estimate counts for the probe tokens: min over the CMS_DEPTH
    counters at each token's positions. The sketch side is at most
    CMS_DEPTH*CMS_WIDTH rows — broadcast it; the probe side never
    shuffles."""
    pos = probes.crossJoin(F.broadcast(_rows(probes, CMS_DEPTH))).select(
        F.col(tok_col),
        "r",
        cms_position(F.col(tok_col), F.col("r")).alias("col"),
    )
    return (
        pos.join(F.broadcast(sketch), ["r", "col"])
        .groupBy(tok_col)
        .agg(F.min("counter").alias("cms_est"))
    )
