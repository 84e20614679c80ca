"""Semantic invariants for the session-4 advanced batch (q143-q158) —
properties the DuckDB hash-match can't express: conservation laws,
bounds, and planted-structure recovery."""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.queries import QUERIES


def test_repetition_flags_planted_twins(spark, sf_dir):
    rows = QUERIES["q143_repetition_filter"](spark, sf_dir).collect()
    planted = [r for r in rows if r.doc_id >= 200000]
    organic = [r for r in rows if r.doc_id < 200000]
    assert planted, "planted self-doubled twins missing"
    # a self-doubled doc duplicates (almost) every 5-gram
    assert all(r.flagged for r in planted if r.n_grams >= 10)
    # the organic corpus should be overwhelmingly clean
    clean = sum(1 for r in organic if not r.flagged)
    assert clean / len(organic) > 0.95


def test_mixture_reweight_mass(spark, sf_dir):
    rows = QUERIES["q144_mixture_reweight"](spark, sf_dir).collect()
    # weights capped at 3x and the re-normalized mixture sums to ~1
    assert all(0 < r.weight <= 3.0 for r in rows)
    assert abs(sum(r.new_share for r in rows) - 1.0) < 1e-3


def test_ewma_between_min_max(spark, sf_dir):
    # EWMA is a convex combination of the last 20 values, so it must
    # lie inside the global [min, max] of the series
    from airquality_data_pipeline_spark.io import table

    lo, hi = (
        table(spark, sf_dir, "events")
        .agg(F.min("value"), F.max("value"))
        .first()
    )
    stats = (
        QUERIES["q146_ewma"](spark, sf_dir)
        .agg(F.min("ewma").alias("lo"), F.max("ewma").alias("hi"))
        .first()
    )
    assert stats.lo >= lo - 1e-6 and stats.hi <= hi + 1e-6


def test_pagerank_mass_conservation(spark, sf_dir):
    rows = QUERIES["q149_pagerank"](spark, sf_dir).collect()
    total_permille = sum(r.rank_permille for r in rows)
    # fixed-point floor arithmetic leaks <= 1 micro-unit per edge per
    # iteration; total mass stays within a tenth of a percent of 1000
    assert abs(total_permille - 1000.0) < 1.0
    assert all(r.rank_permille > 0 for r in rows)


def test_triangle_census_bounds(spark, sf_dir):
    row = QUERIES["q157_triangle_count"](spark, sf_dir).first()
    assert row.n_triangles <= row.n_wedge_checks
    assert row.n_wedge_checks <= row.n_wedges
    assert 0.0 <= row.clustering_coeff <= 1.0


def test_rfm_scores_in_range(spark, sf_dir):
    df = QUERIES["q152_rfm_segmentation"](spark, sf_dir)
    bad = df.where(
        ~F.col("r_score").between(1, 5)
        | ~F.col("f_score").between(1, 5)
        | ~F.col("m_score").between(1, 5)
    ).count()
    assert bad == 0


def test_markov_rows_sum_to_one(spark, sf_dir):
    rows = QUERIES["q151_markov_transitions"](spark, sf_dir).collect()
    by_cur: dict[str, float] = {}
    for r in rows:
        by_cur[r.cur] = by_cur.get(r.cur, 0.0) + r.p
    assert all(abs(total - 1.0) < 1e-3 for total in by_cur.values())


def test_equidepth_buckets_are_even_and_ordered(spark, sf_dir):
    rows = sorted(
        QUERIES["q148_equidepth_histogram"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    counts = [r.n for r in rows]
    assert max(counts) - min(counts) <= 1  # ntile evenness guarantee
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi <= cur.lo  # buckets tile the sorted domain
