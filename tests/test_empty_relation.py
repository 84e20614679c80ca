"""empty_relation robustness axis (r11): the fact/corpus tables
(lineitem, events, documents, embeddings) have ZERO rows while every
dimension stays populated — the harsher sibling of the no_purchases
whole-class-absence axis.

First x1 sweep caught six real cross-engine defects, pinned here:

- q134_hll_shard_union / q229_dedup_pr_harness: ANSI DIVIDE_BY_ZERO
  crashes on the zero-denominator global row (exact_distinct = 0 /
  n_planted = 0) — fixed with the multiplication-form bound and
  try_divide respectively (DuckDB's x/0.0 is NULL).
- q139_funnel: Spark's SUM over zero users is NULL where the oracle's
  per-stage COUNT(*) is 0 (plus the float64-vs-int64 pandas dtype
  drift that follows) — coalesced to 0, share via try_divide.
- q171_anova_f / q222_poisson_bootstrap: the oracle's CROSS JOIN of an
  always-1-row aggregate with an EMPTY per-group CTE fed the outer
  aggregate zero rows (k collapsed to NULL / the row vanished), where
  Spark's crossJoin of two 1-row aggregates keeps count() = 0 —
  rewritten as LEFT JOIN ON TRUE, identical on non-empty input.
- q12_rollup (class fix also applied to q13_cube, q78_grouping_sets):
  ENGINE ENVELOPE — Spark's grouping sets over EMPTY input emit 0
  rows (Expand + hash aggregate on the expanded keys finds no
  groups), while DuckDB and the SQL standard emit the () grand-total
  row (a global aggregate over zero rows is one row). Bridged with a
  HAVING COUNT(*) > 0 guard on the ORACLE side — identity on
  non-empty input since every real group has count >= 1. The
  envelope test below is flip-detecting: if either engine changes
  behavior, it fails loudly and the guards must be revisited.
"""
from __future__ import annotations

import pytest

from airquality_data_pipeline_spark.queries import ORACLE, QUERIES
from tests.oracle_utils import compare

FIXED_QUERIES = [
    "q12_rollup",
    "q13_cube",
    "q78_grouping_sets",
    "q134_hll_shard_union",
    "q139_funnel",
    "q171_anova_f",
    "q222_poisson_bootstrap",
    "q229_dedup_pr_harness",
]

EMPTY_TABLES = ("lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    from tests.robustness.gen_alt_fixture import generate

    out = str(tmp_path_factory.mktemp("empty_relation"))
    generate(out, seed=13, scale=1.0, axis="empty_relation")
    return out


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_empty_fixture_shape(empty_dir, empty_duck):
    """Facts/corpus 0 rows with intact schemas; dims populated."""
    for t in EMPTY_TABLES:
        n, ncols = empty_duck.execute(
            f"SELECT count(*), (SELECT count(*) FROM "
            f"information_schema.columns WHERE table_name = '{t}') "
            f"FROM {t}"
        ).fetchone()
        assert n == 0 and ncols >= 3, (t, n, ncols)
    for t in ("customer", "orders", "nation"):
        assert empty_duck.execute(
            f"SELECT count(*) FROM {t}"
        ).fetchone()[0] > 0, t


@pytest.mark.parametrize("name", FIXED_QUERIES)
def test_empty_relation_parity(name, spark, empty_dir, empty_duck):
    df = QUERIES[name](spark, empty_dir)
    df.collect()  # q134/q229 raised DIVIDE_BY_ZERO before the fix
    probs = compare(df, empty_duck, ORACLE[name])
    assert not probs, probs


def test_streaming_jobs_survive_empty_sources(spark, empty_dir):
    """Zero-row file sources must drain cleanly through every
    stateful job (watermark init, dedup state) and emit zero rows —
    no NPE/state-init crash class."""
    import uuid

    from airquality_data_pipeline_spark.streaming import jobs
    from tests.conftest import run_to_memory

    def drain(df):
        name = f"t_{uuid.uuid4().hex[:8]}"
        run_to_memory(df, name)
        return spark.sql(f"SELECT * FROM {name}").count()

    ev = lambda: jobs.read_events_stream(spark, empty_dir)  # noqa: E731
    assert drain(jobs.tumbling_counts(ev())) == 0
    assert drain(jobs.watermark_dedup(ev())) == 0


SINGLE_ROW_QUERIES = [
    # n = 1 ANSI DIVIDE_BY_ZERO crashes caught by the single_row axis
    # (r11): q175 one-sample KS (nb = 0), q178 sample variance over
    # one vector (n - 1 = 0), q200 singular normal equations
    # (det = 0), q222 zero-weight Poisson replicate (sum(w) = 0) —
    # all try_divide now, NULL like the oracle's /0.
    "q175_ks_test",
    "q178_embedding_dim_stats",
    "q200_ols_two_feature",
    "q222_poisson_bootstrap",
]


@pytest.fixture(scope="module")
def single_row_dir(tmp_path_factory):
    from tests.robustness.gen_alt_fixture import generate

    out = str(tmp_path_factory.mktemp("single_row"))
    generate(out, seed=13, scale=1.0, axis="single_row")
    return out


@pytest.fixture(scope="module")
def single_row_duck(single_row_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{single_row_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_single_row_fixture_shape(single_row_duck):
    for t in EMPTY_TABLES:
        assert single_row_duck.execute(
            f"SELECT count(*) FROM {t}"
        ).fetchone()[0] == 1, t


@pytest.mark.parametrize("name", SINGLE_ROW_QUERIES)
def test_single_row_parity(name, spark, single_row_dir, single_row_duck):
    df = QUERIES[name](spark, single_row_dir)
    df.collect()  # raised DIVIDE_BY_ZERO before the fix
    probs = compare(df, single_row_duck, ORACLE[name])
    assert not probs, probs


def test_grouping_sets_empty_input_envelope(spark):
    """Flip detector for the engine envelope the q12/q13/q78 HAVING
    guards bridge: Spark grouping-sets over empty input emit 0 rows,
    DuckDB emits the () grand-total row. If either side changes,
    revisit the guards."""
    import duckdb

    from pyspark.sql import functions as F

    df = spark.createDataFrame([], "a string, b string")
    spark_rows = (
        df.rollup("a", "b").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert spark_rows == [], (
        "Spark now emits rows for grouping sets over empty input — "
        "drop the HAVING COUNT(*) > 0 oracle guards (q12/q13/q78)"
    )
    duck_rows = duckdb.connect().execute(
        "SELECT a, b, count(*) FROM (SELECT 'x' a, 'y' b WHERE 1=0) "
        "GROUP BY ROLLUP(a, b)"
    ).fetchall()
    assert duck_rows == [(None, None, 0)], (
        "DuckDB no longer emits the grand-total row over empty input — "
        "the HAVING guards are now vacuous; re-probe the envelope"
    )


def test_contradictory_axis_combos_raise(tmp_path):
    """Both contradictory pairs must raise like unknown axes do
    (r11 ADVICE for empty_relation+single_row; extended r12 when
    nonfinite_mass landed as the intensity sibling of
    nonfinite_values)."""
    from tests.robustness.gen_alt_fixture import generate

    for axis in (
        "empty_relation+single_row",
        "nonfinite_values+nonfinite_mass",
    ):
        with pytest.raises(ValueError, match="contradictory"):
            generate(str(tmp_path / "x"), seed=13, scale=1.0, axis=axis)
