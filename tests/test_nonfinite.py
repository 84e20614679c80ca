"""Non-finite-as-NULL grid convention (r12 conversion).

At 100 TB, NaN/±inf WILL appear in double metric columns. The two
engines' exact-decimal accumulation paths diverge on them (r11 probe):
Spark's floor(NaN*1e6+0.5)->BIGINT silently yields 0 and ±inf clamps to
±Long.MAX, while DuckDB raises casting non-finite to DECIMAL/HUGEINT.
The convention (queries/common.py): non-finite = NULL at every grid
entry point, enforced by finite()/decq()/davg() on the Spark side and
by the `*_sql` twins on the oracle side: sql_dec() and sql_decq() wrap
their value in sql_finite(), and oracle SQL runs as written.

These tests pin each piece, plus the engine behaviors the convention
leans on (Spark's native non-finite->NULL decimal cast; DuckDB's
isfinite NULL passthrough), plus a small cross-engine parity case over
a parquet file that actually contains NaN/±inf.
"""
from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.queries.common import (
    davg,
    dec,
    decq,
    dsum,
    finite,
    sql_davg,
    sql_decq,
    sql_double,
    sql_dsum,
    sql_finite,
)

NAN, INF = float("nan"), float("inf")


@pytest.fixture(scope="module")
def nf_df(spark):
    return spark.createDataFrame(
        [(1.5,), (2.25,), (NAN,), (INF,), (-INF,), (None,)], "x double"
    )


def test_spark_decimal_cast_nullifies_nonfinite(nf_df):
    """dec() relies on Spark's NATIVE double->DECIMAL cast returning
    NULL for NaN/±inf (even under ANSI). If an engine upgrade changes
    this, dec() must grow an explicit finite() wrap — this pin is the
    alarm."""
    got = [r[0] for r in nf_df.select(dec("x")).collect()]
    assert [float(v) if v is not None else None for v in got] == [
        1.5, 2.25, None, None, None, None,
    ]


def test_finite_nullifies_exactly_nonfinite(nf_df):
    got = [r[0] for r in nf_df.select(finite("x")).collect()]
    assert got == [1.5, 2.25, None, None, None, None]


def test_finite_safe_on_non_double_columns(spark):
    # detection casts to double internally; BIGINT/DECIMAL inputs pass
    # through with their type intact
    df = spark.createDataFrame([(10,), (None,)], "n bigint")
    out = df.select(finite("n").alias("n"))
    assert dict(out.dtypes)["n"] == "bigint"
    assert [r.n for r in out.collect()] == [10, None]


def test_decq_nonfinite_is_null_not_zero_or_clamp(nf_df):
    got = [r[0] for r in nf_df.select(decq("x").alias("q")).collect()]
    assert [int(v) if v is not None else None for v in got] == [
        1_500_000, 2_250_000, None, None, None, None,
    ]


def test_dsum_davg_skip_nonfinite(nf_df):
    row = nf_df.agg(
        dsum("x").alias("s"), davg("x").alias("a"), F.count("x").alias("n_raw")
    ).collect()[0]
    assert row.s == 3.75
    assert row.a == 1.875  # denominator counts FINITE values (2), not 5
    assert row.n_raw == 5  # raw count still sees NaN/inf as non-null


def test_davg_all_nonfinite_group_is_null(spark):
    df = spark.createDataFrame([(NAN,), (INF,)], "x double")
    row = df.agg(davg("x").alias("a")).collect()[0]
    assert row.a is None


def test_duckdb_twins_match(duck):
    q = (
        "SELECT "
        + sql_dsum("x")
        + " AS s, "
        + sql_davg("x")
        + " AS a, "
        + sql_double("SUM(" + sql_decq("x") + ")")
        + " / 1000000 AS qs "
        + "FROM (VALUES (1.5::DOUBLE),(2.25::DOUBLE),('nan'::DOUBLE),"
        "('inf'::DOUBLE),('-inf'::DOUBLE),(NULL::DOUBLE)) t(x)"
    )
    s, a, qs = duck.execute(q).fetchall()[0]
    assert float(s) == 3.75
    assert float(a) == 1.875
    assert float(qs) == 3.75


def test_sql_finite_null_passthrough(duck):
    got = duck.execute(
        f"SELECT {sql_finite('x')} FROM (VALUES (NULL::DOUBLE),"
        "('nan'::DOUBLE),(7.0::DOUBLE)) t(x)"
    ).fetchall()
    assert [r[0] for r in got] == [None, None, 7.0]


# --- the oracle text ----------------------------------------------------


def test_oracle_decimal_casts_come_from_sql_dec():
    """Oracle SQL runs as written, so every DECIMAL cast in it must
    come from sql_dec(), whose sql_finite() CASE ends right before
    `AS DECIMAL(`; and no DECIMAL value, windowed SUMs included, may be
    cast straight to DOUBLE (DuckDB's direct cast is not correctly
    rounded; sql_double() hops through VARCHAR)."""
    from airquality_data_pipeline_spark.queries import ORACLE

    assert len(ORACLE) >= 263
    unwrapped, direct = [], []
    for name, sql in sorted(ORACLE.items()):
        flat = " ".join(sql.split())
        if flat.count(" AS DECIMAL(") != flat.count("END AS DECIMAL("):
            unwrapped.append(name)
        if re.search(r"DECIMAL\(\d+,\d+\)\)+( OVER \([^()]*\))? AS DOUBLE\)", flat):
            direct.append(name)
    assert not unwrapped, f"DECIMAL casts not from sql_dec: {unwrapped}"
    assert not direct, f"DECIMAL cast straight to DOUBLE: {direct}"


# --- cross-engine parity over parquet that contains NaN/±inf -------------


def test_cross_engine_parity_on_nonfinite_parquet(spark, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = [1.5, 2.25, NAN, INF, -INF, None, -3.5, 0.25, NAN, 4.0]
    keys = [i % 2 for i in range(len(vals))]
    path = str(tmp_path / "m.parquet")
    pq.write_table(
        pa.table({"k": pa.array(keys, pa.int64()), "v": pa.array(vals)}),
        path,
    )
    sdf = (
        spark.read.parquet(path)
        .groupBy("k")
        .agg(dsum("v").alias("s"), davg("v").alias("a"))
    )
    got = {r.k: (r.s, r.a) for r in sdf.collect()}
    con = duckdb.connect()
    oracle = (
        f"SELECT k, {sql_dsum('v')} AS s, {sql_davg('v')} AS a "
        f"FROM '{path}' GROUP BY k"
    )
    want = {k: (s, a) for k, s, a in con.execute(oracle).fetchall()}
    assert got.keys() == want.keys()
    for k in got:
        for g, w in zip(got[k], want[k]):
            if g is None or w is None:
                assert g is None and w is None
            else:
                assert not math.isnan(g) and g == w, (k, got[k], want[k])


def test_wide_exact_sum_rounds_alike_on_both_engines(spark, duck):
    """A DECIMAL(18,6) sum of 18 significant digits: DuckDB's direct
    DECIMAL -> DOUBLE cast gives 150009782104.93002, Spark's (and
    Python's) correctly rounded one 150009782104.93. The DuckDB twins
    hop through VARCHAR, so both engines give the same double."""
    from decimal import Decimal

    rows = ["75004891052.465000", "75004891052.465001"]
    got = (
        spark.createDataFrame([(Decimal(x),) for x in rows], "x decimal(18,6)")
        .agg(dsum("x").alias("s"), davg("x").alias("a"))
        .collect()[0]
    )
    values = ", ".join(f"('{x}'::DECIMAL(18,6))" for x in rows)
    want = duck.execute(
        f"SELECT {sql_dsum('x')}, {sql_davg('x')} FROM (VALUES {values}) t(x)"
    ).fetchall()[0]
    exact = Decimal("150009782104.930001")
    assert (got.s, got.a) == want == (float(exact), float(exact) / 2)


def test_null_aggregate_rank_divergence_envelope(spark):
    """Engine envelope behind the q165 fix (nonfinite+hot_key x1
    catch, r12): a group that aggregates to NULL is ranked FIRST by
    Spark's ORDER BY x ASC but LAST by DuckDB's, so any cross-engine
    rank over a nullable aggregate diverges unless the NULL groups
    are filtered (or the ordering pins NULLS FIRST/LAST explicitly).
    Flip-detecting: if either engine changes its default NULL sort
    position, this pin fires and the q165-class guards can be
    revisited."""
    import duckdb

    sdf = spark.createDataFrame([(None,), (1.0,), (2.0,)], "r double")
    s_first = [
        r.r for r in sdf.orderBy(F.col("r").asc()).collect()
    ]
    assert s_first[0] is None, "Spark ASC default is NULLS FIRST"
    d_rows = duckdb.connect().execute(
        "SELECT r FROM (VALUES (NULL), (1.0), (2.0)) t(r) ORDER BY r ASC"
    ).fetchall()
    assert d_rows[-1][0] is None, "DuckDB ASC default is NULLS LAST"


def test_q165_all_nonfinite_customer_drops_from_gini_rank(
    spark, tmp_path
):
    """Regression pin for the q165 fix: a customer whose EVERY price
    is non-finite passes isNotNull but aggregates to r = NULL inside
    the decimal sum, re-creating the NULL rank divergence pinned
    above. The fix row-filters non-finite prices like NULLs on both
    engines; this runs the REGISTERED query + oracle pair on a
    fixture crafted to contain exactly that customer and asserts
    full cross-engine agreement (n excludes the dropped customer)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airquality_data_pipeline_spark.queries import ORACLE, QUERIES

    cust = [1, 1, 2, 2, 3, 4]
    price = [100.0, 250.5, NAN, INF, 75.25, None]  # cust 2: ALL non-finite
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array(cust, pa.int64()),
                "o_totalprice": pa.array(price, pa.float64()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    got = QUERIES["q165_revenue_concentration"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    row = got[0]
    # customers 1 and 3 survive; 2 (all non-finite) and 4 (null) drop
    assert row.n == 2
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"'{tmp_path}/orders.parquet'"
    )
    want = con.execute(ORACLE["q165_revenue_concentration"]).fetchall()
    assert len(want) == 1
    assert tuple(row) == want[0]
