"""Cross-engine determinism helpers.

The driver compares Spark output against DuckDB by order-insensitive value
hash, so every value must match BIT-EXACTLY. Doubles summed in different
orders differ in the last ULP between engines; the fixes used throughout
the catalog:

  * SUM/AVG of doubles go through the exact sum, spelled only here:
    cast each value to DECIMAL(18,s) (same half-up rounding of the same
    IEEE double in both engines), sum exactly (decimal addition is
    associative), cast the result back to double. Spark: dsum()/davg();
    Spark SQL text: spark_sql_dsum(); DuckDB oracles: sql_dsum()/
    sql_davg(). None takes an alias, so each can sit inside a larger
    expression.
  * DuckDB's direct CAST(DECIMAL AS DOUBLE) computes int_value *
    10^-scale in floating point and is NOT correctly rounded once a sum
    passes ~17 significant digits (150009782104.930001 -> ...93002, where
    Spark and Python give ...93): oracle text writes no
    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE). Every decimal or
    HUGEINT value entering a double on the DuckDB side goes through
    sql_double(), which hops through VARCHAR (correctly rounded), and
    sql_dsum()/sql_davg() are built on it.
  * Scalar arithmetic stays in double (same expression tree => same IEEE
    ops => same bits) — only the value *entering* an order-dependent
    aggregate goes through decimal.
  * Timestamps in outputs become epoch-millis bigints
    (Spark unix_millis == DuckDB epoch_ms; both instant-based).
  * Every computed column is aliased identically on both sides.

It also owns two derivations many queries share, each a Column form
and a DuckDB twin: the hash-split bucket (split_bucket) and the epoch
day (epoch_day).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import md5_int, md5_int_sql


_INF = float("inf")


def finite(col: Column | str) -> Column:
    """NULL out non-finite doubles (NaN, ±inf) before an exact
    accumulation grid. At 100 TB NaN/inf WILL appear in metric
    columns, and the two engines' exact-decimal paths diverge on them
    (probed r11, converted r12): Spark floor(NaN*1e6+0.5)->BIGINT
    silently yields 0 and ±inf clamps to ±Long.MAX, while DuckDB's
    DECIMAL/HUGEINT casts raise. The repo convention is NON-FINITE =
    NULL at every grid entry point: aggregates skip them like NULLs,
    identically on both engines.

    Spark's own double->DECIMAL cast already returns NULL for
    non-finite input (pinned in tests/test_nonfinite.py), so dec()
    needs no wrap; this helper exists for the floor-grid path (decq)
    and for hand-built expressions feeding exact accumulations.

    The cast-to-double inside the probe is detection-only (the
    original column value is what passes through), so non-double
    inputs (DECIMAL, BIGINT) are safe: they can never probe true.

    SQL twin: sql_finite(); the oracle-side grid entries sql_dec() and
    sql_decq() apply it themselves, since DuckDB's cast raises where
    Spark's yields NULL."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast("double")
    return F.when(
        F.isnan(d) | (F.abs(d) == F.lit(_INF)), F.lit(None)
    ).otherwise(c)


def sql_finite(expr: str) -> str:
    """DuckDB twin of finite(): CASE-NULL on non-finite. isfinite(NULL)
    is NULL, so NULL input falls through to NULL output like Spark's
    when/otherwise."""
    return (
        f"CASE WHEN isfinite(CAST(({expr}) AS DOUBLE)) "
        f"THEN ({expr}) END"
    )


def dec(col: Column | str, scale: int = 6) -> Column:
    """Per-value decimal quantization before an order-dependent
    aggregate. Non-finite input yields NULL (Spark's native
    double->DECIMAL cast semantics, even under ANSI — pinned in
    tests/test_nonfinite.py), matching the finite()/sql_finite()
    convention without a per-row probe in the hottest path.

    SQL twin: sql_dec()."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def sql_dec(expr: str, scale: int = 6, precision: int = 18) -> str:
    """DuckDB twin of dec(), for every DECIMAL cast in oracle SQL:
    DuckDB RAISES casting NaN/±inf to DECIMAL, so the value passes
    sql_finite() first and non-finite input yields NULL as in Spark."""
    return f"CAST({sql_finite(expr)} AS DECIMAL({precision},{scale}))"


def decq(col: Column | str, scale: int = 6) -> Column:
    """Quantize a CONTINUOUS double to `scale` decimals on the shared
    IEEE grid: floor(x * 10^scale + 0.5) as an exact DECIMAL(38,0)
    scaled integer. Use this — not dec() — whenever the value carries
    more precision than the quantum (time divisions, float products,
    (o-e)^2/e terms, logs).

    Why: `CAST(double AS DECIMAL)` disagrees between engines when
    x*10^k sits within 1 ULP of a .5 boundary — Spark converts via
    exact BigDecimal, DuckDB via scaled-float rounding (alt-seed sweep
    seed31: q163's sx differed by 5 quanta, flipping the rounded
    intercept). floor(x*1e6 + 0.5) is the SAME three IEEE ops on both
    engines, so the grid cell is identical by construction. For
    already-exact inputs (<= scale decimals) dec() is identity and
    stays preferred (cheaper, keeps DECIMAL sums).

    SQL twin: sql_decq(). Callers divide the summed integer by
    10^scale at the end (one shared float op; sql_double() the sum on
    the DuckDB side).

    Non-finite input is NULLed first (finite()): unguarded, Spark's
    floor would silently emit 0 for NaN and clamp ±inf to ±Long.MAX
    while DuckDB's HUGEINT cast raises — the r12 non-finite
    conversion."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(finite(c) * F.lit(float(10**scale)) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )


def sql_decq(expr: str, scale: int = 6) -> str:
    """DuckDB twin of decq(): same floor(x*10^k + 0.5) grid, HUGEINT-
    exact (sql_double() the SUM before any double use). floor's
    argument passes sql_finite(), since DuckDB's HUGEINT cast raises on
    NaN/±inf."""
    return f"CAST(floor({sql_finite(f'({expr}) * {10**scale}.0 + 0.5')}) AS HUGEINT)"


def roundq(col: Column, scale: int = 6) -> Column:
    """FINAL-value quantization of a continuous double on the shared
    floor grid: floor(x*10^k + 0.5) / 10^k — the output-column twin of
    decq() (which feeds sums). Use instead of F.round whenever the
    value (a) can carry magnitude where x*10^k approaches/exceeds 2^53
    — Spark's round converts through exact BigDecimal while DuckDB
    rounds in float, so their trailing digits diverge (hot_key x10
    sweep: q220's var_y at ~1.1e10 differed in the 16th digit) — or
    (b) sits near a .5 boundary of the 10^-k grid (the decq tie
    class). Same IEEE ops on both engines by construction; also kills
    the -0.0 hazard (floor of a tiny negative + 0.5 is +0). The
    double->long->double hop through F.floor is exact: any double with
    |x| >= 2^53 is already an integer, and integers below 2^63 round-
    trip through BIGINT bit-identically.

    The magnitude guard: Spark's floor(double) returns BIGINT, which
    CLAMPS at Long.MAX once x*10^k exceeds 2^63 (observed: a 6.5e15
    variance came back as Long.MAX/10^6). Past the guard x's ULP is
    already larger than the 10^-k quantum, quantization is pure
    pass-through on both engines, and the CASE keeps the expression
    inside long-safe territory. The threshold is derived from scale —
    min(10^12, 9e18/10^scale) — so a scale >= 9 caller can't re-enter
    the clamp regime the guard exists to avoid (r9 ADVICE); at the
    default scale 6 it is exactly the historical 10^12. NULL passes
    through (when() falls to otherwise).

    OUTPUT CONTRACT (also mirrored in PLANS.md): a roundq'd column is
    quantized to `scale` decimals only while |x| < the guard
    threshold; above it the RAW double passes through on both engines.
    Consumers hashing or re-rounding these columns must not assume a
    fixed decimal grid at high magnitude.

    SQL twin: sql_roundq()."""
    k = F.lit(float(10**scale))
    return F.when(
        F.abs(col) < F.lit(_roundq_guard(scale)),
        F.floor(col * k + F.lit(0.5)).cast("double") / k,
    ).otherwise(col)


def _roundq_guard(scale: int) -> float:
    """Shared roundq/sql_roundq magnitude threshold: the historical
    10^12 pass-through point, shrunk when scale would push x*10^k past
    long-safe territory (2^63 ~ 9.22e18; 9e18 leaves the +0.5 slack)."""
    return min(1.0e12, 9.0e18 / 10**scale)


def sql_roundq(expr: str, scale: int = 6) -> str:
    """DuckDB twin of roundq(): floor stays in double there, which is
    the same value the Spark BIGINT hop produces (see roundq); the
    same scale-derived magnitude guard keeps the two engines
    piecewise-identical."""
    return (
        f"CASE WHEN abs({expr}) < {_roundq_guard(scale)!r} "
        f"THEN floor(({expr}) * {10**scale}.0 + 0.5) / {10**scale}.0 "
        f"ELSE ({expr}) END"
    )


def roundz(col: Column, scale: int = 6) -> Column:
    """F.round with the signed-zero fold: a small negative value rounds
    to -0.0 on both engines, and -0.0 and +0.0 hash apart in the
    cross-engine value comparison; adding 0.0 turns -0.0 into +0.0 and
    leaves every other value as it is. For values that are tie-free
    (sqrt-, log- or ratio-of-roots-derived) and far below 2^53/10^k;
    otherwise use roundq, whose floor grid has no -0.0 either."""
    return F.round(col, scale) + F.lit(0.0)


def sql_roundz(expr: str, scale: int = 6) -> str:
    """DuckDB twin of roundz()."""
    return f"(round({expr}, {scale}) + 0.0)"


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent double SUM (exact decimal accumulation)."""
    return F.sum(dec(col, scale)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent double AVG: decimal sum -> double, / count.

    The denominator counts the DECIMAL-cast value, not the raw column:
    non-finite input becomes NULL under the grid convention (finite()),
    and an average whose sum skips NaN but whose count includes it
    would be a silent lie. All-non-finite groups yield NULL/0 -> NULL
    identically on both engines (probed: no ANSI divide error — the
    NULL numerator short-circuits)."""
    return dsum(col) / F.count(dec(col))


def spark_sql_dsum(expr: str, scale: int = 6) -> str:
    """dsum() in Spark SQL text, for builders that run spark.sql().
    Spark's DECIMAL -> DOUBLE cast is correctly rounded, so this form
    needs no hop; never use it in oracle text (sql_dsum there)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


# SQL-side twins (DuckDB): keep these in sync with the column helpers
# above. Their DECIMAL casts go through sql_dec(), so non-finite input
# is NULL here as it is in Spark; oracle SQL runs as written.
def sql_double(expr: str) -> str:
    """A DECIMAL or HUGEINT value as the correctly rounded double:
    through VARCHAR, since DuckDB's direct cast is not (module
    docstring)."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, scale: int = 6) -> str:
    return sql_double(f"SUM({sql_dec(expr, scale)})")


def sql_davg(expr: str) -> str:
    # COUNT of the DECIMAL-cast value: finite-consistent with the sum
    # (see davg).
    return f"{sql_dsum(expr)} / COUNT({sql_dec(expr)})"


def sql_floor_ms(expr: str) -> str:
    """DuckDB twin of ts_ms()/unix_millis: epoch microseconds floored
    to millis in pure integer arithmetic. DuckDB's ``//`` truncates
    toward zero and ``%`` is C-style (sign follows the dividend), so
    subtracting 1 on a negative remainder yields floor — matching
    Spark's unix_millis exactly for pre-1970 epochs (ancient_ts axis)
    and past 2^53 µs (far_future axis), where any float-form /1000.0
    detour loses integer precision. The floor convention lives HERE;
    oracle SQL interpolates this helper instead of hand-expanding it
    (r10 ADVICE: 66 hand-expanded copies were a drift hazard)."""
    e = f"epoch_us({expr})"
    return (
        f"CAST({e} // 1000 + CASE WHEN {e} % 1000 < 0 "
        f"THEN -1 ELSE 0 END AS BIGINT)"
    )


def ts_ms(col: Column | str, alias: str) -> Column:
    """Timestamp -> epoch millis bigint (instant-based, engine-agnostic).

    Parquet ms-timestamps arrive as TIMESTAMP_NTZ in Spark 4; with the
    session pinned to UTC (by `registry.register`) the cast preserves the
    wall clock, matching DuckDB's epoch_ms over its naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp")).alias(alias)


def split_bucket(col: str) -> Column:
    """The hash-split bucket of key `col` in [0, 100): the first 8 md5
    hex digits of its string form, mod 100. Train/val/test splits
    threshold it, so every split of one key agrees across queries.

    SQL twin: sql_split_bucket()."""
    return md5_int(F.col(col).cast("string"), 1, 8) % 100


def sql_split_bucket(expr: str) -> str:
    """DuckDB twin of split_bucket()."""
    return f"{md5_int_sql(f'CAST({expr} AS VARCHAR)', 1, 8)} % 100"


def epoch_day(col: Column | str) -> Column:
    """Days from 1970-01-01 to the calendar date of a timestamp or
    date, negative before 1970 on both engines; weekly forms divide it
    by 7.

    SQL twin: sql_epoch_day()."""
    return F.datediff(F.to_date(col), F.lit("1970-01-01"))


def sql_epoch_day(expr: str) -> str:
    """DuckDB twin of epoch_day()."""
    return f"date_diff('day', DATE '1970-01-01', CAST({expr} AS DATE))"
