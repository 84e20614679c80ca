"""Cross-engine determinism helpers.

The driver compares Spark output against DuckDB by order-insensitive value
hash, so every value must match BIT-EXACTLY. Doubles summed in different
orders differ in the last ULP between engines; the fixes used throughout
the catalog:

  * SUM/AVG of doubles: cast each value to DECIMAL(18,s) first (same
    half-up rounding of the same IEEE double in both engines), sum exactly
    (decimal addition is associative), cast the result back to double
    (nearest-double of the same decimal => same bits).
  * Scalar arithmetic stays in double (same expression tree => same IEEE
    ops => same bits) — only the value *entering* an order-dependent
    aggregate goes through decimal.
  * Timestamps in outputs become epoch-millis bigints
    (Spark unix_millis == DuckDB epoch_ms; both instant-based).
  * Every computed column is aliased identically on both sides.
  * Decimal sums wider than ~17 significant digits: DuckDB's
    CAST(DECIMAL AS DOUBLE) computes int_value * 10^-scale in floating
    point and is NOT correctly rounded (e.g. 150009782104.930001 ->
    ...93002), while Spark/Python round correctly. On the DuckDB side
    hop through VARCHAR (CAST(CAST(x AS VARCHAR) AS DOUBLE) is
    correctly rounded); sums below 17 digits are unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# Inferred-schema cache: without an explicit schema every
# spark.read.parquet() runs a 1-task footer-read job AT PLAN BUILD,
# which (a) makes QUERIES[name](spark, sf_dir) eager (r7 verdict:
# plan construction must run zero Spark jobs) and (b) adds a fixed
# per-query job to the bench loop. The key includes the file's
# (mtime_ns, size) so an in-place fixture regeneration — e.g. the
# events.ts TIMESTAMP(NANOS) <-> timestamp[us] flip that events_layout()
# branches on — invalidates the entry instead of silently serving a
# stale schema (r8 ADVICE); a local os.stat is not a Spark job, so
# plan build stays job-free.
_SCHEMA_CACHE: dict = {}


def _fingerprint(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Spark-written directory layout: an in-place part-file
            # rewrite may not touch the directory's own (mtime, size),
            # so fingerprint the newest contained file instead
            # (r9 ADVICE). Today's fixtures are single files; this is
            # the forward-proofing branch.
            newest = max(
                (os.stat(os.path.join(path, f)) for f in os.listdir(path)),
                key=lambda s: s.st_mtime_ns,
                default=st,
            )
            return (newest.st_mtime_ns, newest.st_size)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        # missing/unstatable path: let spark.read raise the real error
        return (0, 0)


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name, _fingerprint(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        # evict superseded fingerprints for the same table so repeated
        # fixture regens can't grow the cache unboundedly (r9 ADVICE)
        for stale in [
            k for k in _SCHEMA_CACHE if k[0] == sf_dir and k[1] == name
        ]:
            del _SCHEMA_CACHE[stale]
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def events_layout(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """The events fixture as stored, and the column that reads its `ts`
    as a session timestamp — the one place that decides the layout, for
    the batch `table()` and the file-source stream alike.

    events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark
    4 rejects unless read as raw int64 via nanosAsLong) and plain
    timestamp[us]. Branch on what the fixture actually holds:
      * bigint  -> nanos-as-long fixture: floor-convert to a micros
        instant (matches DuckDB's nanos->micros truncation).
      * timestamp / timestamp_ntz -> micros fixture: cast to
        session-local timestamp (session is pinned UTC, so the wall
        clock is preserved and matches DuckDB's naive timestamps).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _read_parquet(spark, sf_dir, "events")
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw, F.expr("timestamp_micros(ts div 1000)")
    return raw, F.col("ts").cast("timestamp")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        raw, ts = events_layout(spark, sf_dir)
        return raw.withColumn("ts", ts)
    return _read_parquet(spark, sf_dir, name)


def utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


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

    SQL twin: sql_finite(); oracle SQL gets the wrap mechanically via
    registry-time rewriting (nonfinite_null_sql)."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast("double")
    return F.when(
        F.isnan(d) | (F.abs(d) == F.lit(_INF)), F.lit(None)
    ).otherwise(c)


def sql_finite(expr: str) -> str:
    """DuckDB twin of finite(): CASE-NULL on non-finite. isfinite(NULL)
    is NULL, so NULL input falls through to NULL output like Spark's
    when/otherwise. The spelling is the marker nonfinite_null_sql()
    uses to stay idempotent — keep them in sync."""
    return (
        f"CASE WHEN isfinite(CAST(({expr}) AS DOUBLE)) "
        f"THEN ({expr}) END"
    )


def dec(col: Column | str, scale: int = 6) -> Column:
    """Per-value decimal quantization before an order-dependent
    aggregate. Non-finite input yields NULL (Spark's native
    double->DECIMAL cast semantics, even under ANSI — pinned in
    tests/test_nonfinite.py), matching the finite()/sql_finite()
    convention without a per-row probe in the hottest path."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


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
    10^scale at the end (one shared float op; VARCHAR-hop the decimal
    sum on the DuckDB side per the >17-digit rule).

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
    exact (cast the SUM through VARCHAR before any double use)."""
    return f"CAST(floor(({expr}) * {10**scale}.0 + 0.5) AS HUGEINT)"


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


def dsum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent double SUM (exact decimal accumulation)."""
    return F.sum(dec(col, scale)).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent double AVG: decimal sum -> double, / count.

    The denominator counts the DECIMAL-cast value, not the raw column:
    non-finite input becomes NULL under the grid convention (finite()),
    and an average whose sum skips NaN but whose count includes it
    would be a silent lie. All-non-finite groups yield NULL/0 -> NULL
    identically on both engines (probed: no ANSI divide error — the
    NULL numerator short-circuits)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(dec(c, scale)).cast("double") / F.count(dec(c, scale))
    ).alias(alias)


# SQL-side twins (DuckDB): keep these in sync with the column helpers
# above. The DECIMAL casts rendered here are finite-wrapped MECHANICALLY
# at registration (registry.py applies nonfinite_null_sql to every
# oracle), so these stay readable and cannot drift from the convention.
def sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, scale: int = 6) -> str:
    # COUNT of the DECIMAL-cast value: finite-consistent with the sum
    # (see davg) once registration wraps both casts.
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT(CAST({expr} AS DECIMAL(18,{scale}))) AS {alias}"
    )


_FINITE_MARK = "CASE WHEN ISFINITE("


def _already_finite(expr: str) -> bool:
    return expr.lstrip().upper().startswith(_FINITE_MARK)


def _scan_cast_span(sql: str, start: int) -> int:
    """Index just past the ')' closing the '(' at sql[start], skipping
    single-quoted strings ('' = escaped quote) and -- comments."""
    depth = 0
    i = start
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parens in SQL cast at {start}: {sql[start:start+80]!r}")


def _top_level_as(content: str) -> int:
    """Offset of the last top-level ' AS ' keyword in a CAST body."""
    depth = 0
    i = 0
    n = len(content)
    last = -1
    while i < n:
        ch = content[i]
        if ch == "'":
            i += 1
            while i < n and content[i] != "'":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and content[i : i + 2].upper() == "AS"
            and (i == 0 or not (content[i - 1].isalnum() or content[i - 1] == "_"))
            and (
                i + 2 >= n
                or not (content[i + 2].isalnum() or content[i + 2] == "_")
            )
        ):
            last = i
        i += 1
    return last


def nonfinite_null_sql(sql: str) -> str:
    """Mechanically enforce the non-finite-as-NULL grid convention on
    oracle SQL: every ``CAST(<e> AS DECIMAL...)`` becomes
    ``CAST(<sql_finite(e)> AS DECIMAL...)`` and every floor-grid
    ``CAST(floor(<e>) AS HUGEINT)`` wraps floor's argument — DuckDB
    RAISES on casting NaN/±inf to DECIMAL/HUGEINT where Spark's twin
    paths yield NULL under the same convention (finite()/dec()/decq()).

    Applied ONCE, centrally, at registration (registry.register), so
    the ~150 hand-written decimal-cast oracle sites cannot drift from
    the convention and future queries inherit it for free — the same
    one-place principle as sql_floor_ms (r10 ADVICE). Idempotent:
    already-wrapped expressions (the sql_finite spelling) are left
    alone, pinned by tools/audit_nonfinite.py and
    tests/test_nonfinite.py."""
    out = []
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if ch == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            out.append(sql[i:j])
            i = j
            continue
        if (
            sql[i : i + 4].upper() == "CAST"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
        ):
            j = i + 4
            while j < n and sql[j].isspace():
                j += 1
            if j < n and sql[j] == "(":
                end = _scan_cast_span(sql, j)
                content = sql[j + 1 : end - 1]
                as_pos = _top_level_as(content)
                if as_pos >= 0:
                    expr = nonfinite_null_sql(content[:as_pos].rstrip())
                    target = content[as_pos + 2 :].strip()
                    tgt_u = target.upper()
                    if tgt_u.startswith("DECIMAL") and not _already_finite(expr):
                        expr = sql_finite(expr)
                    elif tgt_u.startswith("HUGEINT"):
                        es = expr.strip()
                        if es[:6].lower() == "floor(" and _scan_cast_span(
                            es, 5
                        ) == len(es):
                            arg = es[6:-1]
                            if not _already_finite(arg):
                                expr = f"floor({sql_finite(arg)})"
                    out.append(f"CAST({expr} AS {target})")
                    i = end
                    continue
        out.append(ch)
        i += 1
    return "".join(out)


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
    session pinned to UTC the cast preserves the wall clock, matching
    DuckDB's epoch_ms over its naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp")).alias(alias)
