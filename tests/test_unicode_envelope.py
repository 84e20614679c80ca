"""Unicode casing envelope: the four KNOWN engine-level divergences
between Spark (the JDK's full case mappings, contextual) and DuckDB
(simple 1:1 mappings) that no shared SQL expression can bridge.

`session.get_spark` turns `spark.sql.icu.caseMappings.enabled` off, so
Spark maps case with the JDK's `String.toLowerCase`/`toUpperCase`, not
ICU4J's (whose set-up makes the first `lower()` in a JVM take 1.7 s).
Both give the same text on everything here and on both fixture
vocabularies; this module checks that too.

These are why the ``unicode_text`` robustness axis deliberately keeps
special-casing code points out of its vocabulary (see
tests/robustness/gen_alt_fixture.py): a catalog query that upper/
lowercases corpus text containing them would disagree with the DuckDB
referee through no defect of its own.  Everything else probed r10 —
code-point lengths (combining marks, ZWJ emoji), the ASCII-only ``\\s``
and CJK-excluding ``\\w`` regex classes (Java regex and RE2 agree),
split/trim on exotic whitespace — matched exactly, and the full
263-query catalog is parity-green on the multi-script fixture
(unicode_text sweeps, ROADMAP r10).

This module pins BOTH engines' current behavior, so if either engine
changes (Spark collation work, DuckDB ICU-by-default) the envelope
assumption is flagged instead of silently rotting.
"""
from __future__ import annotations

import pytest

CASES = [
    # (fn, input, spark expected, duck expected)
    ("upper", "ß", "SS", "ẞ"),          # full 1->2 mapping vs simple
    ("lower", "İ", "i̇", "i"),          # dotted capital I: i+combining dot vs plain i
    ("upper", "ﬁle", "FILE", "ﬁLE"),    # ligature decomposition vs passthrough
    ("lower", "ΜΕΓΑΣ", "μεγας", "μεγασ"),  # contextual final sigma vs plain sigma
]


@pytest.mark.parametrize("fn,inp,spark_exp,duck_exp", CASES)
def test_casing_divergence_envelope(fn, inp, spark_exp, duck_exp, spark):
    import duckdb
    from pyspark.sql import functions as F

    sfn = F.upper if fn == "upper" else F.lower
    got_spark = spark.range(1).select(sfn(F.lit(inp)).alias("x")).collect()[0].x
    con = duckdb.connect()
    got_duck = con.execute(f"SELECT {fn}(?)", [inp]).fetchone()[0]
    con.close()
    assert got_spark == spark_exp, (
        f"Spark {fn}({inp!r}) changed: {got_spark!r} — revisit the "
        f"unicode_text axis exclusion list"
    )
    assert got_duck == duck_exp, (
        f"DuckDB {fn}({inp!r}) changed: {got_duck!r} — revisit the "
        f"unicode_text axis exclusion list"
    )
    assert got_spark != got_duck  # the divergence this envelope exists for


def test_agreement_floor(spark):
    """The behaviors the catalog DOES rely on must agree: code-point
    length on combining marks and ZWJ emoji, ASCII-only \\s, and
    word-class behavior on CJK."""
    import duckdb
    from pyspark.sql import functions as F

    emoji = "\U0001F468‍\U0001F469"       # man ZWJ woman: 3 cps
    comb = "café"                         # e + combining acute: 5 cps
    nbsp = "a b"
    row = spark.range(1).select(
        F.length(F.lit(emoji)).alias("e"),
        F.length(F.lit(comb)).alias("c"),
        F.size(F.expr(r"regexp_extract_all('数据abc', '\\w', 0)")).alias("w"),
        F.size(
            F.expr(
                "regexp_extract_all(concat('a', char(160), 'b'), '\\\\s', 0)"
            )
        ).alias("s"),
    ).collect()[0]
    con = duckdb.connect()
    d_e, d_c, d_w, d_s = con.execute(
        r"SELECT length(?), length(?),"
        r" len(regexp_extract_all('数据abc', '\w')),"
        r" len(regexp_extract_all('a' || chr(160) || 'b', '\s'))",
        [emoji, comb],
    ).fetchone()
    con.close()
    assert (row.e, row.c, row.w, row.s) == (d_e, d_c, d_w, d_s) == (3, 5, 3, 0)


ICU = "spark.sql.icu.caseMappings.enabled"


def test_sessions_map_case_without_icu(spark):
    assert spark.conf.get(ICU) == "false"


def test_case_mapping_same_with_and_without_icu(spark):
    from pyspark.sql import functions as F

    from airquality_data_pipeline_spark.functions.strings import tokens
    from tests.robustness.gen_alt_fixture import UWORDS, WORDS

    texts = [*UWORDS, *WORDS, *(inp for _, inp, _, _ in CASES), " ".join(UWORDS)]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    mapped = df.select("t", F.lower("t"), F.upper("t"), tokens("t"))
    before = spark.conf.get(ICU)
    try:
        spark.conf.set(ICU, "true")
        icu = mapped.collect()
        spark.conf.set(ICU, "false")
        jdk = mapped.collect()
    finally:
        spark.conf.set(ICU, before)
    assert len(icu) == len(texts)
    assert icu == jdk
