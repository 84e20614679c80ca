"""String normalization functions (SURVEY.md §2.6 C5/C10, §2.2 F2-F4),
and the two text conventions every engine must spell alike: the md5
integer hash and the whitespace tokenizer. Each has a Column form for
the Spark operators and a `*_sql` twin for the DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# pollutant allowlist, reference app/main.py:1051
POLLUTANTS = ("pm10", "pm25", "no2", "nox", "no", "o3", "co", "so2")


def normalize_pollutant(col: Column | str) -> Column:
    """lower/trim + pm2.5 / pm2,5 -> pm25 (reference app/main.py:1045-1050)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"pm2[.,]5", "pm25")


def is_automatic_station(station_type: Column | str) -> Column:
    """F2: PL automatic-station predicate (app/main.py:592-595)."""
    c = F.col(station_type) if isinstance(station_type, str) else station_type
    return F.lower(c).contains("automat")


def country_from_station(station_id: Column | str) -> Column:
    """C10: 2-char country prefix (app/main.py:326)."""
    c = F.col(station_id) if isinstance(station_id, str) else station_id
    return F.substring(c, 1, 2)


def coerce_coord(col: Column | str) -> Column:
    """P2: string->double with null-on-failure (app/main.py:395-399);
    try_cast matches the reference under ANSI mode."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def _md5_digits(col: Column, start: int, width: int) -> Column:
    return F.conv(F.substring(F.md5(col), start, width), 16, 10)


def md5_int(col: Column | str, start: int, width: int) -> Column:
    """Hex digits start..start+width-1 (1-based) of md5(col) as a
    non-negative long: the engine-portable integer hash (width <= 15
    keeps it inside a signed 64-bit value)."""
    c = F.col(col) if isinstance(col, str) else col
    return _md5_digits(c, start, width).cast("long")


def md5_int_sql(expr: str, start: int | str, width: int) -> str:
    """DuckDB twin of md5_int over the SQL expression `expr`; `start` may
    be a column name."""
    return f"('0x' || substr(md5({expr}), {start}, {width}))::BIGINT"


def md5_unit(col: Column) -> Column:
    """Deterministic pseudo-uniform in [0, 1): the first 32 md5 bits of
    col, scaled by 2^-32. The engine-portable stand-in for rand()
    wherever the result must be reproducible cross-engine; the SQL twin
    is md5_int_sql(expr, 1, 8) / 4294967296.0."""
    return _md5_digits(col, 1, 8).cast("double") / F.lit(4294967296.0)


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of lower(trim(text)). An empty text gives one
    empty token, on both engines."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def tokens_sql(expr: str) -> str:
    """DuckDB twin of tokens over the SQL expression `expr`."""
    return f"string_split_regex(lower(trim({expr})), '\\s+')"
