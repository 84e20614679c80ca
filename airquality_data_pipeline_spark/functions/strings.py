"""String normalization functions (SURVEY.md §2.6 C5/C10, §2.2 F2-F4)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# pollutant allowlist, reference app/main.py:1051
POLLUTANTS = ("pm10", "pm25", "no2", "nox", "no", "o3", "co", "so2")


def normalize_pollutant(col: Column | str) -> Column:
    """lower/trim + pm2.5 / pm2,5 -> pm25 (reference app/main.py:1045-1050)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"pm2[.,]5", "pm25")


def is_allowed_pollutant(col: Column | str) -> Column:
    """F4: normalized code in the allowlist (app/main.py:1051-1056)."""
    return normalize_pollutant(col).isin(*POLLUTANTS)


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
