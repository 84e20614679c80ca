"""Timezone normalization (SURVEY.md §2.6 C2): naive source-local wall
time -> UTC for the Berlin/Warsaw sources (reference app/main.py:184-206,
755-758, 1133-1136)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SOURCE_TZ = {
    "de": "Europe/Berlin",
    "gios": "Europe/Warsaw",
}


def local_to_utc(col: Column | str, source: str) -> Column:
    """Interpret a naive timestamp as source-local wall time and convert
    to UTC; unknown sources fall back to UTC unchanged (reference
    app/main.py:197-205)."""
    c = F.col(col) if isinstance(col, str) else col
    tz = SOURCE_TZ.get(source)
    return F.to_utc_timestamp(c, tz) if tz else c
