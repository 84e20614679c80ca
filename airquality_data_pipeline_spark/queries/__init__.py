"""Oracle-checked query catalog.

Each module registers (spark builder, DuckDB oracle SQL) pairs into the
shared registry. Importing this package populates it.

Registration order is deliberate: the external driver checks a ~50-entry
prefix of the catalog each round, so _PRIORITY puts the queries that
most need a fresh CORRECTNESS row first. The order is GENERATED from the
committed evidence ledger by tools/gen_priority.py (that module states
the policy) and pinned by a test, because a hand-kept list drifts from
the evidence it is meant to follow. All 263 queries are locally
parity-green at sf0.001/0.01/0.1 under the hostile replica
(tests/test_oracle_parity.py); the order only decides which local
evidence becomes a driver CORRECTNESS row first.
"""

from __future__ import annotations

from airquality_data_pipeline_spark.queries.registry import ORACLE, QUERIES

# populate the registry
from airquality_data_pipeline_spark.queries import relational  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import relational2  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import relational3  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import advanced  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import pipeline  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import dedup  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import similarity  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import text  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import llmops  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import multimodal  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import advanced2  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import advanced3  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import advanced4  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import llmops2  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import tpch2  # noqa: E402,F401
from airquality_data_pipeline_spark.queries import llmops3  # noqa: E402,F401

# Driver-window order: GENERATED from the CORRECTNESS ledger by
# tools/gen_priority.py (never hand-edit _priority.py; see that
# module for the policy and tests/test_operators.py for the pin).
from airquality_data_pipeline_spark.queries._priority import (  # noqa: E402
    PRIORITY as _PRIORITY,
)


def _reorder() -> None:
    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:
        raise ValueError(
            f"priority list references unknown queries: {missing}"
        )
    rest = [n for n in QUERIES if n not in set(_PRIORITY)]
    for mapping in (QUERIES, ORACLE):
        ordered = {
            n: mapping[n] for n in (*_PRIORITY, *rest) if n in mapping
        }
        mapping.clear()
        mapping.update(ordered)


_reorder()

__all__ = ["QUERIES", "ORACLE"]
