"""Custom stateful streaming operator: per-key high-watermark cursor
filtering via applyInPandasWithState.

This is the exact streaming twin of the reference's cursor machinery
(app/main.py:209-277): state holds last_observed_at per
(user_id, event_type); each micro-batch emits only rows strictly newer
than the stored cursor, then advances it (GREATEST semantics — replays
never move it backwards). Unlike dropDuplicatesWithinWatermark, the
cursor never expires: state is one timestamp per key, mirroring the
reference's unbounded Postgres cursor table.

Arrow-batched per group; state stays in the engine's state store and
survives restarts via checkpointing.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle as _cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# _cursor_filter_fn is module-level and runs on Python workers: pickle
# it by value so executors need not import this package (the external
# driver's process may not have the repo on its path — see
# operators/multimodal.py for the full rationale).
_cloudpickle.register_pickle_by_value(sys.modules[__name__])

OUTPUT_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)
STATE_SCHEMA = "last_us long"


def _cursor_filter_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_us = state.get[0] if state.exists else None
    out = []
    max_us = last_us
    for pdf in pdfs:
        ts_us = pdf["ts"].astype("int64") // 1000  # ns -> us
        keep = pdf if last_us is None else pdf[ts_us > last_us]
        if len(keep):
            out.append(keep[["event_id", "user_id", "event_type", "ts", "value"]])
            batch_max = int(ts_us.max())
            max_us = batch_max if max_us is None or batch_max > max_us else max_us
    if max_us is not None:
        state.update((max_us,))  # GREATEST merge: only ever advances
    yield from out or [
        pd.DataFrame(columns=["event_id", "user_id", "event_type", "ts", "value"])
    ]


def cursor_filter_stream(events: DataFrame) -> DataFrame:
    """events stream -> rows newer than each (user_id, event_type)
    cursor, state advancing per micro-batch."""
    return (
        events.select("event_id", "user_id", "event_type", "ts", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _cursor_filter_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
