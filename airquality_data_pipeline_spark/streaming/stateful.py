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


# ---------------------------------------------------------------------------
# Streaming EWMA: per-user exponential smoothing state — the numeric-
# accumulator shape of custom state (the cursor above is the watermark
# shape). State holds (last EWMA, last event position); each batch
# folds its rows in (ts, event_id) order, so replays and batch splits
# produce the SAME sequential fold a single-pass batch computation
# does — pinned bit-equal to a driver-side model in
# tests/test_stateful.py. Emits one row per (user, batch) with the
# post-batch EWMA (update-mode analytics: a live per-entity score).
# ---------------------------------------------------------------------------
EWMA_OUTPUT_SCHEMA = "user_id long, n_seen long, ewma double"
EWMA_STATE_SCHEMA = "n_seen long, ewma double"
EWMA_ALPHA = 0.5  # power of two: the fold is exact binary arithmetic


def _ewma_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_seen, ewma = state.get if state.exists else (0, None)
    for pdf in pdfs:
        ordered = pdf.sort_values(["ts", "event_id"])
        for v in ordered["value"]:
            v = float(v)
            ewma = v if ewma is None else EWMA_ALPHA * v + (1 - EWMA_ALPHA) * ewma
            n_seen += 1
    if ewma is not None:
        state.update((n_seen, ewma))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_seen": [n_seen], "ewma": [ewma]}
        )
    else:
        yield pd.DataFrame(columns=["user_id", "n_seen", "ewma"])


def ewma_stream(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA (alpha=1/2) via applyInPandasWithState."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fn,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming last-touch attribution: per-user state holds the most
# recent non-purchase event type (the "touch"); each purchase is
# credited to that touch at the moment it arrives — the streaming twin
# of the batch q197 window (queries/advanced3.py). State is one small
# string per user, revenue accumulates as exact integer cents, and the
# per-batch fold runs in (ts, event_id) order so micro-batch
# boundaries never change the credit assignment (pinned equal to the
# batch aggregate in tests/test_stateful.py). Emits one row per
# (user, channel) per batch with that batch's increments — downstream
# aggregation over the emitted rows reproduces the batch answer.
# ---------------------------------------------------------------------------
ATTR_OUTPUT_SCHEMA = (
    "user_id long, channel string, n_purchases long, revenue_cents long"
)
ATTR_STATE_SCHEMA = "touch string"


def _attribution_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (touch,) = state.get if state.exists else (None,)
    credit: dict = {}
    for pdf in pdfs:
        ordered = pdf.sort_values(["ts", "event_id"])
        for et, v in zip(ordered["event_type"], ordered["value"]):
            if et == "purchase":
                ch = touch if touch is not None else "none"
                n, cents = credit.get(ch, (0, 0))
                credit[ch] = (n + 1, cents + int(round(float(v) * 100)))
            else:
                touch = et
    state.update((touch,))
    if credit:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(credit),
                "channel": list(credit),
                "n_purchases": [n for n, _ in credit.values()],
                "revenue_cents": [c for _, c in credit.values()],
            }
        )
    else:
        yield pd.DataFrame(
            columns=["user_id", "channel", "n_purchases", "revenue_cents"]
        )


def attribution_stream(events: DataFrame) -> DataFrame:
    """Per-user streaming last-touch attribution via applyInPandasWithState."""
    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _attribution_fn,
            outputStructType=ATTR_OUTPUT_SCHEMA,
            stateStructType=ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Event-time TTL throttle: per-key rate limiting with WATERMARK-DRIVEN
# state expiry — the third state shape next to the cursor (watermark
# max) and the EWMA (numeric fold): at most one emission per key per
# TTL window, and a key's state is REMOVED by an EventTimeTimeout once
# the watermark passes its last emission + TTL (bounded state at any
# key cardinality — the production concern NoTimeout operators defer).
# Expiry is observable: the timed-out invocation emits a tombstone row
# (emitted = -1). Because the file source delivers time-ordered
# slices and expiry fires only at last_emit + TTL, removal never
# changes emission decisions — pinned in tests/test_stateful.py
# against the sequential batch fold.
# ---------------------------------------------------------------------------
THROTTLE_OUTPUT_SCHEMA = (
    "user_id long, emitted long, suppressed long, last_emit_ms long"
)
THROTTLE_STATE_SCHEMA = "last_emit_ms long"
THROTTLE_TTL_MS = 2 * 3600 * 1000


def _throttle_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "emitted": [-1],
                "suppressed": [0],
                "last_emit_ms": [0],
            }
        )
        return
    (last_emit,) = state.get if state.exists else (None,)
    emitted = suppressed = 0
    for pdf in pdfs:
        ordered = pdf.sort_values(["ts", "event_id"])
        for ts in ordered["ts"]:
            ts_ms = int(ts.value // 1_000_000)
            if last_emit is None or ts_ms >= last_emit + THROTTLE_TTL_MS:
                emitted += 1
                last_emit = ts_ms
            else:
                suppressed += 1
    if last_emit is not None:
        state.update((last_emit,))
        expire_at = last_emit + THROTTLE_TTL_MS
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(expire_at, wm + 1))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "emitted": [emitted],
            "suppressed": [suppressed],
            "last_emit_ms": [last_emit if last_emit is not None else 0],
        }
    )


def throttle_stream(events: DataFrame) -> DataFrame:
    """Per-key event-time throttle (1 emission / 2 h) with
    EventTimeTimeout state expiry. Input must carry an event-time
    watermark; the operator attaches one here."""
    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _throttle_fn,
            outputStructType=THROTTLE_OUTPUT_SCHEMA,
            stateStructType=THROTTLE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
