"""Streaming surface on hostile fixtures (r10): the DuckDB oracle
cannot referee streaming queries, so the robustness axes are driven
through real availableNow streaming runs against batch twins instead.

Two findings pinned here:

1. PRE-1970 EVENT TIME IS A WATERMARK ENVELOPE: Spark's WatermarkTracker
   initializes the global watermark to epoch 0, so every pre-1970
   event-time row is "late" from the FIRST micro-batch and silently
   dropped by any watermarked operator (windowed aggregation,
   dropDuplicatesWithinWatermark).  The batch plans handle 1965 data
   exactly (the ancient_ts sweep is ALL MATCH); the streaming twins
   emit ZERO rows.  A pipeline ingesting historical archives must
   process them in batch mode or shift event time — documented here so
   the silent-drop behavior is a pinned fact, not a surprise.  If a
   Spark release ever starts the watermark at -infinity these
   assertions flip and the envelope note must be revisited.

2. NULL-text documents are excluded at the source by both document
   streams (corpus_curation_stream, neardup_suppression_stream) — the
   r10 null_text convention: without the filter every NULL text
   collapses onto one NULL digest/signature state row and the curation
   stream emits a spurious 'kept' row with NULL features.
"""
from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.queries.common import table, utc
from airquality_data_pipeline_spark.streaming import jobs
from tests.robustness.gen_alt_fixture import generate


def _assert_counts_exact_sums_close(got_rows, batch_rows):
    """n_events must be exact; sum_value compared with a tiny relative
    tolerance — Spark does not guarantee the same double-sum fold order
    between a streaming plan and its batch twin, so bit-exact equality
    is a latent flake (r11 ADVICE)."""
    assert set(got_rows) == set(batch_rows)
    for k, (n_got, s_got) in got_rows.items():
        n_batch, s_batch = batch_rows[k]
        assert n_got == n_batch, k
        if s_got is None or s_batch is None:
            assert s_got == s_batch, k
        else:
            assert s_got == pytest.approx(s_batch, rel=1e-9, abs=1e-9), k


def _drain(spark, df, mode="append"):
    name = f"t_{uuid.uuid4().hex[:8]}"
    jobs.run_to_memory(df, name, output_mode=mode)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture(scope="module")
def ancient_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ancient_stream"))
    generate(out, seed=13, scale=1.0, axis="ancient_ts")
    return out


@pytest.fixture(scope="module")
def null_text_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nulltext_stream"))
    generate(out, seed=13, scale=1.0, axis="null_text")
    return out


def test_pre1970_watermark_envelope_tumbling(spark, ancient_dir):
    utc(spark)
    got = _drain(spark, jobs.tumbling_counts(
        jobs.read_events_stream(spark, ancient_dir)
    ))
    batch = (
        table(spark, ancient_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # batch handles 1965 data exactly; the watermarked stream drops
    # everything as late (initial watermark = epoch 0)
    assert batch.count() > 0
    assert got.count() == 0


def test_pre1970_watermark_envelope_dedup(spark, ancient_dir):
    utc(spark)
    got = _drain(spark, jobs.watermark_dedup(
        jobs.read_events_stream(spark, ancient_dir)
    ))
    assert got.count() == 0


def test_pre1970_shifted_tumbling_matches_batch(spark, ancient_dir):
    """The supported streaming path for historical archives
    (jobs.time_shifted, r11 verdict item 6): shift event time +100 y
    past the epoch-0 watermark floor, run the watermarked job,
    unshift the emitted windows — full-value equal to the batch twin
    on the ORIGINAL 1965 data."""
    utc(spark)
    got = _drain(spark, jobs.time_shifted(
        jobs.read_events_stream(spark, ancient_dir),
        jobs.tumbling_counts,
        time_cols=["window_start", "window_end"],
        window_durations=["1 hour"],
    ))
    batch = (
        table(spark, ancient_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    got_rows = {
        (r.window_start, r.window_end, r.event_type):
        (r.n_events, r.sum_value)
        for r in got.collect()
    }
    batch_rows = {
        (r.w.start, r.w.end, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    # append mode emits a window only once the watermark (max event
    # time - 30 min delay) passes its END — the trailing window stays
    # open on both the shifted and any contemporary stream; shift-
    # invariant semantics, not a shift artifact.
    import datetime

    max_ts = table(spark, ancient_dir, "events").agg(
        F.max("ts")
    ).collect()[0][0]
    wm = max_ts - datetime.timedelta(minutes=30)
    closed = {k: v for k, v in batch_rows.items() if k[1] <= wm}
    _assert_counts_exact_sums_close(got_rows, closed)
    assert got_rows  # non-vacuous
    # emitted windows really are pre-1970 after the unshift
    assert all(k[0].year < 1970 for k in got_rows)


def test_pre1970_shifted_dedup_matches_batch(spark, ancient_dir):
    utc(spark)
    got = _drain(spark, jobs.time_shifted(
        jobs.read_events_stream(spark, ancient_dir),
        jobs.watermark_dedup,
        time_cols=["ts", "minute"],
        window_durations=["minute"],
    ))
    batch_keys = (
        table(spark, ancient_dir, "events")
        .select(
            "user_id", "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .distinct()
    )
    assert got.count() == batch_keys.count() > 0
    years = [r.ts.year for r in got.select("ts").collect()]
    assert all(y < 1970 for y in years)


def test_curation_stream_excludes_null_text(spark, null_text_dir):
    utc(spark)
    from airquality_data_pipeline_spark.operators.text import (
        quality_features,
    )

    got = _drain(spark, jobs.corpus_curation_stream(
        jobs.read_documents_stream(spark, null_text_dir, copies=2)
    ))
    docs = table(spark, null_text_dir, "documents")
    assert docs.where(F.col("text").isNull()).count() > 0  # axis shape
    batch = quality_features(
        docs.where(F.col("text").isNotNull())
        .withColumn("digest", F.md5("text"))
        .dropDuplicates(["digest"]),
        text_col="text",
        id_col="doc_id",
    )
    assert got.count() == batch.count()
    assert got.where(F.col("n_tokens").isNull()).count() == 0


def test_neardup_stream_excludes_null_text(spark, null_text_dir):
    utc(spark)
    from airquality_data_pipeline_spark.operators.dedup import (
        minhash_sig_expr,
    )

    got = _drain(spark, jobs.neardup_suppression_stream(
        jobs.read_documents_stream(spark, null_text_dir, copies=2)
    ))
    sigs = [r.sig for r in got.collect()]
    assert None not in sigs
    assert len(sigs) == len(set(sigs))
    raw = minhash_sig_expr(F.col("text"))
    key = F.when(raw != "EMPTY", raw).otherwise(
        F.concat(F.lit("EMPTY:"), F.md5(F.col("text")))
    )
    n_distinct = (
        table(spark, null_text_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(key.alias("sig"))
        .distinct()
        .count()
    )
    assert len(sigs) == n_distinct


def test_pre1970_shifted_sessions_match_batch(spark, ancient_dir):
    """Session windows under time_shifted: gap-merge is relative (no
    epoch alignment), so the unshifted session bounds must equal the
    batch session_window twin exactly — except sessions still open at
    the final watermark (append mode), which the batch side filters
    the same way the tumbling test filters unclosed windows."""
    import datetime

    utc(spark)
    got = _drain(spark, jobs.time_shifted(
        jobs.read_events_stream(spark, ancient_dir),
        jobs.session_aggregation,
        time_cols=["session_start", "session_end"],
    ))
    batch = (
        table(spark, ancient_dir, "events")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    max_ts = table(spark, ancient_dir, "events").agg(
        F.max("ts")
    ).collect()[0][0]
    wm = max_ts - datetime.timedelta(minutes=30)
    got_rows = {
        (r.session_start, r.session_end, r.user_id):
        (r.n_events, r.sum_value)
        for r in got.collect()
    }
    batch_rows = {
        (r.w.start, r.w.end, r.user_id): (r.n_events, r.sum_value)
        for r in batch.collect()
        if r.w.end <= wm
    }
    _assert_counts_exact_sums_close(got_rows, batch_rows)
    assert got_rows
    assert all(k[0].year < 1970 for k in got_rows)


def test_post1970_streams_unaffected_by_null_mass(spark, tmp_path_factory):
    """null_mass (NULL metric values, 2024 timestamps) must flow
    through the watermarked aggregations: sum skips NULLs identically
    to batch, counts include the null-value rows."""
    utc(spark)
    d = str(tmp_path_factory.mktemp("nullmass_stream"))
    generate(d, seed=13, scale=1.0, axis="null_mass")
    got = _drain(spark, jobs.tumbling_counts(
        jobs.read_events_stream(spark, d)
    ))
    batch = (
        table(spark, d, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    got_rows = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in got.collect()
    }
    batch_rows = {
        (r.w.start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got_rows  # closed windows exist
    closed = {k: batch_rows[k] for k in got_rows}
    _assert_counts_exact_sums_close(got_rows, closed)


def test_time_shifted_misaligned_window_raises(spark, ancient_dir):
    """The alignment contract is now runtime-enforced (r11 verdict
    item 4): a 7-minute tumbling window does not divide the whole-day
    shift interval, so unshifted window bounds would be WRONG —
    time_shifted must raise, not silently emit them."""
    def seven_minute_counts(events):
        return events.withWatermark("ts", "30 minutes").groupBy(
            F.window("ts", "7 minutes").alias("w")
        ).count()

    with pytest.raises(ValueError, match="not a multiple"):
        jobs.time_shifted(
            jobs.read_events_stream(spark, ancient_dir),
            seven_minute_counts,
            time_cols=["w"],
            window_durations=["7 minutes"],
        )


def test_validate_alignment_contract():
    """Unit pins for the shared helper: day-multiple durations pass,
    non-divisors raise, bare date_trunc units parse, junk and
    non-positive counts reject."""
    jobs.validate_alignment(36525, ["1 hour", "30 minutes", "minute",
                                    "1 day", "90 seconds"])
    jobs.validate_alignment(14, ["2 weeks"])
    with pytest.raises(ValueError, match="not a multiple"):
        jobs.validate_alignment(36525, ["7 minutes"])
    with pytest.raises(ValueError, match="not a multiple"):
        # a week count that does not divide the default shift
        jobs.validate_alignment(36525, ["2 weeks"])
    with pytest.raises(ValueError, match="not a multiple"):
        jobs.validate_alignment(36525, ["1 hour", "11 seconds"])
    with pytest.raises(ValueError, match="unsupported duration unit"):
        jobs.validate_alignment(1, ["500 milliseconds"])
    with pytest.raises(ValueError, match="unparseable"):
        jobs.validate_alignment(1, ["1 hour 30 minutes"])
    # zero would divide by zero in the modulo check; a negative count
    # would pass it
    for bad in ("0 minutes", "-1 hour"):
        with pytest.raises(ValueError, match="non-positive"):
            jobs.validate_alignment(36525, [bad])
    assert jobs.duration_seconds("minute") == 60
    assert jobs.duration_seconds("2 Hours") == 7200
