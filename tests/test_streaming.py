"""Streaming surface tests: each job drains the events fixture through a
real streaming query (availableNow) and is cross-checked against the
equivalent batch computation."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.queries.common import table, utc
from airquality_data_pipeline_spark.streaming import jobs


def _drain(spark, df, mode="append"):
    name = f"t_{uuid.uuid4().hex[:8]}"
    jobs.run_to_memory(df, name, output_mode=mode)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_roundtrip_matches_batch(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, stream)
    batch = table(spark, sf_dir, "events")
    assert got.count() == batch.count()


def test_watermark_dedup_bounded_by_batch_dedup(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.watermark_dedup(stream))
    batch = table(spark, sf_dir, "events").withColumn(
        "minute", F.date_trunc("minute", F.col("ts"))
    )
    exact = batch.dropDuplicates(["user_id", "event_type", "minute"]).count()
    n = got.count()
    # watermark dedup guarantees: never more than total, never fewer than
    # the exact in-state dedup (state eviction can re-admit late keys)
    assert exact <= n <= batch.count()


def test_tumbling_counts_match_batch(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.tumbling_counts(stream))
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # availableNow + watermark: all windows except possibly the last open
    # one have closed; compare the closed set against batch truth
    got_rows = {
        (r.window_start, r.event_type): r.n_events for r in got.collect()
    }
    batch_rows = {
        (r.w.start, r.event_type): r.n_events for r in batch.collect()
    }
    assert got_rows
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_session_aggregation_runs(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.session_aggregation(stream))
    rows = got.collect()
    assert rows
    assert all(r.session_end > r.session_start for r in rows)


def test_kafka_shaped_payload(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.kafka_shaped(stream)).limit(5).collect()
    import json

    for r in got:
        body = json.loads(r.value)
        assert {"event_id", "user_id", "event_type"} <= set(body)


def test_kafka_writer_config_pins_reference_producer(spark, sf_dir):
    """No connector jar/broker in this environment, so pin the exact
    production writer: every reference KafkaProducer kwarg
    (app/main.py:283-299) must map to its Spark kafka-sink option, and
    the payload schema must be the connector's required (key, value)
    string contract."""
    # plaintext (no creds): minimal option set
    plain = jobs.kafka_writer_config("airq", "b1:9092,b2:9092")
    assert plain == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "topic": "airq",
        "kafka.acks": "all",
    }

    # SASL creds present: reference upgrades PLAINTEXT -> SASL_SSL
    sasl = jobs.kafka_writer_config(
        "airq", "b1:9092", sasl_username="u", sasl_password="p",
        security_protocol="PLAINTEXT",
    )
    assert sasl["kafka.security.protocol"] == "SASL_SSL"
    assert sasl["kafka.sasl.mechanism"] == "PLAIN"
    assert (
        sasl["kafka.sasl.jaas.config"]
        == "org.apache.kafka.common.security.plain.PlainLoginModule "
        'required username="u" password="p";'
    )

    # wire contract: the kafka sink requires key/value (string|binary)
    utc(spark)
    shaped = jobs.kafka_shaped(jobs.read_events_stream(spark, sf_dir))
    assert dict(shaped.dtypes) == {"key": "string", "value": "string"}


def test_foreach_batch_commit_after_emit(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    store: dict = {}
    jobs.foreach_batch_cursor_commit(stream, store)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("m"))
    )
    truth = {(r.user_id, r.event_type): r.m for r in batch.collect()}
    assert store == truth


def test_sessionize_equals_session_window(spark, sf_dir):
    """The batch gaps-and-islands operator (q30) and Spark's native
    session_window must produce identical sessions for a constant gap."""
    from airquality_data_pipeline_spark.operators.windows import sessionize

    utc(spark)
    ev = table(spark, sf_dir, "events")
    gi = (
        sessionize(ev, key="user_id", ts_col="ts", gap_seconds=1800,
                   order_tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("last"),
             F.count(F.lit(1)).alias("n"))
    )
    sw = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"),
                F.col("w.end").alias("end"), "n")
    )
    gi_set = {(r.user_id, r.start, r.n) for r in gi.collect()}
    sw_set = {(r.user_id, r.start, r.n) for r in sw.collect()}
    assert gi_set == sw_set
    # session_window end = last event + gap
    last_by_start = {(r.user_id, r.start): r.last for r in gi.collect()}
    for r in sw.collect():
        last = last_by_start[(r.user_id, r.start)]
        assert (r.end - last).total_seconds() == 1800


def test_sliding_counts_match_batch(spark, sf_dir):
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.sliding_counts(stream))
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got_rows = {r.window_start: r.n_events for r in got.collect()}
    batch_rows = {r.w.start: r.n_events for r in batch.collect()}
    assert got_rows
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_stream_stream_interval_join(spark, sf_dir):
    """Stream-stream join (purchases x prior views, 2 h lookback, both
    sides watermarked) must produce exactly the batch join's matches
    when the whole source fits in the run (availableNow)."""
    import uuid

    from airquality_data_pipeline_spark.queries.common import table, utc

    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    jobs.run_to_memory(jobs.stream_stream_join(stream), name)
    got = spark.sql(f"SELECT * FROM {name}")

    ev = table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("buy_ts"),
    )
    expected = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND view_ts >= buy_ts - INTERVAL 2 HOURS "
            "AND view_ts <= buy_ts"
        ),
        "inner",
    )
    assert got.count() == expected.count()
    # spot-check multiset equality on a projection
    a = sorted(
        (r.purchase_id, r.view_value) for r in got.collect()
    )
    b = sorted(
        (r.purchase_id, r.view_value) for r in expected.collect()
    )
    assert a == b


def test_corpus_curation_stream_dedups_across_batches(spark, sf_dir):
    utc(spark)
    # the corpus is delivered TWICE (two staged copies, one file per
    # micro-batch): the digest-dedup state must absorb the entire second
    # delivery across the batch boundary
    stream = jobs.read_documents_stream(spark, sf_dir, copies=2)
    got = _drain(spark, jobs.corpus_curation_stream(stream))

    docs = table(spark, sf_dir, "documents")
    from airquality_data_pipeline_spark.operators.text import quality_features

    batch = quality_features(
        docs.withColumn("digest", F.md5("text")).dropDuplicates(["digest"]),
        text_col="text",
        id_col="doc_id",
    )
    assert got.count() == batch.count()
    # verdict histogram matches the batch rules exactly
    g = {r.verdict: r["count"] for r in got.groupBy("verdict").count().collect()}
    b = batch.select(
        F.when(F.col("n_tokens") < 15, F.lit("too_short"))
        .when(F.col("quality") < 0.6, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
        .alias("verdict")
    )
    assert g == {r.verdict: r["count"] for r in b.groupBy("verdict").count().collect()}


def test_minhash_sig_expr_matches_aggregate_path(spark, sf_dir):
    # the per-row signature expression must produce EXACTLY the
    # ':'-joined signature the explode+groupBy path (q67) builds
    from airquality_data_pipeline_spark.operators.dedup import (
        minhash_sig_expr,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    agg = minhash_signatures(sh, num_hashes=16)
    agg_sigs = {
        r.id: ":".join(str(r[f"mh_{i}"]) for i in range(16))
        for r in agg.collect()
    }
    row_sigs = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", minhash_sig_expr(F.col("text")).alias("sig")
        ).collect()
    }
    for doc_id, want in agg_sigs.items():
        assert row_sigs[doc_id] == want
    # docs absent from the aggregate path (< 3 tokens) carry the sentinel
    for doc_id, sig in row_sigs.items():
        if doc_id not in agg_sigs:
            assert sig == "EMPTY"


def test_neardup_suppression_stream_collapses_redelivery(spark, sf_dir):
    # the corpus delivered TWICE across micro-batches: every signature
    # must survive exactly once
    stream = jobs.read_documents_stream(spark, sf_dir, copies=2)
    got = _drain(spark, jobs.neardup_suppression_stream(stream))
    rows = got.collect()
    sigs = [r.sig for r in rows]
    assert len(sigs) == len(set(sigs))  # one row per signature
    from airquality_data_pipeline_spark.operators.dedup import minhash_sig_expr

    # batch model of the stream's state key: the EMPTY sentinel is
    # digest-qualified so unrelated short docs keep distinct keys
    # (hostile fixtures plant such docs; see the job's docstring)
    raw = minhash_sig_expr(F.col("text"))
    key = F.when(raw != "EMPTY", raw).otherwise(
        F.concat(F.lit("EMPTY:"), F.md5(F.col("text")))
    )
    batch = table(spark, sf_dir, "documents").select(key.alias("sig"))
    n_distinct = batch.distinct().count()
    assert len(sigs) == n_distinct


def test_leakage_free_split_stream_matches_batch(spark, sf_dir):
    # streaming twin of q124 (signature-identity clusters): corpus
    # delivered TWICE; the split must be a pure function of the
    # signature (no cluster straddles splits, delivery order
    # irrelevant) and agree with the batch recomputation
    from airquality_data_pipeline_spark.operators.dedup import minhash_sig_expr

    stream = jobs.read_documents_stream(spark, sf_dir, copies=2)
    got = _drain(spark, jobs.leakage_free_split_stream(stream))
    rows = got.collect()
    sigs = [r.sig for r in rows]
    assert len(sigs) == len(set(sigs))  # one survivor per cluster
    # batch model of the stream's cluster key (digest-qualified EMPTY
    # sentinel — see neardup_suppression_stream)
    raw = minhash_sig_expr(F.col("text"))
    key = F.when(raw != "EMPTY", raw).otherwise(
        F.concat(F.lit("EMPTY:"), F.md5(F.col("text")))
    )
    batch = (
        table(spark, sf_dir, "documents")
        .select(key.alias("sig"))
        .distinct()
        .select(
            "sig",
            (
                F.conv(F.substring(F.md5("sig"), 1, 8), 16, 10).cast("long")
                % 100
            ).cast("int").alias("bucket"),
        )
    )
    expected = {r.sig: r.bucket for r in batch.collect()}
    assert len(rows) == len(expected)
    for r in rows:
        b = expected[r.sig]
        assert r.bucket == b
        want = "train" if b < 80 else ("val" if b < 90 else "test")
        assert r.split == want
    # all three splits actually populated on the fixture corpus
    assert {r.split for r in rows} == {"train", "val", "test"}


def test_cms_counter_stream_matches_batch_grid(spark, sf_dir):
    # the streaming sketch's complete-mode grid must equal the batch
    # cms_build over the same corpus — and its state is bounded at
    # depth x width cells however long the stream runs
    from airquality_data_pipeline_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_build,
    )

    stream = jobs.read_documents_stream(spark, sf_dir)
    got = _drain(spark, jobs.cms_counter_stream(stream), mode="complete")
    rows = got.collect()
    assert len(rows) <= CMS_DEPTH * CMS_WIDTH
    toks = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    batch = {(r.r, r.col): r.counter for r in cms_build(toks).collect()}
    assert {(r.r, r.col): r.counter for r in rows} == batch


def test_neardup_suppression_short_docs_not_collapsed(spark, sf_dir, tmp_path):
    # docs with < 3 tokens share minhash_sig_expr's 'EMPTY' sentinel;
    # the stream must keep UNRELATED short docs (distinct texts) while
    # still collapsing re-deliveries of the SAME short doc
    import os

    staged = str(tmp_path / "short_docs")
    os.makedirs(staged)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, 3, 4], dtype="int64"),
            "text": [
                "alpha beta",
                "gamma",
                "alpha beta",  # exact dup of doc 1
                "one two three four five",  # shingleable
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": pd.array([10, 5, 10, 23], dtype="int64"),
        }
    )
    pdf.to_parquet(f"{staged}/d0.parquet")
    stream = (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    got = _drain(spark, jobs.neardup_suppression_stream(stream)).collect()
    kept = sorted(r.doc_id for r in got)
    # doc 3 (exact re-delivery of doc 1's text) collapses; 1, 2, 4 stay
    assert kept == [1, 2, 4]
    sigs = {r.doc_id: r.sig for r in got}
    assert sigs[1].startswith("EMPTY:") and sigs[2].startswith("EMPTY:")
    assert sigs[1] != sigs[2]
    assert not sigs[4].startswith("EMPTY")


def test_ohlc_stream_matches_batch(spark, sf_dir):
    """Closed streaming OHLC bars must equal the batch q155 aggregate
    bit-for-bit (open/close argmin/argmax and the decimal volume are
    all order-insensitive)."""
    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.ohlc_stream(stream))
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bar"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("ts", "event_id", "value"))
            .getField("value")
            .alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value"))
            .getField("value")
            .alias("close"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("volume"),
        )
    )
    got_rows = {
        (r.bar_start, r.event_type): (
            r.n, r.open, r.high, r.low, r.close, r.volume
        )
        for r in got.collect()
    }
    batch_rows = {
        (r.bar, r.event_type): (
            r.n, r.open, r.high, r.low, r.close, r.volume
        )
        for r in batch.collect()
    }
    assert got_rows, "no closed bars emitted"
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_anomaly_scoring_stream_matches_batch(spark, sf_dir):
    """Stream-static join: streaming anomaly set == batch anomaly set
    (the enrichment is stateless, so no window-closing caveats)."""
    utc(spark)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.hour("ts").cast("long").alias("hh"),
        "value",
    )
    from airquality_data_pipeline_spark.queries.common import dec

    base = ev.groupBy("event_type", "hh").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 6)).cast("double").alias("s"),
        F.sum(dec(F.col("value") * F.col("value"), 6))
        .cast("double")
        .alias("ss"),
    )
    stats = base.where(F.col("n") > 1).select(
        "event_type",
        "hh",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std"),
    )
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, jobs.anomaly_scoring_stream(stream, stats))
    batch_ids = {
        r.event_id
        for r in ev.join(stats, ["event_type", "hh"])
        .where(F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"))
        .collect()
    }
    got_ids = {r.event_id for r in got.collect()}
    assert got_ids == batch_ids
    if not batch_ids:
        # hostile fixtures (coarse tied value grids) can have no
        # 3-sigma outliers at all; equality above still verified
        pytest.skip("fixture yields no 3-sigma anomalies")


def test_dsir_scoring_stream_matches_batch(spark, sf_dir):
    # selection-at-ingest: the frozen batch model scored over the
    # stream must reproduce q250's per-doc scores (sequential double
    # fold vs exact decimal sum of the same 6dp weights -> ~1e-9)
    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries.llmops3 import dsir_model

    _, model = dsir_model(spark, sf_dir)
    model_rows = [(r.bucket, r.w) for r in model.collect()]
    stream = jobs.read_documents_stream(spark, sf_dir)
    got = _drain(
        spark, jobs.dsir_scoring_stream(stream, model_rows)
    ).collect()
    batch = {
        r.doc_id: (r.dsir_score, r.selected)
        for r in QUERIES["q250_dsir_selection"](spark, sf_dir).collect()
    }
    assert len(got) == len(batch)
    for r in got:
        b_score, b_sel = batch[r.doc_id]
        assert abs(r.dsir_score - b_score) < 1e-6, r.doc_id
        assert r.selected == b_sel


def test_blocklist_screen_composes_with_streaming(spark, sf_dir):
    # q265 is a stateless row-local projection, so the same expression
    # over a stream must reproduce the batch verdicts exactly
    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries.llmops3 import (
        blocklist_screen,
    )

    stream = jobs.read_documents_stream(spark, sf_dir)
    got = _drain(spark, blocklist_screen(stream)).collect()
    batch = {
        r.doc_id: (r.n_hits, r.verdict)
        for r in QUERIES["q265_blocklist_screen"](spark, sf_dir).collect()
    }
    assert len(got) == len(batch)
    for r in got:
        assert (r.n_hits, r.verdict) == batch[r.doc_id], r.doc_id


def test_stage_dir_removed_at_exit(tmp_path):
    """Staged stream dirs live while the interpreter does, then go."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from airquality_data_pipeline_spark.streaming import jobs; "
        f"print(jobs._stage_dir({str(tmp_path)!r}))"
    )
    staged = subprocess.run(
        [sys.executable, "-c", code], cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.basename(staged).startswith("events_stream_")
    assert not os.path.exists(staged)
