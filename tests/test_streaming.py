"""Streaming surface tests: each job drains the events fixture through a
real streaming query (availableNow) and is cross-checked against the
equivalent batch computation."""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import MEASUREMENT_SCHEMA, table
from airquality_data_pipeline_spark.plans.pipeline import kafka_payload
from airquality_data_pipeline_spark.streaming import jobs
from tests.conftest import run_to_memory


def _drain(spark, df):
    name = f"t_{uuid.uuid4().hex[:8]}"
    run_to_memory(df, name)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_roundtrip_matches_batch(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream = jobs.read_events_stream(spark, sf_dir)
    got = _drain(spark, stream)
    batch = table(spark, sf_dir, "events")
    assert got.count() == batch.count()
    # the file source reads the fixture dir itself: nothing is staged
    assert not any(tmp_path.iterdir())


def test_watermark_dedup_bounded_by_batch_dedup(spark, sf_dir):
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


def test_kafka_writer_config_pins_reference_producer(spark):
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
    shaped = kafka_payload(spark.createDataFrame([], MEASUREMENT_SCHEMA))
    assert dict(shaped.dtypes) == {"key": "string", "value": "string"}


def test_foreach_batch_commit_after_emit(spark, sf_dir):
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


def test_blocklist_screen_composes_with_streaming(spark, sf_dir, tmp_path):
    # q265 is a stateless row-local projection, so the same expression
    # over a stream must reproduce the batch verdicts exactly
    import os

    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries.llmops3 import (
        blocklist_screen,
    )

    os.symlink(f"{sf_dir}/documents.parquet", tmp_path / "documents.parquet")
    schema = table(spark, sf_dir, "documents").schema
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    got = _drain(spark, blocklist_screen(stream)).collect()
    batch = {
        r.doc_id: (r.n_hits, r.verdict)
        for r in QUERIES["q265_blocklist_screen"](spark, sf_dir).collect()
    }
    assert len(got) == len(batch)
    for r in got:
        assert (r.n_hits, r.verdict) == batch[r.doc_id], r.doc_id
