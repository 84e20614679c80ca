"""Cross-micro-batch state test for the applyInPandasWithState cursor
operator: two staged files -> two micro-batches; the second batch must be
filtered by cursors advanced in the first."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.streaming.stateful import cursor_filter_stream
from tests.conftest import run_to_memory


def _stage_two_batches(spark, sf_dir) -> str:
    """Split events by time into two parquet files in a temp dir.
    File order = lexicographic = batch order under maxFilesPerTrigger=1."""
    out = tempfile.mkdtemp(prefix="stateful_src_")
    ev = table(spark, sf_dir, "events")
    cut = "2024-01-15 00:00:00"
    first = ev.where(F.col("ts") < F.lit(cut).cast("timestamp"))
    second = ev.where(F.col("ts") >= F.lit(cut).cast("timestamp"))
    for i, df in enumerate((first, second)):
        tmp = f"{out}/_stage_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(f"{tmp}/{part}", f"{out}/batch_{i}.parquet")
    return out


def test_cursor_state_across_batches(spark, sf_dir):
    src = _stage_two_batches(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"cursor_{uuid.uuid4().hex[:8]}"
    run_to_memory(cursor_filter_stream(stream), name)
    got = spark.sql(f"SELECT * FROM {name}")

    # batch semantics truth: batch1 passes wholly (no prior state);
    # batch2 rows pass iff newer than batch1's per-key max
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    b1 = ev.where(F.col("ts") < cut)
    b2 = ev.where(F.col("ts") >= cut)
    cursors = b1.groupBy("user_id", "event_type").agg(F.max("ts").alias("c"))
    b2_pass = (
        b2.join(cursors, ["user_id", "event_type"], "left")
        .where(F.col("c").isNull() | (F.col("ts") > F.col("c")))
    )
    expected = b1.count() + b2_pass.count()
    assert got.count() == expected

    # per-key max of output equals overall per-key max (cursors advanced)
    out_max = {
        (r.user_id, r.event_type): r.m
        for r in got.groupBy("user_id", "event_type").agg(F.max("ts").alias("m")).collect()
    }
    truth = {
        (r.user_id, r.event_type): r.m
        for r in ev.groupBy("user_id", "event_type").agg(F.max("ts").alias("m")).collect()
    }
    assert out_max == truth


def test_cursor_state_survives_restart(spark, sf_dir):
    """Kill/restart with a checkpoint: batch 1 processes, the query
    stops, batch 2 lands, a NEW query with the same checkpoint resumes —
    state must carry over (no reprocessing, cursors advanced)."""
    src = tempfile.mkdtemp(prefix="restart_src_")
    ckpt = tempfile.mkdtemp(prefix="restart_ckpt_")
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def stage(df, name):
        tmp = f"{src}/_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(f"{tmp}/{part}", f"{src}/{name}.parquet")

    stage(ev.where(F.col("ts") < cut), "batch_0")

    sink = tempfile.mkdtemp(prefix="restart_sink_")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            cursor_filter_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == ev.where(F.col("ts") < cut).count()

    # second run: new file, same checkpoint -> resumes, doesn't replay
    stage(ev.where(F.col("ts") >= cut), "batch_1")
    run_once()
    total = spark.read.parquet(sink).count()

    cursors = (
        ev.where(F.col("ts") < cut)
        .groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("c"))
    )
    b2_pass = (
        ev.where(F.col("ts") >= cut)
        .join(cursors, ["user_id", "event_type"], "left")
        .where(F.col("c").isNull() | (F.col("ts") > F.col("c")))
        .count()
    )
    # exactly-once file sink: batch 1 NOT replayed, batch 2 filtered by
    # the cursors recovered from the checkpointed state store
    assert total == n_first + b2_pass


def test_cursor_state_on_rocksdb(spark, sf_dir):
    """The same cursor operator on the RocksDB state store provider, the
    one a deployment with large keyed state sets: correctness must be
    identical to the default provider, and the state-operator metrics
    must prove RocksDB actually backed the state (custom rocksdb*
    metrics present) with one state row per distinct (user_id,
    event_type) key."""
    src = _stage_two_batches(spark, sf_dir)
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
    }
    saved = {k: spark.conf.get(k, None) for k in rocksdb}
    for k, v in rocksdb.items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = (
            cursor_filter_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progresses, "no state operator progress recorded"
        last_state = progresses[-1]["stateOperators"][0]
        metrics = last_state.get("customMetrics", {})
        assert any("rocksdb" in m.lower() for m in metrics), metrics

        ev = table(spark, sf_dir, "events")
        n_keys = ev.select("user_id", "event_type").distinct().count()
        assert last_state["numRowsTotal"] == n_keys

        # correctness identical to the default-provider test
        cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
        b1 = ev.where(F.col("ts") < cut)
        cursors = b1.groupBy("user_id", "event_type").agg(F.max("ts").alias("c"))
        b2_pass = (
            ev.where(F.col("ts") >= cut)
            .join(cursors, ["user_id", "event_type"], "left")
            .where(F.col("c").isNull() | (F.col("ts") > F.col("c")))
            .count()
        )
        assert spark.sql(f"SELECT * FROM {name}").count() == b1.count() + b2_pass
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
