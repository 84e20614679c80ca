"""Cross-micro-batch state test for the applyInPandasWithState cursor
operator: two staged files -> two micro-batches; the second batch must be
filtered by cursors advanced in the first."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.queries.common import table, utc
from airquality_data_pipeline_spark.streaming import jobs
from airquality_data_pipeline_spark.streaming.stateful import cursor_filter_stream


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
    utc(spark)
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
    jobs.run_to_memory(cursor_filter_stream(stream), name)
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
    utc(spark)
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
    """The same cursor operator on the RocksDB state store provider
    (jobs.rocksdb_state_conf): correctness must be identical to the
    default provider, and the state-operator metrics must prove RocksDB
    actually backed the state (custom rocksdb* metrics present) with one
    state row per distinct (user_id, event_type) key."""
    utc(spark)
    src = _stage_two_batches(spark, sf_dir)
    saved = {
        k: spark.conf.get(k, None) for k in jobs.rocksdb_state_conf()
    }
    for k, v in jobs.rocksdb_state_conf().items():
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


def test_ewma_stream_matches_sequential_model(spark, sf_dir):
    """The streaming EWMA's final per-user value must equal the exact
    sequential fold over the batch-ordered events — bit-equal, because
    both apply the same alpha=1/2 binary arithmetic in the same
    (ts, event_id) order regardless of micro-batch boundaries."""
    from airquality_data_pipeline_spark.queries.common import table, utc
    from airquality_data_pipeline_spark.streaming import jobs, stateful

    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    name = "ewma_sink"
    jobs.run_to_memory(stateful.ewma_stream(stream), name, output_mode="update")
    rows = spark.sql(
        f"SELECT user_id, n_seen, ewma FROM {name}"
    ).collect()
    # update mode re-emits per batch; keep the final (max n_seen) row
    got: dict[int, tuple[int, float]] = {}
    for r in rows:
        if r.user_id not in got or r.n_seen > got[r.user_id][0]:
            got[r.user_id] = (r.n_seen, r.ewma)

    batch = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in batch:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    for uid, evs in series.items():
        ewma = None
        for _, _, v in sorted(evs):
            v = float(v)
            ewma = v if ewma is None else 0.5 * v + 0.5 * ewma
        n, got_ewma = got[uid]
        assert n == len(evs)
        assert got_ewma == ewma, (uid, got_ewma, ewma)


def test_attribution_stream_matches_batch_q197(spark, sf_dir):
    """Summing the streamed per-batch attribution increments over all
    micro-batches must reproduce the batch q197 channel rollup exactly
    (counts integer-equal; revenue compared in exact integer cents)."""
    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries.common import utc
    from airquality_data_pipeline_spark.streaming import jobs, stateful

    utc(spark)
    stream = jobs.read_events_stream(spark, sf_dir)
    name = "attr_sink"
    jobs.run_to_memory(
        stateful.attribution_stream(stream), name, output_mode="append"
    )
    got: dict[str, tuple[int, int]] = {}
    for r in spark.sql(
        f"SELECT channel, SUM(n_purchases) AS n, SUM(revenue_cents) AS c"
        f" FROM {name} GROUP BY channel"
    ).collect():
        got[r.channel] = (r.n, r.c)

    batch = QUERIES["q197_last_touch_attribution"](spark, sf_dir).collect()
    expect = {
        r.channel: (r.n_purchases, int(round(r.revenue * 100)))
        for r in batch
    }
    assert got == expect


def test_throttle_stream_ttl_expiry_and_batch_parity(spark, sf_dir):
    """Four time-ordered micro-batches through the event-time TTL
    throttle: (a) summed emission/suppression counts equal the exact
    sequential per-key fold over the whole fixture; (b) at least one
    EventTimeTimeout tombstone fires (state expiry is exercised, not
    just configured); (c) expiry never changes emission decisions."""
    import os
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from airquality_data_pipeline_spark.queries.common import table, utc
    from airquality_data_pipeline_spark.streaming import jobs, stateful

    utc(spark)
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # stage 4 time-ordered parquet slices with increasing mtimes so the
    # file source (maxFilesPerTrigger=1) delivers them in time order
    rows = ev.orderBy("ts", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    d = tempfile.mkdtemp(prefix="throttle_stream_")
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        if not chunk:
            continue
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/slice_{i}")
        _time.sleep(0.05)
    paths = [
        f"{d}/slice_{i}" for i in range(4) if os.path.isdir(f"{d}/slice_{i}")
    ]
    flat = tempfile.mkdtemp(prefix="throttle_flat_")
    for i, p in enumerate(paths):
        part = next(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
        os.symlink(f"{p}/{part}", f"{flat}/{i:02d}.parquet")
        os.utime(f"{flat}/{i:02d}.parquet", (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(flat)
    )
    name = "throttle_sink"
    jobs.run_to_memory(
        stateful.throttle_stream(stream), name, output_mode="update"
    )
    out = spark.sql(f"SELECT * FROM {name}").collect()
    tombstones = [r for r in out if r.emitted == -1]
    assert tombstones, "EventTimeTimeout never fired"
    got: dict[int, list[int]] = {}
    for r in out:
        if r.emitted >= 0:
            g = got.setdefault(r.user_id, [0, 0])
            g[0] += r.emitted
            g[1] += r.suppressed

    # exact sequential fold over the full fixture
    series: dict[int, list] = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id))
    for uid, evs in series.items():
        last = None
        em = sup = 0
        for ts, _ in sorted(evs):
            ts_ms = int(ts.timestamp() * 1000)
            if last is None or ts_ms >= last + stateful.THROTTLE_TTL_MS:
                em += 1
                last = ts_ms
            else:
                sup += 1
        assert got[uid] == [em, sup], (uid, got[uid], (em, sup))
