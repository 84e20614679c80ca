"""Streaming jobs mirroring the reference's continuous producer
(SURVEY.md §2.8, §3.1) on Structured Streaming:

  trigger           reference sleep(300) loop  -> processingTime='300 seconds'
                    (tests use availableNow=True for bounded runs)
  cursor dedup      per-key high-watermark     -> withWatermark +
                    (app/main.py:209-237)         dropDuplicatesWithinWatermark
  late data         per-key cursors, no global -> explicit watermark delay
  windows           none in reference          -> tumbling/sliding/session aggs
  delivery          at-least-once Kafka,       -> checkpointed sinks; cursor
                    commit-after-emit             state commits post-sink

The events fixture streams through the file source (maxFilesPerTrigger
simulates micro-batches); a Kafka deployment swaps format('parquet') for
format('kafka') with the same downstream plan.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the two stored layouts of events.ts that events_layout() accepts
EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

_STREAM_DIRS: dict[str, str] = {}


def _stage_dir(sf_dir: str) -> str:
    """The file source wants a directory; stage one holding a symlink to
    the single events parquet file (no copy)."""
    if sf_dir not in _STREAM_DIRS:
        d = tempfile.mkdtemp(prefix="events_stream_")
        # removed at exit, not before: a stream reads its dir while it runs
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, with the stored
    schema and `ts` conversion of `queries.common.events_layout` (the
    schema comes from its cached read, so no footer job runs here)."""
    from airquality_data_pipeline_spark.queries.common import events_layout

    raw, ts = events_layout(spark, sf_dir)
    return (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_dir(sf_dir))
        .withColumn("ts", ts)
    )


DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_documents_stream(
    spark: SparkSession, sf_dir: str, copies: int = 1
) -> DataFrame:
    """File-source stream over the documents fixture. copies > 1 stages
    the same parquet under several names so the stream delivers the
    corpus repeatedly across micro-batches (maxFilesPerTrigger=1) —
    the re-delivery scenario a streaming dedup must absorb."""
    d = tempfile.mkdtemp(prefix="docs_stream_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    for i in range(copies):
        os.symlink(f"{sf_dir}/documents.parquet", f"{d}/documents_{i}.parquet")
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def corpus_curation_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch curation pipeline (q103's stateless
    core): content-digest exact dedup ACROSS micro-batches (streaming
    dropDuplicates keeps the digest set as engine state — the corpus
    analog of the reference's cursor table, app/main.py:209-237), then
    per-row quality/length verdicts. All post-dedup stages are
    stateless projections, so the plan is identical to the batch one."""
    from airquality_data_pipeline_spark.operators.text import quality_features

    # NULL-text docs carry no content to curate (r10 null_text axis
    # convention, matching q133/q105): without the filter they all
    # collapse onto one NULL digest and emit a single spurious 'kept'
    # row with NULL features
    deduped = (
        docs.where(F.col("text").isNotNull())
        .withColumn("digest", F.md5("text"))
        .dropDuplicates(["digest"])
    )
    feats = quality_features(deduped, text_col="text", id_col="doc_id")
    verdict = (
        F.when(F.col("n_tokens") < 15, F.lit("too_short"))
        .when(F.col("quality") < 0.6, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return feats.select(
        "doc_id", "n_tokens", "quality", verdict.alias("verdict")
    )


def watermark_dedup(events: DataFrame) -> DataFrame:
    """Engine-managed replacement for the reference's cursor table: drop
    re-deliveries of the same (user, type, minute) within the 30-minute
    watermark. State is bounded by the delay — the cursor table's
    unbounded per-key growth becomes engine-evicted state (SURVEY.md §2.8)."""
    return (
        events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Append-mode 1-hour tumbling window aggregation; windows close when
    the 30-minute watermark passes their end."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Overlapping 2-hour windows sliding by 1 hour (each event lands in
    two windows); append mode closes a window when the 30-minute
    watermark passes its end — the streaming twin of batch q32."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_aggregation(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap, 30-minute watermark) —
    the streaming twin of operators.windows.sessionize."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


_DURATION_UNIT_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def duration_seconds(duration: str) -> int:
    """Parse a Spark window/slide duration ("1 hour", "30 minutes") or a
    bare date_trunc unit ("minute") to whole seconds. Sub-second units
    are rejected: no day-multiple shift can align to them anyway."""
    parts = duration.strip().lower().split()
    if len(parts) == 1:
        count, unit = 1, parts[0]
    elif len(parts) == 2:
        count, unit = int(parts[0]), parts[1]
    else:
        raise ValueError(f"unparseable duration {duration!r}")
    if unit not in _DURATION_UNIT_S:
        raise ValueError(f"unsupported duration unit in {duration!r}")
    if count <= 0:
        raise ValueError(f"non-positive duration {duration!r}")
    return count * _DURATION_UNIT_S[unit]


def validate_alignment(days: int, durations) -> None:
    """Enforce time_shifted's window-alignment contract at runtime.

    Tumbling/sliding windows and date_trunc buckets align to epoch
    multiples of their size/slide, so shift-then-unshift round-trips
    iff the shift interval (``days`` exact 86400 s days) is a multiple
    of every window size, slide, and truncation unit the wrapped job
    uses. A violation would silently emit WRONG window bounds; raising
    here turns it into an error (r11 verdict item 4).
    """
    shift_s = int(days) * 86400
    for d in durations:
        secs = duration_seconds(d)
        if shift_s % secs:
            raise ValueError(
                f"time_shifted misalignment: shift of {days} days "
                f"({shift_s} s) is not a multiple of window duration "
                f"{d!r} ({secs} s); unshifted window bounds would not "
                f"equal batch window bounds"
            )


def time_shifted(
    events: DataFrame,
    job,
    time_cols,
    window_durations=None,
) -> DataFrame:
    """Shift-ingest / unshift-emit adapter for PRE-1970 event time.

    Spark's WatermarkTracker initializes the global watermark at epoch
    0, so every pre-1970 event-time row is "late" from the first
    micro-batch and silently dropped by any watermarked operator (the
    pinned engine envelope, tests/test_streaming_hostile.py). This
    wrapper makes historical archives streamable: add a constant
    36525-day interval to ``ts`` before the job, run the watermarked
    job on post-1970 time, then subtract the same interval from every
    emitted timestamp column in ``time_cols``.

    Correctness constraints (the caller's contract):
    - The shift (~100 years) must push the whole archive past 1970,
      so it covers 1870+ (epochs are microsecond-exact under
      interval arithmetic, no calendar drift since the shift is in
      exact 86400 s days on a UTC-pinned session).
    - Window ALIGNMENT: tumbling/sliding windows align to epoch
      multiples of their size/slide, so the unshifted windows equal
      the batch windows iff 86400 s is a multiple of every window
      size/slide/dedup-truncation used by ``job`` (true for the
      repo's 1 h / 30 min / 1 min jobs; a 7-minute window would NOT
      round-trip). Pass the job's window sizes/slides/truncation
      units as ``window_durations`` (e.g. ``["1 hour", "minute"]``)
      to have the contract checked at runtime via
      ``validate_alignment`` — a misaligned call then raises instead
      of silently emitting wrong window bounds.
    - Relative semantics (watermark delay, session gaps, inter-event
      deltas) are shift-invariant, so lateness/eviction behave as if
      the archive were contemporary.
    """
    days = 36525
    if window_durations is not None:
        validate_alignment(days, window_durations)
    itv = F.expr(f"INTERVAL {days} DAYS")
    out = job(events.withColumn("ts", F.col("ts") + itv))
    for c in time_cols:
        out = out.withColumn(c, F.col(c) - itv)
    return out


def kafka_shaped(df: DataFrame) -> DataFrame:
    """K1 sink projection: key/value JSON exactly as the reference emits
    (app/main.py:285). Point .writeStream.format('kafka') at it in a
    deployment; tests use the memory sink."""
    return df.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def kafka_writer_config(
    topic: str,
    bootstrap_servers: str,
    sasl_username: str | None = None,
    sasl_password: str | None = None,
    security_protocol: str = "SASL_SSL",
    sasl_mechanism: str = "PLAIN",
) -> dict[str, str]:
    """K1: the EXACT .writeStream.format('kafka') options a deployment
    sets — the Structured Streaming translation of the reference's
    kafka-python producer (app/main.py:280-304):

      reference KafkaProducer kwarg      -> Spark writer option
      bootstrap_servers (comma list)     -> kafka.bootstrap.servers
      security_protocol ('SASL_SSL')     -> kafka.security.protocol
      sasl_mechanism ('PLAIN')           -> kafka.sasl.mechanism
      sasl_plain_username/password       -> kafka.sasl.jaas.config
      value_serializer=json.dumps        -> kafka_shaped() value column
      per-record future.get(timeout=10)  -> kafka.acks=all + task commit
                                            (app/main.py:1174-1180; Spark
                                            flushes and waits at task
                                            commit = same at-least-once)

    The payload schema contract is kafka_shaped(): key string, value
    string (JSON body). Executing this sink needs the
    spark-sql-kafka-0-10 connector jar + a broker, neither present in
    this environment — the options and wire format are pinned by
    tests/test_streaming.py so a deployment only adds the jar:

      spark.readStream... -> kafka_shaped(df).writeStream
        .format("kafka").options(**kafka_writer_config(...))
        .option("checkpointLocation", ...).start()
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        # reference waits on every record's future -> full-ack durability
        "kafka.acks": "all",
    }
    if sasl_username and sasl_password:
        # reference upgrades PLAINTEXT to SASL_SSL when creds are present
        # (app/main.py:289-291)
        if security_protocol.upper() == "PLAINTEXT":
            security_protocol = "SASL_SSL"
        opts.update(
            {
                "kafka.security.protocol": security_protocol,
                "kafka.sasl.mechanism": sasl_mechanism,
                "kafka.sasl.jaas.config": (
                    "org.apache.kafka.common.security.plain.PlainLoginModule "
                    f'required username="{sasl_username}" '
                    f'password="{sasl_password}";'
                ),
            }
        )
    return opts


def rocksdb_state_conf() -> dict[str, str]:
    """State-store config for production-scale stateful streaming.

    The default HDFSBackedStateStoreProvider keeps every key on the
    executor heap — fine for the reference's cursor cardinality
    (thousands of (station, pollutant) keys, app/main.py:52-56) but not
    for 100 TB-scale keyed state (hundreds of millions of keys). RocksDB
    spills state to local disk with bounded memory, and changelog
    checkpointing uploads per-batch deltas instead of full snapshots,
    keeping commit latency flat as state grows. Ships inside Spark —
    no extra jars."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
    }


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drain a bounded stream into an in-memory table (test/dev sink):
    availableNow processes the full source then stops — the batch-mode
    analog of one reference polling cycle."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_cursor_commit(events: DataFrame, cursor_store: dict) -> None:
    """K3 commit-after-emit ordering inside foreachBatch: the cursor
    merge runs only after the batch's sink write succeeds, exactly the
    reference's `else:` branch (app/main.py:1342-1347). cursor_store is
    any keyed store — a dict here, a JDBC/Delta MERGE in deployment."""

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        payload = batch_df.select(
            F.to_json(F.struct(*batch_df.columns)).alias("value")
        )
        payload.count()  # the "emit" action; raises on failure
        updates = (
            batch_df.groupBy("user_id", "event_type")
            .agg(F.max("ts").alias("last_observed_at"))
            .collect()
        )
        for r in updates:
            k = (r["user_id"], r["event_type"])
            prev = cursor_store.get(k)
            ts = r["last_observed_at"]
            cursor_store[k] = ts if prev is None or ts > prev else prev

    q = (
        events.writeStream.foreachBatch(commit)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views from the preceding 2 hours. Both sides carry 30-minute
    watermarks, and the time-range predicate bounds the join state: the
    engine evicts buffered views once the purchase-side watermark passes
    view_ts + 2 hours (unbounded-state stream joins are rejected by
    Spark without these two ingredients).

    The reference has no join of streams (SURVEY.md §2.3 "not present");
    this is the streaming twin of the q33/q34 as-of/range joins.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "30 minutes")
    )
    return purchases.join(
        views,
        F.expr(
            "p_user = v_user AND view_ts >= buy_ts - INTERVAL 2 hours "
            "AND view_ts <= buy_ts"
        ),
        "inner",
    ).select("purchase_id", "p_user", "buy_ts", "view_ts", "view_value")


def neardup_suppression_stream(docs: DataFrame) -> DataFrame:
    """Cross-batch NEAR-dup suppression — the streaming upgrade of
    corpus_curation_stream's exact-digest dedup: documents whose
    row-local MinHash signature (operators.dedup.minhash_sig_expr — no
    explode, no aggregate, so it composes with streaming state) matches
    an already-seen signature are dropped by engine-managed
    dropDuplicates state. Collapses byte-identical docs AND strong
    near-dups (J ~ 1: whitespace/case drift, identical shingle sets)
    delivered in ANY later micro-batch; weaker near-dups need the batch
    banding pipeline (q41/q120) over a bounded window.

    State is one row per distinct signature, unbounded like the
    reference's cursor table; bound it with
    dropDuplicatesWithinWatermark + an event-time column when the
    dedup horizon is finite.

    Docs too short to shingle (< 3 tokens) share minhash_sig_expr's
    'EMPTY' sentinel; deduping on it would silently collapse unrelated
    short docs. They can't be NEAR-deduped (no shingles to sign), but
    they can still be exact-deduped: the sentinel is qualified with the
    content digest ('EMPTY:' || md5(text)), so unrelated short docs
    keep distinct state keys while re-deliveries of the same short doc
    still collapse — one dropDuplicates covers both regimes."""
    from airquality_data_pipeline_spark.operators.dedup import (
        minhash_sig_expr,
    )

    raw = minhash_sig_expr(F.col("text"))
    sig = F.when(raw != "EMPTY", raw).otherwise(
        F.concat(F.lit("EMPTY:"), F.md5(F.col("text")))
    )
    # NULL-text docs have no signature to dedup on (their sig would be
    # NULL and state would collapse them all) — excluded at the source
    # (r10 null_text axis convention)
    return (
        docs.where(F.col("text").isNotNull())
        .withColumn("sig", sig)
        .dropDuplicates(["sig"])
        .select("doc_id", "sig", "n_chars")
    )


def dsir_scoring_stream(
    docs: DataFrame, model_rows: list[tuple[int, float]]
) -> DataFrame:
    """Streaming twin of q250's DSIR selection: score each incoming
    document against a FROZEN importance model (the batch-trained
    1024-bucket table from queries.llmops3.dsir_model, passed in as
    collected rows — bounded model state, the KMeansModel pattern).

    The model embeds as a map LITERAL and the per-doc score is a
    row-local higher-order-function fold (split -> transform ->
    aggregate), so the stream needs NO aggregation state, no
    stream-static join, and composes with any downstream stateful
    stage. This is the deploy shape for selection-at-ingest: train
    the model in batch, push it into the stream as a constant.

    Scores match q250 to ~1e-9 (sequential double fold vs the batch
    path's exact decimal sum of the same 6dp weights; pinned by
    test_dsir_scoring_stream)."""
    entries: list = []
    for bucket, w in model_rows:
        entries.append(F.lit(int(bucket)))
        entries.append(F.lit(float(w)))
    model_map = F.create_map(*entries)
    weights = F.transform(
        F.split(F.lower(F.trim("text")), r"\s+"),
        lambda t: F.element_at(
            model_map,
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % 1024,
        ),
    )
    score = F.aggregate(
        weights,
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
    )
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("dsir_score"),
        (score > 0).alias("selected"),
    )


def cms_counter_stream(docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch over document tokens — the
    bounded-state ingest path for corpus term stats: whatever the
    stream's length, aggregate state is AT MOST depth x width rows
    (4 x 256 here), because every token occurrence folds into its d
    grid cells. Complete-mode output of the grid equals the batch
    cms_build on the same corpus (pinned by test); per-batch partial
    grids merge by sum (operators.sketch.cms_merge), so the same shape
    also works as a foreachBatch accumulator against an external
    store. The depth fan-out is a row-local explode of a literal array
    (no stream-static join needed)."""
    from airquality_data_pipeline_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_position,
    )

    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    pos = toks.select(
        "tok",
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
        ).alias("r"),
    )
    return (
        pos.select("r", cms_position(F.col("tok"), F.col("r"), CMS_WIDTH).alias("col"))
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def leakage_free_split_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of q124's leakage-free train/val/test split, with
    the streaming-feasible cluster notion: signature-identity. The
    suppression stage collapses signature-identical docs (exact dups +
    J~1 near-dups) across micro-batches, then the split is bucketed on
    md5 OF THE SIGNATURE — a pure function of the cluster key — so no
    two docs of the same cluster can ever land in different splits, in
    whatever order micro-batches deliver them (the non-survivor never
    leaves the dedup state, and the survivor's split does not depend on
    which delivery won).

    Where the batch q124 differs, necessarily: q124 clusters by banded
    MinHash candidates + connected-component CLOSURE, which needs
    iterated joins over the full edge set until a fixpoint — not
    expressible in a single Structured Streaming pass (each micro-batch
    would need to re-join against all prior docs and re-converge, i.e.
    a batch job per trigger). The production composition is this stream
    for exact/strong dups in-flight plus the periodic batch q124
    re-shard for weak near-dups; this split uses the same 80/10/10
    bucket thresholds so the batch re-shard agrees with the stream
    wherever clusters coincide."""
    suppressed = neardup_suppression_stream(docs)
    bucket = (
        F.conv(F.substring(F.md5(F.col("sig")), 1, 8), 16, 10).cast("long")
        % 100
    )
    return suppressed.select(
        "doc_id",
        "sig",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def ohlc_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the q155 OHLC compaction: append-mode 1-hour
    tumbling bars with open/close as struct-argmin/argmax over (ts, event_id) —
    the same ONE-aggregate shape as the batch query, so closed windows
    carry identical values (pinned by
    tests/test_streaming.test_ohlc_stream_matches_batch). Struct
    min/max aggregates merge associatively, so partial state per
    (window, event_type) is O(1) regardless of event volume — the
    compaction keeps running at any input rate."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type",
            "n",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def anomaly_scoring_stream(
    events: DataFrame, baseline: DataFrame
) -> DataFrame:
    """STREAM-STATIC join: score each streaming event against a
    batch-computed seasonal baseline (q150's (event_type, hour)
    mean/std frame) and emit only the > 3-sigma anomalies. The static
    side is re-planned per micro-batch (so a refreshed baseline table
    is picked up on the next trigger) and broadcast — the enrichment
    adds no stream-side state at all, which is why scoring keeps up at
    any input rate. Completes the streaming join matrix next to
    stream_stream_join; pinned against the batch q150 flag set by
    tests/test_streaming.test_anomaly_scoring_stream_matches_batch."""
    b = baseline.select(
        "event_type", "hh", F.col("mean").alias("b_mean"),
        F.col("std").alias("b_std"),
    )
    scored = events.withColumn(
        "hh", F.hour("ts").cast("long")
    ).join(F.broadcast(b), ["event_type", "hh"])
    return scored.where(
        F.abs(F.col("value") - F.col("b_mean")) > 3 * F.col("b_std")
    ).select("event_id", "event_type", "hh", "value")
