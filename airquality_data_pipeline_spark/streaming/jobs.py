"""Streaming jobs mirroring the reference's continuous producer
(SURVEY.md §2.8, §3.1) on Structured Streaming:

  trigger           reference sleep(300) loop  -> processingTime='300 seconds'
                    (tests use availableNow=True for bounded runs)
  cursor dedup      per-key high-watermark     -> withWatermark +
                    (app/main.py:209-237)         dropDuplicatesWithinWatermark
  late data         per-key cursors, no global -> explicit watermark delay
  windows           none in reference          -> 1-hour tumbling aggregation
  delivery          at-least-once Kafka,       -> checkpointed sinks; cursor
                    commit-after-emit             state commits post-sink

The events fixture streams through the file source (maxFilesPerTrigger
simulates micro-batches); a Kafka deployment swaps format('parquet') for
format('kafka') with the same downstream plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import events_layout

# events with ts stored as a timestamp, one of the two layouts
# io.events_layout accepts
EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, with the stored
    schema and `ts` conversion of `io.events_layout` (the schema comes
    from its cached read, so no footer job runs here). The file source
    wants a directory, so it lists `sf_dir` and keeps only the events
    file."""
    raw, ts = events_layout(spark, sf_dir)
    return (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", ts)
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


def kafka_writer_config(
    topic: str,
    bootstrap_servers: str,
    sasl_username: str | None = None,
    sasl_password: str | None = None,
    security_protocol: str = "SASL_SSL",
    sasl_mechanism: str = "PLAIN",
) -> dict[str, str]:
    """K1: the EXACT format('kafka') writer options a deployment sets —
    the Spark Kafka sink translation of the reference's kafka-python
    producer (app/main.py:280-304):

      reference KafkaProducer kwarg      -> Spark writer option
      bootstrap_servers (comma list)     -> kafka.bootstrap.servers
      security_protocol ('SASL_SSL')     -> kafka.security.protocol
      sasl_mechanism ('PLAIN')           -> kafka.sasl.mechanism
      sasl_plain_username/password       -> kafka.sasl.jaas.config
      value_serializer=json.dumps        -> kafka_payload() value column
      per-record future.get(timeout=10)  -> kafka.acks=all + task commit
                                            (app/main.py:1174-1180; Spark
                                            flushes and waits at task
                                            commit = same at-least-once)

    The payload schema contract is plans.pipeline.kafka_payload(): key
    string (station_id), value string (JSON body). Executing this sink
    needs the spark-sql-kafka-0-10 connector jar + a broker, neither
    present in this environment — the options and wire format are
    pinned by tests/test_streaming.py so a deployment only adds the jar:

      kafka_payload(result.payload).write.format("kafka")
        .options(**kafka_writer_config(...)).save()
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
