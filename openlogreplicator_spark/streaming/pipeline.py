"""Streaming pipeline wiring: sources → transforms → sinks.

Reference mapping (SURVEY §2.1):
- S1/S4 redo readers  → file-source streams with ordered listing
- W2 Kafka sink       → writeStream.format("kafka"), key = tag columns
- W3 file sink        → writeStream.format("json") with checkpointing
- W6 discard sink     → format("noop")
- W1 confirm protocol → Structured Streaming commit log (exactly-once per
  sink epoch); resume = F9 filter on the checkpointed position
- B8 heartbeat        → per-batch progress events (StreamingQueryListener)
- W8 metrics          → df.observe() counters surfaced via listener
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA


def read_redo_json_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over JSON-lines redo-record files (the
    offline/batch reader S3/S4 made incremental: ordered listing, one
    LWN-ish chunk per file)."""
    reader = (
        spark.readStream.schema(REDO_RECORD_SCHEMA)
        .option("latestFirst", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source over the events table schema (JSON lines)."""
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def windowed_metrics(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """W8 metrics as a watermarked tumbling-window aggregation; late data
    beyond the watermark is dropped exactly like records below the
    checkpoint SCN on restart (F9)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def observed(df: DataFrame, name: str = "olr_metrics") -> DataFrame:
    """Attach engine counters (reference Metrics.h:49-140 analog):
    rows seen and DML ops out."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col("op").isin("c", "u", "d"), 1).otherwise(0)).alias(
            "dml_out"
        ),
    )


def write_json_sink(
    df: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = True
):
    """W3 file sink with exactly-once epochs via the checkpoint dir."""
    w = (
        df.writeStream.format("json")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def kafka_sink_options(
    bootstrap: str, topic: str, tag_cols: tuple[str, ...] = ()
) -> dict[str, str]:
    """W2 Kafka sink configuration. The message key is the rendered tag
    (B5) so partition routing matches the reference's key semantics.
    (No broker in this environment — wiring is exercised in unit tests by
    inspecting options; the writeStream call is identical.)"""
    return {
        "format": "kafka",
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "key.columns": ",".join(tag_cols) or "xid",
        "kafka.compression.type": "lz4",
        "kafka.max.request.size": str(950 * 1024 * 1024),  # WriterKafka.h:46 cap
    }


def kafka_foreach_batch(bootstrap: str, topic: str, batch_rows: int = 1000):
    """W2 delivery: a foreachBatch sink producing each micro-batch to
    Kafka over the wire protocol (streaming/kafka_wire.py). The produce
    runs EXECUTOR-side per partition — each task opens one producer and
    ships its rows in message sets, the distributed shape of the
    reference's single librdkafka producer (WriterKafka.cpp:123-155;
    key = tag bytes, value = rendered message). Delivery semantics are
    at-least-once under Spark's checkpoint (a failed batch replays), the
    same guarantee librdkafka acks=1 gives the reference; the acked base
    offset plays the delivery-report confirm."""

    def write(batch_df, _epoch_id) -> None:
        def send_partition(rows) -> None:
            from openlogreplicator_spark.streaming.kafka_wire import (
                KafkaWireProducer,
            )

            producer = None
            buf: list[tuple[bytes | None, bytes]] = []
            try:
                from openlogreplicator_spark.streaming.stream_network \
                    import to_bytes

                for r in rows:
                    value = to_bytes(r["value"])
                    if value is None:
                        # a null value would ship as a Kafka tombstone
                        # (a delete marker) — that's a builder bug, not
                        # a message; fail the batch loudly
                        raise ValueError(
                            "null message value reached the kafka sink"
                        )
                    buf.append((to_bytes(r["key"]), value))
                    if len(buf) >= batch_rows:
                        producer = producer or KafkaWireProducer(
                            bootstrap, topic
                        )
                        producer.send(buf)
                        buf = []
                if buf:
                    producer = producer or KafkaWireProducer(bootstrap, topic)
                    producer.send(buf)
            finally:
                if producer is not None:
                    producer.close()

        batch_df.select("key", "value").foreachPartition(send_partition)

    return write


def prepare_kafka_frame(df: DataFrame, tag_cols: tuple[str, ...]) -> DataFrame:
    """Project (key, value) for the Kafka sink: key = tag JSON (B5),
    value = event JSON."""
    key = F.to_json(F.struct(*[F.col(c) for c in tag_cols])) if tag_cols else F.col("xid")
    return df.select(
        key.cast("binary").alias("key"),
        F.to_json(F.struct(*df.columns)).cast("binary").alias("value"),
    )


class MetricsListener:
    """StreamingQueryListener-shaped collector (W8). Kept import-safe for
    environments without an active session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        # re-attach replaces (never orphans) a previous listener; detach
        # before attach was an AttributeError that masked the caller's
        # real teardown error (r12 review-pass-11)
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark: SparkSession) -> None:
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None
