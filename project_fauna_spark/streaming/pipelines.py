"""Streaming pipeline builders: file-replay and rate sources, windowed
aggregations with watermarks, availableNow execution helper.

Unbounded-scale notes:

* ``withWatermark`` bounds state: windows older than (max event time −
  delay) are finalized and evicted — without it, windowed state grows
  forever.  The delay is the late-data SLA.
* File-replay (``maxFilesPerTrigger`` / availableNow) is the standard
  backfill path: identical code serves the historical batch and the
  live stream — the lambda-architecture collapse Spark is built for.
* Output modes: windowed aggs with watermark support "append" (emit
  once, on finalization) — what a downstream exactly-once sink wants;
  "update"/"complete" serve dashboards.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from project_fauna_spark.io import repair_ts
from project_fauna_spark.session import configure_session

# events.parquet schema, declared (streaming readers require a schema —
# no inference on unbounded input).  The ts encoding varies by
# testdata generation — TIMESTAMP(NANOS) (read as int64 under
# nanosAsLong) or naive TIMESTAMP(MICROS) (read as NTZ) — so the
# stream schema is chosen by probing how the batch reader resolves
# the file (one driver-side footer read); io.repair_ts then maps either
# encoding to a session-UTC timestamp, as io.load_table does.
def _events_stream_schema(ts_type: "T.DataType") -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a file stream (schema-declared)."""
    import os

    configure_session(spark)
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(_events_stream_schema(probe.schema["ts"].dataType))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # dir has all 10 tables
        .load(sf_dir)
    )
    return repair_ts(raw, "ts")


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source → synthetic events (for liveness smoke)."""
    configure_session(spark)
    raw = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type (append-able)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Watermarked session windows per user (streaming session state)."""
    return (
        events.withWatermark("ts", "24 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def run_available_now(stream_df: DataFrame, timeout_s: int = 120) -> DataFrame:
    """Run a streaming DataFrame to completion over available input.

    availableNow processes the whole backlog in bounded triggers then
    stops — the batch-parity execution mode.  Results land in a memory
    sink; returns the result as a (batch) DataFrame.
    """
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.table(name)


def stream_to_batch_sink(
    stream_df: DataFrame,
    sink_batch,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """foreachBatch bridge: apply any BATCH sink to each micro-batch.

    The standard way to reuse batch-only writers (JDBC, HTTP POST,
    multi-table fan-out) from a stream; the (df, batch_id) contract
    plus the checkpoint gives at-least-once delivery — idempotent
    sinks upgrade that to effectively-exactly-once.  Runs availableNow
    to completion.
    """
    q = (
        stream_df.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()
    return q


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: same key, right event within
    [left_ts - within, left_ts].

    Both sides carry watermarks so the join state is bounded: a
    buffered left row can be dropped once no right row within the
    interval can still arrive (and vice versa).  Unbounded stream-
    stream joins without watermarks + time bounds grow state forever —
    this shape is the production-safe one.
    """
    l = left.withWatermark(left_ts, within)
    r = right.withWatermark(right_ts, within)
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l.alias("l").join(
        r.alias("r"),
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt >= lt - F.expr(f"INTERVAL {within}"))
        & (rt <= lt),
        "inner",
    )


def dedup_stream(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Streaming dedup with bounded state: drop repeats of the same
    (user_id, event_type) while their first occurrence is still inside
    the watermark delay.

    ``dropDuplicatesWithinWatermark`` is the production shape for
    at-least-once sources (Kafka redeliveries): unlike plain
    ``dropDuplicates`` on a stream, its per-key state is EVICTED once
    the watermark passes, so state size tracks the delay window, not
    the key cardinality of the whole stream — the difference between
    bounded and unbounded state at 100 TB/day ingest.
    """
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
