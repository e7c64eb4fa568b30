"""Streaming-analog operators, batch-checkable (SURVEY.md §2b).

``window()`` / ``session_window()`` are the same Catalyst operators in
batch and Structured Streaming — these queries verify their semantics
against a DuckDB oracle in batch; :mod:`project_fauna_spark.streaming`
wires the identical aggregations into real ``readStream`` pipelines
(watermarks, availableNow replay), smoke-tested in
``tests/test_streaming.py``.

Scale design (100 TB / unbounded):

* Tumbling/sliding windows shuffle once on (window, key); sliding with
  slide=s duplicates each row len/s times *before* the shuffle —
  keep the ratio small, or aggregate tumbling-first and re-merge.
* Session windows shuffle by key then sort-merge sessions per key —
  exactly Spark's streaming state layout; skewed users are the risk,
  mitigated by AQE (batch) / state-store partitioning (streaming).
* The watermark analog computes max(ts) as a 1-row broadcast — in
  true streaming the engine tracks it incrementally per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import SQL_TS_OUT, TS_OUT
from project_fauna_spark.registry import register


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{SQL_TS_OUT}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (batch = streaming op)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_OUT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH starts AS (
      SELECT event_id, value, s
      FROM events,
           UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
                   time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS t(s)
      WHERE ts >= s AND ts < s + INTERVAL 1 HOUR
    )
    SELECT strftime(s, '{SQL_TS_OUT}') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
    FROM starts GROUP BY s
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide (2× row fanout)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_OUT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{SQL_TS_OUT}.%f') AS session_start,
           strftime(max(ts), '{SQL_TS_OUT}.%f') AS session_last,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute inactivity gap per user.

    Spark's ``session_window`` merges events whose gaps are
    < 10 min — the oracle reproduces it with the classic
    gaps-and-islands window (lag → flag → cumulative sum → group).
    Output uses min/max event time (not the gap-padded window end,
    which is a Spark-specific convention).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("min_ts", TS_OUT + ".SSSSSS").alias("session_start"),
            F.date_format("max_ts", TS_OUT + ".SSSSSS").alias("session_last"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_watermark_late_drop",
    oracle=f"""
    WITH hwm AS (SELECT max(ts) - INTERVAL 24 HOUR AS wm FROM events)
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{SQL_TS_OUT}') AS window_start,
           COUNT(*) AS n_events
    FROM events WHERE ts >= (SELECT wm FROM hwm)
    GROUP BY 1
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark analog: drop events >24h older than max event time,
    then window — batch rendering of ``withWatermark('ts','24 hours')``
    late-data semantics (the streaming twin lives in
    project_fauna_spark.streaming and is smoke-tested)."""
    e = load_table(spark, sf_dir, "events")
    wm = e.agg((F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("wm"))
    return (
        e.join(F.broadcast(wm))
        .filter(F.col("ts") >= F.col("wm"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("w.start", TS_OUT).alias("window_start"), "n_events")
    )


@register(
    "stream_dedup_suppress_repeats",
    oracle=f"""
    WITH marked AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                  THEN 1 ELSE 0 END AS new_burst
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    bursts AS (
      SELECT *,
             SUM(new_burst) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS burst_no
      FROM marked
    )
    SELECT user_id, event_type,
           strftime(MIN(ts), '{SQL_TS_OUT}') AS first_ts,
           MIN(event_id) AS kept_event_id,
           COUNT(*) - 1 AS n_suppressed
    FROM bursts GROUP BY user_id, event_type, burst_no
    """,
)
def stream_dedup_suppress_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup analog: suppress repeats of the same
    (user, event_type) arriving within 10 minutes of the previous
    occurrence — keep the first event of each burst, count the
    suppressed copies.  This is the batch rendering of
    ``dropDuplicatesWithinWatermark`` semantics (the real streaming
    twin, :func:`project_fauna_spark.streaming.pipelines.dedup_stream`,
    bounds its state by the watermark exactly as this bounds bursts by
    the gap; smoke-tested in tests/test_streaming.py).

    One shuffle on the dedup key; per-key window state is a single
    lag + running sum — the same bounded-state layout the streaming
    state store keeps.  event_id tie-break on every window (repo
    invariant: equal-ts rows fold identically in both engines).
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_burst",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 600_000_000), 1).otherwise(0),
    )
    w2 = (
        W.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bursts = marked.withColumn("burst_no", F.sum("new_burst").over(w2))
    return bursts.groupBy("user_id", "event_type", "burst_no").agg(
        F.date_format(F.min("ts"), TS_OUT).alias("first_ts"),
        F.min("event_id").alias("kept_event_id"),
        (F.count("*") - 1).alias("n_suppressed"),
    ).drop("burst_no")
