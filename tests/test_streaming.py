"""Structured Streaming smoke tests: file-replay parity with batch,
and a live rate-source liveness check."""

from __future__ import annotations

import time

import pytest

from project_fauna_spark.operators.streaming_batch import stream_tumbling_window
from project_fauna_spark.streaming import (
    events_file_stream,
    rate_stream,
    run_available_now,
    tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


def test_file_stream_matches_batch(spark):
    """Replaying events as a stream must reproduce the batch windows."""
    stream = events_file_stream(spark, SF)
    assert stream.isStreaming
    got = run_available_now(tumbling_counts_stream(stream))
    batch = stream_tumbling_window(spark, SF)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_rate_stream_produces_rows(spark):
    """Rate source → windowed count stays live and emits rows."""
    agg = (
        tumbling_counts_stream(rate_stream(spark, rows_per_second=200), watermark="10 seconds")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_smoke").count()
            if n > 0:
                break
            time.sleep(2)
        assert n > 0
    finally:
        q.stop()


def test_stateful_user_profile(spark):
    """applyInPandasWithState: running per-user profile over a replay."""
    from project_fauna_spark.streaming.stateful import user_profile_stream
    from project_fauna_spark.streaming import events_file_stream
    import uuid

    stream = user_profile_stream(events_file_stream(spark, SF))
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["user_id"]: r for r in spark.table(name).collect()}
    # Cross-check counts/sums against batch.
    from project_fauna_spark.io import load_table
    from pyspark.sql import functions as F

    batch = {
        r["user_id"]: r
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(got) == set(batch)
    for uid, row in got.items():
        assert row["n_events"] == batch[uid]["n"]
        assert abs(row["total_value"] - batch[uid]["tv"]) < 1e-6


def test_foreach_batch_to_post_sink(spark, tmp_path):
    """Stream → foreachBatch → globally-indexed batch-POST sink
    end-to-end: within each micro-batch every body but the last holds
    exactly 100 records, and the bodies follow the sink's membership
    rule on event_id."""
    from project_fauna_spark.streaming import events_file_stream
    from project_fauna_spark.streaming.pipelines import stream_to_batch_sink
    from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed
    from project_fauna_spark.sources.http import FileBackedTransport, RetryPolicy
    from tests.test_http_pipeline import _membership_rule
    import json, os

    api_dir = str(tmp_path / "api")
    posts_dir = os.path.join(api_dir, "posts")
    os.makedirs(posts_dir)
    fast = RetryPolicy(retries=1, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)
    received = []

    def sink_batch(df, batch_id):
        rows = df.select("event_id", "event_type", "value")
        before = set(os.listdir(posts_dir))
        receipts = post_batches_globally_indexed(
            rows,
            lambda: FileBackedTransport(api_dir),
            order_col="event_id",
            batch_size=100,
            policy=fast,
        ).collect()
        bodies = []
        for name in set(os.listdir(posts_dir)) - before:
            with open(os.path.join(posts_dir, name)) as f:
                bodies.append([r["event_id"] for r in json.load(f)])
        sizes = sorted((len(ids) for ids in bodies), reverse=True)
        assert all(n == 100 for n in sizes[:-1]), sizes
        assert [r["n_records"] for r in sorted(receipts)][:-1] == [100] * (len(receipts) - 1)
        events = [{"event_id": r["event_id"]} for r in rows.collect()]
        expected = _membership_rule(spark, events, "event_id", 100, partitions=8)
        assert sorted(bodies) == sorted([r["event_id"] for r in b] for b in expected)
        received.append(sum(r["n_records"] for r in receipts))

    stream = events_file_stream(spark, SF)
    stream_to_batch_sink(stream, sink_batch, str(tmp_path / "ckpt"))
    assert sum(received) == 1000  # all sf0.001 events delivered
    total = 0
    for name in os.listdir(posts_dir):
        with open(os.path.join(posts_dir, name)) as f:
            batch = json.load(f)
            assert len(batch) <= 100
            total += len(batch)
    assert total == 1000


def test_watermark_drops_late_data(spark, tmp_path):
    """True streaming late-drop: a second micro-batch far behind the
    watermark is excluded from finalized windows (append mode)."""
    import shutil, uuid, time as _time
    from pyspark.sql import functions as F, types as T

    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    name = f"late_{uuid.uuid4().hex[:8]}"
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )

    def write_batch(fname, rows):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / fname))
        # move the part file into the watched dir atomically
        import glob, os
        part = glob.glob(str(tmp_path / fname / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{fname}.parquet"))

    from datetime import datetime

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    late = datetime(2024, 1, 1, 6, 0, 0)  # 4h behind
    write_batch("b1", [(t0, 1), (datetime(2024, 1, 1, 12, 0, 0), 2)])

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            q.processAllAvailable()
            if spark.table(name).count() >= 1:
                break
            _time.sleep(1)
        # batch 2: one late row (behind watermark=12:00-1h) + one fresh row
        write_batch("b2", [(late, 3), (datetime(2024, 1, 1, 14, 0, 0), 4)])
        q.processAllAvailable()
        rows = {r["ws"]: r["n"] for r in spark.table(name).collect()}
        # the 10:00 window was finalized with 1 row; the late 06:00 row
        # must never appear
        assert rows.get("2024-01-01 10:00") == 1
        assert "2024-01-01 06:00" not in rows
    finally:
        q.stop()


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream join reproduces the batch interval
    join over a replay of the same data."""
    from project_fauna_spark.streaming import events_file_stream
    from project_fauna_spark.streaming.pipelines import interval_join_streams
    from project_fauna_spark.io import load_table
    from pyspark.sql import functions as F
    import uuid

    # Two views of the events stream: purchases join clicks within 1h.
    stream = events_file_stream(spark, SF)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id_c"), F.col("ts").alias("ts_c"),
        F.col("event_id").alias("click_id"),
    )
    l = purchases.withWatermark("ts", "1 hour").alias("l")
    r = clicks.withWatermark("ts_c", "1 hour").alias("r")
    joined = l.join(
        r,
        (F.col("l.user_id") == F.col("r.user_id_c"))
        & (F.col("r.ts_c") >= F.col("l.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("r.ts_c") <= F.col("l.ts")),
        "inner",
    ).select("purchase_id", "click_id")

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["purchase_id"], r["click_id"]) for r in spark.table(name).collect()}

    e = load_table(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id_c"), F.col("ts").alias("ts_c"),
        F.col("event_id").alias("click_id"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (p.user_id == c.user_id_c)
            & (c.ts_c >= p.ts - F.expr("INTERVAL 1 HOUR"))
            & (c.ts_c <= p.ts),
        ).select("purchase_id", "click_id").collect()
    }
    assert got == want and len(want) > 0


def test_stream_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered events (same id)
    across micro-batches collapse to one — the at-least-once →
    effectively-once dedup for replayed sources."""
    import glob, shutil, uuid
    from datetime import datetime
    from pyspark.sql import functions as F, types as T

    src = tmp_path / "dd_src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def write_batch(fname, rows):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / fname))
        part = glob.glob(str(tmp_path / fname / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{fname}.parquet"))

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    write_batch("b1", [(1, t0), (2, t0), (2, t0)])  # dup within batch

    stream = spark.readStream.schema(schema).parquet(str(src))
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 re-delivers event 2 and adds event 3
        write_batch("b2", [(2, t0), (3, t0)])
        q.processAllAvailable()
        ids = sorted(r["event_id"] for r in spark.table(name).collect())
        assert ids == [1, 2, 3]  # each id exactly once across batches
    finally:
        q.stop()


def test_transform_with_state_ewma(spark, tmp_path):
    """Spark-4 transformWithStateInPandas: per-user EWMA with typed
    ValueState on the RocksDB provider; counts must cover every event.

    The TWS python worker speaks protobuf to the JVM state server —
    skip where protobuf isn't installed (this container); the
    processor itself is plain pandas and runs on any real cluster."""
    pytest.importorskip("google.protobuf")
    from project_fauna_spark.streaming.pipelines import events_file_stream
    from project_fauna_spark.streaming.stateful import user_ewma_stream
    from project_fauna_spark.io import load_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = user_ewma_stream(events_file_stream(spark, "/root/testdata/sf0.001"))
        q = (
            stream.writeStream.format("memory")
            .queryName("tws_ewma")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT user_id, max(n_events) AS n, max(ewma) AS e FROM tws_ewma GROUP BY user_id"
            ).collect()
        finally:
            q.stop()
        e = load_table(spark, "/root/testdata/sf0.001", "events")
        expected = {r["user_id"]: r["n"] for r in e.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
        got = {r["user_id"]: r["n"] for r in rows}
        assert got == expected
        lo_hi = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
        assert all(lo_hi["lo"] <= r["e"] <= lo_hi["hi"] for r in rows)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_ewma_processor_logic_is_chunk_invariant():
    """EwmaProcessor's fold must not depend on Arrow chunk boundaries
    (pure-pandas unit test — runs even where the TWS protobuf worker
    isn't available)."""
    import pandas as pd

    from project_fauna_spark.streaming.stateful import EwmaProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    def run(chunks):
        proc = EwmaProcessor.__new__(EwmaProcessor)
        proc._state = FakeState()
        out = list(proc.handleInputRows((7,), iter(chunks), None))
        return out[0].iloc[0].to_dict(), proc._state.v

    vals = [(i, float(v)) for i, v in zip(range(8), [10, 20, 30, 40, 50, 60, 70, 80])]
    mk = lambda rows: pd.DataFrame(rows, columns=["event_id", "value"])
    # one chunk, ordered
    row_a, state_a = run([mk(vals)])
    # three chunks, shuffled across boundaries
    shuffled = [vals[5], vals[2], vals[7]], [vals[0], vals[4]], [vals[6], vals[1], vals[3]]
    row_b, state_b = run([mk(list(c)) for c in shuffled])
    assert state_a == state_b and row_a == row_b
    # manual fold: s = v0 then 0.5v + 0.5s
    s = 10.0
    for v in [20, 30, 40, 50, 60, 70, 80]:
        s = 0.5 * v + 0.5 * s
    assert row_a["ewma"] == s and row_a["n_events"] == 8


def test_dedup_stream_pipeline_bounds_state(spark, tmp_path):
    """pipelines.dedup_stream: the packaged dropDuplicatesWithinWatermark
    path emits each (user_id, event_type) once per delay window over the
    file-replayed events and keeps watermark state bounded."""
    import uuid

    from project_fauna_spark.streaming.pipelines import dedup_stream, events_file_stream

    stream = dedup_stream(events_file_stream(spark, "/root/testdata/sf0.001"))
    name = f"dds_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dds"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()
    got = spark.table(name).select("user_id", "event_type").collect()
    keys = [(r.user_id, r.event_type) for r in got]
    # each key appears at most once PER WATERMARK EPOCH; with the whole
    # backlog replayed availableNow, repeats only survive when the gap
    # exceeded the delay — so output must be far smaller than the input
    # and contain every distinct key at least once.
    from project_fauna_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    n_in = e.count()
    distinct_keys = {
        (r.user_id, r.event_type)
        for r in e.select("user_id", "event_type").distinct().collect()
    }
    assert set(keys) == distinct_keys
    assert len(keys) < n_in
