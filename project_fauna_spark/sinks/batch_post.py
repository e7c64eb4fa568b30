"""Batch-POST sink: ≤100-record chunks, per-partition, with retry.

Reference parity: S3 (pipeline.py:88-99) posts transformed records in
chunks of ``max(1, min(100, batch_size))`` (clamp pipeline.py:93);
T7 ``chunked`` (utils.py:9-12); X1/X2 reliability via
:func:`project_fauna_spark.sources.http.request_with_retry`.

Spark rendering: ``mapPartitions``-style batching via ``mapInPandas``
so every partition posts its own chunks in parallel and emits a
receipt row per batch — the driver never materializes the data
(the reference's sequential driver-side loop, pipeline.py:96-99,
becomes N-way parallel).  Null-vs-omitted T6: JSON bodies drop null
fields, matching pipeline.py:78-79.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame

from project_fauna_spark.cache import cached
from project_fauna_spark.sources.http import (
    RetryPolicy,
    TransportFactory,
    request_with_retry,
    transport_takes_headers,
)


def clamp_batch_size(size: int) -> int:
    """Reference clamp to [1, 100] (pipeline.py:93)."""
    return max(1, min(100, size))


def chunked(seq: Sequence, size: int) -> Iterable[list]:
    """Successive ≤size slices (reference utils.py:9-12)."""
    for i in range(0, len(seq), size):
        yield list(seq[i : i + size])


RECEIPT_SCHEMA = "batch_index long, n_records long, status long"


def _receipts_frame(receipts: list[tuple[int, int, int]]) -> pd.DataFrame:
    return pd.DataFrame(receipts, columns=["batch_index", "n_records", "status"]).astype("int64")


def _record(rec: dict) -> dict:
    """T6: null fields are omitted, not serialized as null."""
    return {k: v for k, v in rec.items() if not pd.isna(v)}


def post_batches_with_receipts(
    df: DataFrame,
    transport_factory: TransportFactory,
    batch_size: int = 100,
    policy: RetryPolicy = RetryPolicy(),
) -> DataFrame:
    """POST ``df`` in ≤100-record JSON batches; returns receipt rows.

    One transport per partition (connection reuse), chunks sized by the
    reference clamp, each POST wrapped in retry/backoff.  The returned
    DataFrame (one row per posted batch) is lazy — the sink runs when
    an action consumes the receipts, keeping it composable in a plan.
    """
    size = clamp_batch_size(batch_size)

    def post_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        hdrs = transport_takes_headers(transport)
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(_record(rec) for rec in pdf.to_dict(orient="records"))
        receipts = []
        for i, chunk in enumerate(chunked(rows, size)):
            body = json.dumps(chunk, default=str)
            status, _ = request_with_retry(transport, "POST", body, policy, takes_headers=hdrs)
            receipts.append((i, len(chunk), status))
        yield _receipts_frame(receipts)

    return df.mapInPandas(post_partition, schema=RECEIPT_SCHEMA)


def post_batches_globally_indexed(
    df: DataFrame,
    transport_factory: TransportFactory,
    order_col: str,
    batch_size: int = 100,
    policy: RetryPolicy = RetryPolicy(),
    bucket_rows: int = 1024,
) -> DataFrame:
    """POST ``df`` in ≤100-record batches with GLOBALLY deterministic
    chunk boundaries — no single-partition funnel.

    Rows get a global row number in ``order_col`` order via a bucketed
    two-level cumsum (local window per ``order_col div bucket_rows``
    bucket + a tiny broadcast offset table — never one task for the
    whole sink), then ``batch_id = row_number div batch_size`` keys a
    shuffle: each partition receives whole batches, sorted, and posts
    each one as its run of rows ends, through one transport per
    partition.  Receipts are identical to a sequential single-writer
    chunking of the ``order_col``-sorted rows, so re-runs (and the
    oracle) see the same batch set regardless of input partitioning.

    The row numbers and the bucket counts both read ``df``, so it is
    pinned with :func:`~project_fauna_spark.cache.cached`: without the
    pin each branch recomputes ``df`` and repeats whatever side effects
    produced it (the pipeline's detail GETs), and a non-idempotent
    source could then feed the two branches different rows.
    """
    from pyspark.sql import Window as W, functions as F

    size = clamp_batch_size(batch_size)
    data_cols = df.columns

    w_local = W.partitionBy("__bkt").orderBy(order_col)
    w_off = W.partitionBy(F.lit(1)).orderBy("__bkt").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    rows = cached(df).withColumn("__bkt", F.expr(f"{order_col} div {bucket_rows}"))
    offsets = (
        rows.groupBy("__bkt")
        .agg(F.count("*").alias("__n"))
        .withColumn("__offset", F.sum("__n").over(w_off) - F.col("__n"))
        .select("__bkt", "__offset")
    )
    keyed = (
        rows.withColumn("__local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "__bkt")
        .withColumn("__rn", F.col("__local_rn") + F.col("__offset") - 1)
        .withColumn("__batch_id", F.expr(f"__rn div {size}"))
        .drop("__bkt", "__local_rn", "__offset")
    )

    def post_partition(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        hdrs = transport_takes_headers(transport)
        receipts: list[tuple[int, int, int]] = []
        batch_id, recs = -1, []

        def post() -> None:
            body = json.dumps(recs, default=str)
            status, _ = request_with_retry(transport, "POST", body, policy, takes_headers=hdrs)
            receipts.append((batch_id, len(recs), status))

        for pdf in frames:
            records = pdf[data_cols].to_dict(orient="records")
            for bid, rec in zip(pdf["__batch_id"].tolist(), records):
                if bid != batch_id:
                    if recs:
                        post()
                    batch_id, recs = bid, []
                recs.append(_record(rec))
        if recs:
            post()
        yield _receipts_frame(receipts)

    return (
        keyed.repartition("__batch_id")
        .sortWithinPartitions("__batch_id", "__rn")
        .mapInPandas(post_partition, schema=RECEIPT_SCHEMA)
    )
