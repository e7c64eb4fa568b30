"""Batch-POST sink: ≤100-record chunks with global batch boundaries.

Reference parity: S3 (pipeline.py:88-99) posts transformed records in
chunks of ``max(1, min(100, batch_size))`` (clamp pipeline.py:93);
T7 ``chunked`` (utils.py:9-12) becomes a global row number divided by
the batch size; X1/X2 reliability via
:func:`project_fauna_spark.sources.http.request_with_retry`.

Spark rendering: a ``batch_id`` shuffle hands each partition whole
batches, which it posts through ``mapInArrow`` in parallel, emitting
a receipt row per batch — the driver never materializes the data
(the reference's sequential driver-side loop, pipeline.py:96-99,
becomes N-way parallel).  The JVM serializes each record with
``to_json``, so the Python side only joins strings into bodies.
Null-vs-omitted T6: ``to_json`` drops null fields, matching
pipeline.py:78-79.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.reference import clamp_batch_size
from project_fauna_spark.sources.http import (
    RetryPolicy,
    TransportFactory,
    arrow_batch,
    request_with_retry,
    transport_takes_headers,
)

RECEIPT_SCHEMA = "batch_index long, n_records long, status long"
_RECEIPT_ARROW = pa.schema(
    [("batch_index", pa.int64()), ("n_records", pa.int64()), ("status", pa.int64())]
)


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

    def post_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        transport = transport_factory()
        hdrs = transport_takes_headers(transport)
        receipts: dict[str, list[int]] = {name: [] for name in _RECEIPT_ARROW.names}
        batch_id, recs = -1, []

        def post() -> None:
            body = "[" + ",".join(recs) + "]"
            status, _ = request_with_retry(transport, "POST", body, policy, takes_headers=hdrs)
            receipts["batch_index"].append(batch_id)
            receipts["n_records"].append(len(recs))
            receipts["status"].append(status)

        for batch in batches:
            bids, docs = batch.column(0).to_pylist(), batch.column(1).to_pylist()
            for bid, doc in zip(bids, docs):
                if bid != batch_id:
                    if recs:
                        post()
                    batch_id, recs = bid, []
                recs.append(doc)
        if recs:
            post()
        yield arrow_batch(_RECEIPT_ARROW, receipts)

    # T6: ``ignoreNullFields`` leaves null fields out of each record.
    record = F.to_json(F.struct(*data_cols), {"ignoreNullFields": "true"})
    return (
        keyed.repartition("__batch_id")
        .sortWithinPartitions("__batch_id", "__rn")
        .select("__batch_id", record.alias("__json"))
        .mapInArrow(post_partition, schema=RECEIPT_SCHEMA)
    )
