"""Batch-POST sink: ≤100-record chunks, posted per partition.

Reference parity: S3 (pipeline.py:88-99) posts transformed records in
chunks of ``max(1, min(100, batch_size))`` (clamp pipeline.py:93);
T7 ``chunked`` (utils.py:9-12) yields ``ceil(n/size)`` chunks, every
one full but the last; X1/X2 reliability via
:func:`project_fauna_spark.sources.http.request_with_retry`.  Which
records share a chunk follows completion order in the reference
(SURVEY.md X5), so only the chunk sizes and exactly-once delivery are
part of its contract.

Spark rendering: a hash shuffle on the order column hands each of
``partitions`` tasks a group of records, sorted; each task posts every
full run of ``size`` rows through one transport and passes its
fewer-than-``size`` leftover rows on.  One final task posts the
leftovers in chunks and numbers every batch.  The driver never
materializes the data (the reference's sequential driver-side loop,
pipeline.py:96-99, becomes N-way parallel), and the input is read once,
so nothing is pinned.  The JVM serializes each record with ``to_json``,
so the Python side only joins strings into bodies.  Null-vs-omitted
T6: ``to_json`` drops null fields, matching pipeline.py:78-79.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, types as T

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
# A full batch's receipt as the first tasks pass it on: which task
# posted it, its place in that task's posts, and the POST status.
_FULL_ARROW = pa.schema([("__part", pa.int64()), ("__seq", pa.int64()), ("__status", pa.int64())])


def post_batches_globally_indexed(
    df: DataFrame,
    transport_factory: TransportFactory,
    order_col: str,
    batch_size: int = 100,
    policy: RetryPolicy = RetryPolicy(),
    partitions: int = 8,
) -> DataFrame:
    """POST ``df`` in ``size``-record batches, ``size`` =
    ``clamp_batch_size(batch_size)``; return one receipt row
    ``(batch_index, n_records, status)`` per batch.

    Membership is deterministic and independent of how ``df`` is
    partitioned (given a unique ``order_col``):

    * each record's group is ``pmod(hash(order_col), partitions)``,
      Spark's ``HashPartitioning`` of ``repartition(partitions,
      order_col)`` (the explicit count keeps AQE from coalescing it);
    * within a group, the ``order_col``-sorted rows are cut into runs
      of ``size``; each full run is one batch;
    * the fewer-than-``size`` rows left in each group are merged and
      cut, in ``order_col`` order, into the remaining batches.

    Receipts number the full batches ``0..F-1`` by (group, run), then
    the leftover batches, so there are ``ceil(n/size)`` batches, all of
    ``size`` records but the last.

    Plan: one projection of ``order_col`` and the record's JSON, the
    hash shuffle, a sort within partitions, a ``mapInArrow`` whose
    task per group posts its full runs, a ``repartition(1)``, and a
    ``mapInArrow`` whose one task posts the leftovers and numbers the
    receipts.
    That single final task receives at most ``partitions·(size−1)``
    leftover rows plus one three-long receipt per full batch.  ``df``
    has one consumer, so each record is computed (and, in the
    pipeline, fetched) once without a pin.
    """
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    size = clamp_batch_size(batch_size)
    passed_on = T.StructType(
        [T.StructField(f.name, T.LongType()) for f in _FULL_ARROW]
        + [
            T.StructField("__key", df.schema[order_col].dataType),
            T.StructField("__json", T.StringType()),
        ]
    )

    def post(transport, hdrs: bool, docs: list[str]) -> int:
        body = "[" + ",".join(docs) + "]"
        status, _ = request_with_retry(transport, "POST", body, policy, takes_headers=hdrs)
        return status

    def post_full_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        """Post each full ``size``-row run of this group; pass on a
        receipt per run and the leftover rows."""
        transport = transport_factory()
        hdrs = transport_takes_headers(transport)
        statuses: list[int] = []
        run: list[str] = []  # documents of the current, unposted run
        tail: list[pa.RecordBatch] = []  # the rows of ``run``
        for batch in batches:
            docs, start = batch.column(1).to_pylist(), 0
            while len(run) + len(docs) - start >= size:
                cut = start + size - len(run)
                statuses.append(post(transport, hdrs, run + docs[start:cut]))
                run, tail, start = [], [], cut
            run += docs[start:]
            tail.append(batch.slice(start))
        if not tail:
            return
        key_type, json_type = tail[0].schema.field(0).type, tail[0].schema.field(1).type
        schema = pa.schema(list(_FULL_ARROW) + [("__key", key_type), ("__json", json_type)])
        n = len(statuses)
        if n:
            pid = TaskContext.get().partitionId()
            full = arrow_batch(
                _FULL_ARROW, {"__part": [pid] * n, "__seq": list(range(n)), "__status": statuses}
            )
            nulls = [pa.nulls(n, key_type), pa.nulls(n, json_type)]
            yield pa.RecordBatch.from_arrays(full.columns + nulls, schema=schema)
        for rows in tail:
            if rows.num_rows:
                nulls = [pa.nulls(rows.num_rows, pa.int64())] * len(_FULL_ARROW)
                yield pa.RecordBatch.from_arrays(nulls + rows.columns, schema=schema)

    def post_leftovers(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        """Post the leftovers in ``order_col`` order; number every
        receipt, full batches first."""
        import pyarrow.compute as pc

        full: list[tuple[int, int, int]] = []
        keys, docs = [], []
        for batch in batches:
            is_full = pc.is_valid(batch.column(2))
            received = batch.filter(is_full)
            full += zip(*(received.column(i).to_pylist() for i in range(3)))
            rest = batch.filter(pc.invert(is_full))
            keys.append(rest.column(3))
            docs.append(rest.column(4))
        if not keys:
            return
        keys, docs = pa.concat_arrays(keys), pa.concat_arrays(docs)
        # Arrow's stable ascending sort with nulls first is Spark's order.
        docs = docs.take(pc.sort_indices(keys, null_placement="at_start")).to_pylist()
        full.sort()
        receipts = {
            "batch_index": list(range(len(full))),
            "n_records": [size] * len(full),
            "status": [status for _, _, status in full],
        }
        if docs:
            transport = transport_factory()
            hdrs = transport_takes_headers(transport)
        for i in range(0, len(docs), size):
            chunk = docs[i : i + size]
            receipts["batch_index"].append(len(receipts["batch_index"]))
            receipts["n_records"].append(len(chunk))
            receipts["status"].append(post(transport, hdrs, chunk))
        yield arrow_batch(_RECEIPT_ARROW, receipts)

    # T6: ``ignoreNullFields`` leaves null fields out of each record.
    record = F.to_json(F.struct(*df.columns), {"ignoreNullFields": "true"})
    return (
        df.select(F.col(order_col).alias("__key"), record.alias("__json"))
        .repartition(partitions, "__key")
        .sortWithinPartitions("__key")
        .mapInArrow(post_full_runs, schema=passed_on)
        .repartition(1)
        .mapInArrow(post_leftovers, schema=RECEIPT_SCHEMA)
    )
