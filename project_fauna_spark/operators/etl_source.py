"""The reference ETL path (S1/S2/S3) as graded registry queries.

Each query materializes a deterministic fake-API fixture under /tmp
from the ``customer`` table, then drives the REAL distributed HTTP
source/sink machinery (mapInArrow fetch, retry transport, chunked
POST) against it.  The oracle reproduces the expected output straight
from ``customer`` — so the driver's correctness gate covers the
paginated scan, the point-get fetch, the reference transform, and the
sink batching end-to-end.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import AS_OF, _sql_epoch_to_iso
from project_fauna_spark.pipeline import transform_details
from project_fauna_spark.registry import register
from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed
from project_fauna_spark.sources.http import (
    FileBackedTransport,
    RetryPolicy,
    fetch_listed_details_df,
    paginated_ids_df,
)

PAGE_SIZE = 40
N_ANIMALS = 120  # customers with c_custkey < N_ANIMALS become records

FAST = RetryPolicy(retries=2, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)

# Epoch derivation per record (mixed units + NULLs), mirrored in SQL.
_E_SQL = """
    CASE WHEN c_custkey % 6 = 0 THEN NULL
         WHEN c_custkey % 3 = 0 THEN 1400000000 + c_custkey
         WHEN c_custkey % 3 = 1 THEN (1400000000 + c_custkey) * 1000
         ELSE (1400000000 + c_custkey) * 1000000
    END
"""


def _epoch_for(k: int) -> int | None:
    if k % 6 == 0:
        return None
    if k % 3 == 0:
        return 1_400_000_000 + k
    if k % 3 == 1:
        return (1_400_000_000 + k) * 1_000
    return (1_400_000_000 + k) * 1_000_000


def _fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the fake-API fixture derived from customer."""
    key = sf_dir.strip("/").replace("/", "_")
    final = os.path.join(tempfile.gettempdir(), f"fauna_api_fixture_{key}")
    if os.path.exists(os.path.join(final, ".complete")):
        return final
    # Build in a private dir, then atomically rename: concurrent query
    # processes either see the complete fixture or build their own.
    root = f"{final}.build.{os.getpid()}"
    os.makedirs(root, exist_ok=True)
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < N_ANIMALS)
        .select("c_custkey", "c_name", "c_mktsegment")
        .collect()
    )
    records = [
        {
            "id": int(r["c_custkey"]),
            "name": r["c_name"],
            "friends": f"{r['c_mktsegment']}, {r['c_name']} ,",
            "born_at": _epoch_for(int(r["c_custkey"])),
        }
        for r in sorted(cust, key=lambda r: r["c_custkey"])
    ]
    pages = [records[i : i + PAGE_SIZE] for i in range(0, len(records), PAGE_SIZE)] or [[]]
    for n, items in enumerate(pages, start=1):
        with open(os.path.join(root, f"listing_page_{n}.json"), "w") as f:
            json.dump(
                {
                    "page": n,
                    "total_pages": len(pages),
                    "items": [{"id": r["id"], "name": r["name"]} for r in items],
                },
                f,
            )
    for r in records:
        with open(os.path.join(root, f"detail_{r['id']}.json"), "w") as f:
            json.dump(r, f)
    with open(os.path.join(root, ".complete"), "w") as f:
        f.write("ok")
    try:
        os.rename(root, final)
    except OSError:
        pass  # another process won the race; use its fixture
    return final if os.path.exists(os.path.join(final, ".complete")) else root


@register(
    "etl_paginated_scan",
    oracle=f"""
    SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
    WHERE c_custkey < {N_ANIMALS}
    """,
)
def etl_paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: distributed paginated listing scan → id enumeration.

    Driver probes page 1; executors fetch the remaining pages via
    mapInArrow with the retry transport.
    """
    root = _fixture_dir(spark, sf_dir)
    return paginated_ids_df(spark, lambda: FileBackedTransport(root), policy=FAST)


@register(
    "etl_fetch_transform",
    oracle=f"""
    SELECT CAST(c_custkey AS BIGINT) AS id,
           c_name AS name,
           array_to_string(
             list_filter(
               list_transform(string_split(c_mktsegment || ', ' || c_name || ' ,', ','),
                              x -> trim(x)),
               x -> x <> ''),
             '|') AS friends,
           {_sql_epoch_to_iso(_E_SQL)} AS born_at
    FROM customer WHERE c_custkey < {N_ANIMALS}
    """,
)
def etl_fetch_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + S2 + transform: each executor task lists its pages and
    point-gets the ids on them, then the full reference transform (T1
    split, T2 epoch normalize, P1-P5)."""
    root = _fixture_dir(spark, sf_dir)
    details = fetch_listed_details_df(spark, lambda: FileBackedTransport(root), policy=FAST)
    out = transform_details(details, AS_OF)
    return out.select(
        "id",
        "name",
        F.array_join("friends", "|").alias("friends"),
        "born_at",
    )


@register(
    "etl_batch_post",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS total FROM customer WHERE c_custkey < {N_ANIMALS})
    SELECT CAST(i AS BIGINT) AS batch_index,
           CAST(CASE WHEN (i + 1) * 25 <= total THEN 25
                     ELSE total - i * 25 END AS BIGINT) AS n_records,
           CAST(200 AS BIGINT) AS status
    FROM n, unnest(range(0, CAST(ceil(total / 25.0) AS BIGINT))) AS t(i)
    """,
)
def etl_batch_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + T7: chunked batch-POST sink, receipt rows.

    Distributed sink: an id-hash shuffle hands each task a group of
    records, which posts its full batches in id order; one final task
    posts the groups' leftovers in id order and numbers every receipt,
    full batches first.  So there are ``ceil(n/25)`` batches, all full
    but the last, which is what the oracle describes; which records
    share a batch is the sink's deterministic membership rule, not a
    sequential chunking.
    """
    root = _fixture_dir(spark, sf_dir)
    transformed = etl_fetch_transform(spark, sf_dir)
    return post_batches_globally_indexed(
        transformed,
        lambda: FileBackedTransport(root),
        order_col="id",
        batch_size=25,
        policy=FAST,
    )
