"""The reference's 4-stage ETL as ONE lazy Spark plan.

Reference lifecycle (SURVEY.md §3, cli.py:40-43): enumerate ids →
fetch details → transform → batch-post, with hard barriers and full
driver-memory materialization between stages.  Here the stages are
plan nodes and the driver never holds the data.  The plan's shape:

* the listing pages and the listed ids are spread over executors by
  two round-robin repartitions, so pages and detail GETs fan out;
* the sink's global row numbering shuffles by id bucket (plus a tiny
  broadcast table of bucket offsets), and its posting shuffles by
  batch id so each task posts whole batches;
* one pin (``cache.cached``) holds the transformed records, because
  the sink reads them twice — for the bucket row numbers and for the
  bucket counts.  The pin is what makes the fetch exactly-once: each
  listed id is GET once (plus retries), never once per sink branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from project_fauna_spark.functions import (
    epoch_to_iso8601_utc,
    split_friends,
    validate_iso8601_utc,
)
from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed
from project_fauna_spark.sources.http import (
    RetryPolicy,
    TransportFactory,
    fetch_details_df,
    paginated_ids_df,
)


def transform_details(details: DataFrame, as_of: str | None = None) -> DataFrame:
    """Reference transform stage (pipeline.py:57-86) as expressions.

    P1 projection, P2 id cast, T1 friends split, T2 epoch→ISO with
    unit auto-detect + guards.  ``born_at`` stays a nullable column
    (T6 null-vs-omitted collapses at the JSON sink).
    """
    return details.select(
        F.col("id").cast("long").alias("id"),
        F.col("name"),
        split_friends("friends").alias("friends"),
        epoch_to_iso8601_utc("born_at", as_of).alias("born_at"),
    )


def assert_output_contract(transformed: DataFrame) -> None:
    """T5: every born_at is NULL or a valid ISO-8601-Z string."""
    bad = transformed.filter(~validate_iso8601_utc("born_at")).count()
    assert bad == 0, f"{bad} rows violate the ISO-8601-Z output contract"


def transform_with_metrics(
    details: DataFrame, as_of: str | None = None
) -> tuple[DataFrame, "Observation"]:
    """Transform + T4 quality metric in ONE plan.

    The reference counts values nulled by epoch validation and warns
    (pipeline.py:65-70,82-83).  ``observe`` attaches the counter to
    the existing plan — zero extra jobs or scans (a separate
    ``filter().count()`` would re-run the pipeline).  Read
    ``observation.get`` after any action on the returned frame.
    """
    from pyspark.sql import Observation

    staged = details.select(
        F.col("id").cast("long").alias("id"),
        F.col("name"),
        split_friends("friends").alias("friends"),
        epoch_to_iso8601_utc("born_at", as_of).alias("born_at"),
        F.col("born_at").alias("_raw_born_at"),
    )
    obs = Observation("quality")
    observed = staged.observe(
        obs,
        F.sum(
            F.when(F.col("_raw_born_at").isNotNull() & F.col("born_at").isNull(), 1).otherwise(0)
        ).alias("n_invalid_born_at"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return observed.drop("_raw_born_at"), obs


def run_pipeline(
    spark: SparkSession,
    transport_factory: TransportFactory,
    batch_size: int = 100,
    as_of: str | None = None,
    policy: RetryPolicy = RetryPolicy(),
) -> DataFrame:
    """End-to-end: ids → details → transform → batch-post receipts.

    Returns the receipts DataFrame; nothing executes until it is
    consumed (the whole ETL is one lazy plan).  The sink pins the
    transformed records with ``cache.cached``; a long-lived session
    frees the pin with ``cache.release_cached()`` once the receipts
    are consumed.
    """
    ids = paginated_ids_df(spark, transport_factory, policy=policy)
    details = fetch_details_df(ids, transport_factory, policy=policy)
    transformed = transform_details(details, as_of)
    # Serialize arrays for the JSON sink the way the reference does.
    serializable = transformed.withColumn("friends", F.to_json("friends"))
    # Globally-indexed chunking: batch count is ceil(n/size) exactly
    # (reference T7/T8 semantics), posts still fan out per batch.
    return post_batches_globally_indexed(
        serializable, transport_factory, order_col="id", batch_size=batch_size, policy=policy
    )
