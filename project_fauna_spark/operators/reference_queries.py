"""Reference-semantics operator queries (SURVEY.md §2a).

Each query re-enacts one of the reference pipeline's operators over the
harness tables, with a DuckDB oracle that replicates the same semantics
in ANSI SQL — including the float-division + half-even-µs-rounding path
of the reference's epoch conversion (see
:func:`project_fauna_spark.functions.reference.epoch_to_timestamp_utc`).

Reference citations: split/epoch/validate semantics from
/root/reference/src/animals_etl/utils.py:14-54; transform shape from
/root/reference/src/animals_etl/pipeline.py:57-86; chunking from
utils.py:9-12 and pipeline.py:88-99.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.functions import (
    batch_index,
    epoch_to_iso8601_utc,
    split_friends,
    validate_iso8601_utc,
)
from project_fauna_spark.io import load_table
from project_fauna_spark.plans.registry import register

from project_fauna_spark.operators._oracle_shared import AS_OF, _sql_epoch_to_iso


@register(
    "ref_split_friends",
    oracle="""
    SELECT p_partkey,
           array_to_string(
             list_filter(
               list_transform(string_split(p_brand || ',' || p_type || ' ,, ' || p_name, ','),
                              x -> trim(x)),
               x -> x <> ''),
             '|') AS friends
    FROM part
    """,
)
def ref_split_friends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: comma-split + trim + drop-empties (utils.py:14-18)."""
    part = load_table(spark, sf_dir, "part")
    csv = F.concat_ws("", F.col("p_brand"), F.lit(","), F.col("p_type"), F.lit(" ,, "), F.col("p_name"))
    return part.select(
        "p_partkey",
        F.array_join(split_friends(csv), "|").alias("friends"),
    )


@register(
    "ref_epoch_normalize",
    oracle=f"""
    WITH src AS (
      SELECT event_id,
             CASE CAST(event_id % 4 AS INT)
               WHEN 0 THEN epoch_us(ts) // 1000000
               WHEN 1 THEN epoch_us(ts) // 1000
               WHEN 2 THEN epoch_us(ts)
               ELSE epoch_us(ts) * 1000
             END AS e
      FROM events
    )
    SELECT event_id, {_sql_epoch_to_iso('e')} AS born_iso FROM src
    """,
)
def ref_epoch_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: epoch (unit auto-detected s/ms/µs/ns) → ISO-8601 Z string.

    Unit varies per row (event_id % 4) so all four magnitude branches
    of utils.py:34-41 are exercised on real data.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    e = (
        F.when(F.col("event_id") % 4 == 0, F.expr("unix_micros(ts) div 1000000"))
        .when(F.col("event_id") % 4 == 1, F.expr("unix_micros(ts) div 1000"))
        .when(F.col("event_id") % 4 == 2, us)
        .otherwise(us * 1000)
    )
    return events.select(
        "event_id",
        epoch_to_iso8601_utc(e, AS_OF).alias("born_iso"),
    )


@register(
    "ref_validate_iso",
    oracle=r"""
    WITH src AS (
      SELECT event_id,
             CASE CAST(event_id % 4 AS INT)
               WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
               WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S+00:00')
               WHEN 2 THEN strftime(ts, '%Y-%m-%d')
               ELSE NULL
             END AS z
      FROM events
    )
    SELECT event_id, z,
           (z IS NULL OR regexp_matches(z, '^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z$')) AS is_valid
    FROM src
    """,
)
def ref_validate_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: ISO-8601-Z regex validation; NULL is valid (utils.py:50-54)."""
    events = load_table(spark, sf_dir, "events")
    z = (
        F.when(F.col("event_id") % 4 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
        .when(F.col("event_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss+00:00"))
        .when(F.col("event_id") % 4 == 2, F.date_format("ts", "yyyy-MM-dd"))
        .otherwise(F.lit(None).cast("string"))
    )
    return events.select(
        "event_id",
        z.alias("z"),
        validate_iso8601_utc(z).alias("is_valid"),
    )


_TRANSFORM_E = """
    CASE WHEN c_custkey % 7 = 0 THEN NULL
         WHEN c_custkey % 5 = 0 THEN 2000000000000
         WHEN c_custkey % 5 = 1 THEN ({intdiv})
         WHEN c_custkey % 5 = 2 THEN 1500000000000 + c_custkey * 12345678
         WHEN c_custkey % 5 = 3 THEN (1500000000000 + c_custkey * 12345678) * 1000
         ELSE (1500000000000 + c_custkey * 12345678) * 1000000
    END
"""
# Integer division spells differently: Spark SQL `div`, DuckDB `//`.
_TRANSFORM_E_SPARK = _TRANSFORM_E.format(
    intdiv="(1500000000000 + c_custkey * 12345678) div 1000"
)
_TRANSFORM_E_DUCK = _TRANSFORM_E.format(
    intdiv="(1500000000000 + c_custkey * 12345678) // 1000"
)


@register(
    "ref_animals_transform",
    oracle=f"""
    WITH src AS (
      SELECT c_custkey, c_name, c_mktsegment, {_TRANSFORM_E_DUCK} AS e FROM customer
    )
    SELECT CAST(c_custkey AS BIGINT) AS id,
           c_name AS name,
           array_to_string(
             list_filter(
               list_transform(string_split(c_mktsegment || ', ' || c_name || ' , ', ','),
                              x -> trim(x)),
               x -> x <> ''),
             '|') AS friends,
           {_sql_epoch_to_iso('e')} AS born_at
    FROM src
    """,
)
def ref_animals_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transform stage parity (P1–P5 + T6, pipeline.py:57-86).

    customer plays the part of the animal-details table: a synthesized
    CSV ``friends`` column and a mixed-unit ``born_at`` epoch covering
    every unit branch plus NULL (missing field) and future (guard → NULL).
    The relational output keeps ``born_at`` as a nullable column (T6
    null-vs-omitted collapses at the JSON sink — SURVEY.md §7.4).
    """
    cust = load_table(spark, sf_dir, "customer")
    e = F.expr(_TRANSFORM_E_SPARK)
    csv = F.concat_ws("", F.col("c_mktsegment"), F.lit(", "), F.col("c_name"), F.lit(" , "))
    return cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.array_join(split_friends(csv), "|").alias("friends"),
        epoch_to_iso8601_utc(e, AS_OF).alias("born_at"),
    )


@register(
    "ref_batch_chunks",
    oracle="""
    WITH numbered AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ),
    batches AS (
      SELECT (rn - 1) // 100 AS batch_id, count(*) AS batch_rows,
             min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
      FROM numbered GROUP BY 1
    )
    SELECT batch_id, batch_rows, first_key, last_key FROM batches
    """,
)
def ref_batch_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/T8 + S3: sink micro-batching as a relational op.

    Batch assignment = floor((row_number-1)/batch_size) with the
    reference's clamp (≤100 rows per batch, pipeline.py:93); the actual
    sink-side chunked POST lives in
    :mod:`project_fauna_spark.sinks.batch_post`.

    Scale note: batch ids are deterministic in key order, so the global
    row_number() never funnels — rows bucket by a RANGE of o_orderkey
    (bucket boundaries respect the sort), rank locally within their
    bucket, and add broadcast per-bucket offsets from
    ``functions/ranks.bucket_offsets`` (the ``sample_systematic_stride``
    shape; the oracle keeps the equivalent single-window spelling).
    The only wide exchange is the bucket shuffle; the offsets table is
    one row per bucket.  The actual sink-side POST chunks per partition
    (foreachPartition) so nothing serializes there either.
    """
    from project_fauna_spark.functions.ranks import bucket_offsets

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    # ~4096 keys per range bucket: bounded local windows at any SF
    # (scale the shift with SF the way _SYS_BUCKETS_SHIFT documents).
    bucketed = orders.withColumn(
        "bucket", F.shiftright(F.col("o_orderkey"), 12)
    )
    local = F.row_number().over(W.partitionBy("bucket").orderBy("o_orderkey"))
    ranked = bucketed.select("o_orderkey", "bucket", local.alias("lrnk"))
    offs = bucket_offsets(bucketed, [], "bucket", F.lit(1))
    numbered = ranked.join(
        F.broadcast(offs.select("bucket", "offset")), "bucket"
    ).select("o_orderkey", (F.col("offset") + F.col("lrnk")).alias("rn"))
    return (
        numbered.select("o_orderkey", batch_index("rn", 100).alias("batch_id"))
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("batch_rows"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
    )
