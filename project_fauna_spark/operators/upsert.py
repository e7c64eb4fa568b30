"""Keyed upsert (MERGE) semantics — the reference README's future-work
item (idempotent re-runs / dedup on re-delivery,
/root/reference/README.md:151-158) as a relational operator.

Without a transactional table format, MERGE is: full-outer join on the
key, updates win, inserts pass through — rewrite the partition.  With
Delta/Iceberg the same ``merge_upsert`` call becomes the engine's
MERGE INTO; the semantics (and the idempotency property tested here)
are identical.

Scale: one shuffle on the key for the join; partitioned targets only
rewrite partitions that received updates (dynamic partition
overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import SQL_TS_FMT, TS_FMT, _fmt_ts
from project_fauna_spark.registry import register


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert ``updates`` into ``target`` on ``key``: matching rows are
    replaced, new keys inserted, unmatched target rows kept.

    Idempotent: applying the same updates twice yields the same table.
    """
    cols = target.columns
    t = target.alias("t")
    u = updates.alias("u")
    joined = t.join(u, F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer")
    # True MERGE "updates win" semantics: presence of the update ROW
    # (key non-null) decides, per-row not per-column — an update row
    # carrying NULL in a column nulls out the target value, exactly as
    # MERGE INTO ... UPDATE SET col = u.col would.
    matched = F.col(f"u.{key}").isNotNull()
    merged = [
        F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in cols
    ]
    return joined.select(*merged)


@register(
    "etl_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey < 100
    ),
    updates AS (
      SELECT c_custkey, 'UPDATED#' || c_name AS c_name, c_acctbal + 1000.0 AS c_acctbal
      FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
    )
    SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal
    FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
    """,
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE demo: update keys [50,100), insert keys [100,150), keep
    keys [0,50) untouched — one full-outer join."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    target = c.filter(F.col("c_custkey") < 100)
    updates = c.filter((F.col("c_custkey") >= 50) & (F.col("c_custkey") < 150)).select(
        "c_custkey",
        F.concat(F.lit("UPDATED#"), F.col("c_name")).alias("c_name"),
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
    )
    return merge_upsert(target, updates, "c_custkey")


@register(
    "cdc_scd2_history",
    oracle=f"""
    WITH runs AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                  IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END AS chg
      FROM orders
    ),
    isl AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM runs
    ),
    g AS (
      SELECT o_custkey, o_orderstatus, version,
             MIN(o_orderdate) AS vf, COUNT(*) AS n_orders
      FROM isl GROUP BY 1, 2, 3
    )
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           CAST(version AS INT) AS version,
           strftime(vf, '{SQL_TS_FMT}') AS valid_from,
           strftime(lead(vf) OVER (PARTITION BY o_custkey ORDER BY version),
                    '{SQL_TS_FMT}') AS valid_to,
           lead(vf) OVER (PARTITION BY o_custkey ORDER BY version) IS NULL
             AS is_current,
           n_orders
    FROM g
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream:
    treat each customer's order-status sequence as CDC events, collapse
    consecutive equal values into versioned validity intervals
    (valid_from / valid_to half-open, NULL valid_to = current row) —
    the standard MERGE-into-history shape every warehouse CDC consumer
    runs, expressed as gaps-and-islands windows instead of a
    row-at-a-time loop.

    Scale: both windows and the aggregate share ONE hash exchange on
    o_custkey (Catalyst reuses the partitioning; per-customer state is
    bounded by that customer's change count).  Timestamps are formatted
    at the compared edge per the engine convention; (date, orderkey)
    tie-breaks make island boundaries engine-order-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    w_seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        F.when(
            ~F.lag("o_orderstatus").over(w_seq).eqNullSafe(F.col("o_orderstatus")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    isl = runs.withColumn(
        "version",
        F.sum("chg").over(w_seq.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    g = isl.groupBy("o_custkey", "o_orderstatus", "version").agg(
        F.min("o_orderdate").alias("vf"), F.count(F.lit(1)).alias("n_orders")
    )
    w_ver = W.partitionBy("o_custkey").orderBy("version")
    nxt = F.lead("vf").over(w_ver)
    return g.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("version").cast("int").alias("version"),
        _fmt_ts("vf", TS_FMT).alias("valid_from"),
        _fmt_ts(nxt, TS_FMT).alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_orders",
    )
