"""Python UDF surface: one of each flavor, used where built-ins can't
express the logic (SURVEY.md §2b "UDF surface").

UDFs are the slow path — everything else in this engine is Catalyst
expressions.  When Python is genuinely needed, the rules are:

* Arrow-vectorized (``pandas_udf`` / ``applyInPandas``), never
  row-at-a-time ``F.udf`` — 10-100× less interpreter + serialization
  overhead at scale.
* Deterministic outputs: anything order-sensitive (means over floats)
  sorts its group first, so shuffle order can't leak into results.
* Grouped-map state must fit one group in memory — group by keys with
  bounded cardinality-per-key, or pre-aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from project_fauna_spark.io import load_table
from project_fauna_spark.registry import register


@pandas_udf(T.LongType())
def digit_sum(ids: pd.Series) -> pd.Series:
    """Vectorized digit sum — pure pandas string ops, no Python loop."""
    return (
        ids.astype("int64")
        .abs()
        .astype(str)
        .map(lambda s: sum(int(c) for c in s))
        .astype("int64")
    )


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id,
           CAST(list_sum(list_transform(string_split(CAST(event_id AS VARCHAR), ''),
                                        c -> CAST(c AS BIGINT))) AS BIGINT) AS id_digit_sum,
           CAST(event_id % 9 AS BIGINT) AS mod9
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar ``pandas_udf`` (Arrow-batched) with an exact-integer
    output, so the oracle can check it value-for-value."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        digit_sum(F.col("event_id")).alias("id_digit_sum"),
        (F.col("event_id") % 9).alias("mod9"),
    )


GROUP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("median_value", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    # Sort before any float work: shuffle order must not reach results.
    pdf = pdf.sort_values("event_id")
    return pd.DataFrame(
        [
            {
                "event_type": pdf["event_type"].iloc[0],
                "n": len(pdf),
                "median_value": float(pdf["value"].median()),
                "min_value": float(pdf["value"].min()),
                "max_value": float(pdf["value"].max()),
            }
        ]
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           median(value) AS median_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-group order statistics.

    Median/min/max are selection statistics — deterministic regardless
    of accumulation order (unlike float means), so the pandas result
    matches the SQL oracle exactly.  One group = one pandas frame:
    group cardinality per key must stay executor-sized.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandas(_group_stats, schema=GROUP_STATS_SCHEMA)
    )


@register(
    "udf_explode_generator",
    oracle="""
    SELECT o_orderkey,
           unnest(range(CAST(1 AS BIGINT), CAST(o_orderkey % 4 + 2 AS BIGINT))) AS installment_no,
           o_totalprice / (CAST(o_orderkey % 4 AS INT) + 1) AS installment_amount
    FROM orders
    """,
)
def udf_explode_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-style row generator: each order fans out into 1-4
    installment rows via ``explode(sequence(...))`` — the built-in
    (codegen) rendering of a generator UDTF."""
    o = load_table(spark, sf_dir, "orders")
    n_inst = (F.col("o_orderkey") % 4 + 1).cast("int")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            n_inst.alias("n_inst"),
            F.explode(F.sequence(F.lit(1), n_inst)).alias("installment_no"),
        )
        .select(
            "o_orderkey",
            F.col("installment_no").cast("long").alias("installment_no"),
            # Raw IEEE division, no rounding: Spark round(double) goes
            # through the double's SHORTEST decimal representation
            # (BigDecimal.valueOf) while DuckDB scales the raw binary
            # value — they disagree on x.xx5-looking doubles, so
            # portable results must not round doubles at the edge.
            (F.col("o_totalprice") / F.col("n_inst")).alias("installment_amount"),
        )
    )


COGROUP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_orders", T.LongType()),
        T.StructField("max_event_value", T.DoubleType()),
        T.StructField("max_order_price", T.DoubleType()),
    ]
)


@register(
    "udf_cogroup",
    oracle="""
    WITH e AS (SELECT user_id, COUNT(*) AS n_events, max(value) AS max_event_value
               FROM events GROUP BY user_id),
         o AS (SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
                      max(o_totalprice) AS max_order_price
               FROM orders WHERE o_custkey < 150 GROUP BY o_custkey)
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(o.n_orders, 0) AS n_orders,
           e.max_event_value AS max_event_value,
           o.max_order_price AS max_order_price
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: events ⟕⟖ orders per user in one
    Python function — the custom-join escape hatch (as-of matching,
    interval alignment, per-key reconciliation) when relational joins
    can't express the pairing.  Stats are selection-based (counts/max)
    so the result is order-independent and exactly oracled.
    """
    from project_fauna_spark.io import load_table as _lt

    events = _lt(spark, sf_dir, "events").select("user_id", "value")
    orders = (
        _lt(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 150)
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
    )

    def merge(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        (uid,) = key
        return pd.DataFrame(
            [
                {
                    "user_id": int(uid),
                    "n_events": len(left),
                    "n_orders": len(right),
                    "max_event_value": float(left["value"].max()) if len(left) else None,
                    "max_order_price": float(right["o_totalprice"].max()) if len(right) else None,
                }
            ]
        )

    return (
        events.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(merge, schema=COGROUP_SCHEMA)
    )


# --------------------------------------------------------------------------
# udf_grouped_agg_median — the vectorized GROUPED_AGG UDF surface
# --------------------------------------------------------------------------


@register(
    "udf_grouped_agg_median",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn * 2 = n OR rn * 2 = n + 1
                         THEN event_id END) AS BIGINT) AS median_event_id
    FROM r GROUP BY event_type
    """,
)
def udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWER-median event id per type via a GROUPED_AGG pandas UDF —
    the fourth and last vectorized-UDF execution mode (scalar,
    grouped-map, cogrouped-map, map-iterator are covered by the other
    ``udf_*`` queries; this one is an Arrow-batched AGGREGATE whose
    partial state is the whole group, used directly inside
    ``groupBy().agg()``).

    The UDF computes the order-statistic exactly (numpy sort, lower
    middle), so the DuckDB oracle replays it with a rank selection —
    a deliberately deterministic function in a surface that usually
    hosts approximate math.  Scale note: GROUPED_AGG ships each whole
    group through Arrow (no partial aggregation) — the right tool for
    bounded groups (5 types here) and exactly the WRONG tool for
    skewed billions-row groups, which belong in the two-phase
    rank machinery instead (``agg_percentile_exact``); the docstring
    IS the decision rule.
    """

    @pandas_udf("long")
    def lower_median(v: pd.Series) -> int:
        arr = v.sort_values().to_numpy()
        return int(arr[(len(arr) - 1) // 2])

    e = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    # Spark forbids mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the
    # count comes from its own map-combined aggregate, joined back on
    # the tiny type key.
    counts = e.groupBy("event_type").agg(F.count("*").alias("n_events"))
    medians = e.groupBy("event_type").agg(
        lower_median("event_id").alias("median_event_id")
    )
    # eqNullSafe: a regenerated corpus with NULL event_type must keep
    # the NULL-keyed group like the oracle's GROUP BY does.
    m2 = medians.withColumnRenamed("event_type", "et")
    return counts.join(m2, counts.event_type.eqNullSafe(m2.et)).select(
        "event_type", "n_events", "median_event_id"
    )
