"""Relational operator surface (SURVEY.md §2b): joins, aggregations,
windows, sort/limit/top-k, set operations, scalar-function battery.

Every query is a named registry entry with a DuckDB oracle.  All are
pure Spark built-ins — Catalyst plans them, AQE picks physical joins.

Scale design notes (100 TB):

* Dimension joins (`nation`, `region`, literal band tables) are
  explicitly `broadcast()` — no shuffle of the fact side.
* Fact-fact joins shuffle on their equi keys; AQE skew-join splitting
  is enabled session-wide (see session.RUNTIME_CONFS).
* The as-of join is the union+window formulation: ONE shuffle on the
  join key, sort by (time, tag) inside each partition — no row
  explosion, no per-key nested loop; this is the plan that survives a
  1000-executor cluster.
* Aggregations use partial (map-side) aggregation automatically; the
  decimal-accumulate convention (registry.dsum) adds exactness, not
  cost — decimal(30,8) partials are still map-side combined.
* Global-window queries (ntile/percent_rank without PARTITION BY) are
  inherently single-partition; they are correctness demos — scale
  variants partition first (see window_rank / topk_per_group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.ranks import bucket_offsets, bucket_offsets_multi
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_TS_FMT,
    SQL_TS_FMT_US,
    TS_FMT_US,
    _fmt_ts,
)
from project_fauna_spark.plans.registry import davg, dsum, register, sql_davg, sql_dsum


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi join orders ⋈ customer (shuffled hash / SMJ by AQE)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast_chain",
    oracle=f"""
    SELECT r.r_name,
           COUNT(*) AS n_lineitems,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dim star join with explicit broadcast of the small dims.

    lineitem⋈orders⋈customer shuffle on their keys; nation (25 rows)
    and region (5 rows) are broadcast — at 100 TB the fact side never
    shuffles for a dimension lookup.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_lineitems"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — unmatched customers keep NULL order columns."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (planner canonicalizes to left on swapped sides)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey FROM supplier)
    SELECT cn.c_nationkey, sn.s_nationkey
    FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over the two distinct nation-key sets."""
    cn = load_table(spark, sf_dir, "customer").select("c_nationkey").distinct()
    sn = load_table(spark, sf_dir, "supplier").select("s_nationkey").distinct()
    return cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full_outer")


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having ≥1 order (no row duplication)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers who emitted no events."""
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return cust.join(events, cust.c_custkey == events.user_id, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two small sets (broadcast nested loop)."""
    region = load_table(spark, sf_dir, "region")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.select("r_name").crossJoin(F.broadcast(status))


_BANDS = [
    (0, 0.0, 50_000.0),
    (1, 50_000.0, 150_000.0),
    (2, 150_000.0, 300_000.0),
    (3, 300_000.0, 1e12),
]


@register(
    "join_range_band",
    oracle=f"""
    WITH bands(band_id, lo, hi) AS (
      VALUES {', '.join(f'({b}, {lo}, {hi})' for b, lo, hi in _BANDS)}
    )
    SELECT b.band_id, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_price
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range-predicate) join against a broadcast band table.

    A non-equi join is a broadcast-nested-loop in Spark — viable only
    because the band side is tiny and broadcast; the fact side streams.
    """
    orders = load_table(spark, sf_dir, "orders")
    bands = orders.sparkSession.createDataFrame(_BANDS, "band_id INT, lo DOUBLE, hi DOUBLE")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "join_theta_quantity_over_size",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_over
    FROM lineitem l JOIN part p
      ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
    GROUP BY p.p_brand
    """,
)
def join_theta_quantity_over_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + residual theta predicate (hash join with post-filter)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(p, (l.l_partkey == p.p_partkey) & (l.l_quantity > p.p_size))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_over"))
    )


@register(
    "join_asof_latest_order",
    oracle=f"""
    WITH tagged AS (
      SELECT o_custkey AS key, o_orderdate AS t, 0 AS tag,
             o_orderkey, o_totalprice,
             NULL::BIGINT AS event_id, NULL::TIMESTAMP AS ts
      FROM orders
      UNION ALL
      SELECT user_id AS key, ts AS t, 1 AS tag,
             NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice,
             event_id, ts
      FROM events
    ),
    carried AS (
      SELECT key, tag, event_id, ts,
             last_value(o_orderkey IGNORE NULLS) OVER w AS asof_orderkey,
             last_value(o_totalprice IGNORE NULLS) OVER w AS asof_totalprice
      FROM tagged
      WINDOW w AS (PARTITION BY key ORDER BY t, tag, COALESCE(o_orderkey, -1)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, key AS user_id,
           strftime(ts, '{SQL_TS_FMT_US}') AS ts,
           asof_orderkey, asof_totalprice
    FROM carried WHERE tag = 1
    """,
)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each event → latest order at/before its ts.

    Union-window formulation — the scale-correct as-of plan: tag both
    sides, shuffle ONCE on the key, sort by (time, tag) per partition,
    carry the last non-null order columns forward.  No row explosion
    (vs. join+filter+rank, which is quadratic per key), no per-key
    collect.  Spark: `last(..., ignorenulls=True)` over an unbounded
    preceding window; the reference has no as-of operator — this is
    north-star surface (SURVEY.md §2b joins).
    """
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    left = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("tag"),
        "o_orderkey",
        "o_totalprice",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    right = events.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
        "ts",
    )
    w = (
        W.partitionBy("key")
        .orderBy("t", "tag", F.coalesce(F.col("o_orderkey"), F.lit(-1)))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = left.unionByName(right).select(
        "key",
        "tag",
        "event_id",
        "ts",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "event_id",
        F.col("key").alias("user_id"),
        _fmt_ts("ts", TS_FMT_US).alias("ts"),
        "asof_orderkey",
        "asof_totalprice",
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (flagship aggregation).

    Filter is pushed to the parquet scan; partial aggregation map-side;
    decimal accumulators make double sums order-independent.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expand + two-phase aggregate in Spark)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )



@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — THE count-distinct at 100 TB.

    The raw estimate is engine-specific
    (DuckDB's HLL differs), so the graded edge carries (a) the exact
    count and (b) a deterministic bound assertion
    ``|approx − exact| ≤ 5%·exact``: Spark's HLL++ is hash-based and
    merge-order-independent, so the boolean is stable, and the oracle's
    literal TRUE turns any estimator regression into a hash mismatch.
    rsd=0.01 → ~1% typical error, a few KB of sketch per group; the 5%
    gate leaves margin across testdata generations.
    """
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")).cast("double")
    return agg.select(
        "event_type",
        "exact_users",
        (err <= 0.05 * F.col("exact_users").cast("double")).alias("approx_within_5pct"),
    )



@register(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal')} AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("sum_acctbal"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping columns (all 2² grouping sets)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,  # noqa: the Spark side below must keep the same cast semantics
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube)."""
    l = load_table(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "agg_pivot",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS status_f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS status_o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS status_p
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status → columns per market segment.

    Pivot values are declared (not discovered) — at scale an
    undeclared pivot triggers an extra distinct-values job.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    piv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "agg_variance_stats",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             COUNT(l_quantity) AS n,
             SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,4))) AS s1,
             SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,4)) * CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,4))) AS s2
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n,
           CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean_qty,
           (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
            - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
           / (n - 1) AS var_qty
    FROM g
    """,
)
def agg_variance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic variance via exact decimal moments.

    Built-in stddev/variance stream in shuffle order (Welford) —
    nondeterministic last-ulps across runs AND engines.  Accumulating
    n/Σx/Σx² exactly in decimal and composing in double at the edge is
    order-independent and still one map-side-combinable aggregate.
    """
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,4)")
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("l_quantity").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        (s1 / n).alias("mean_qty"),
        ((s2 - s1 * s1 / n) / (n - 1)).alias("var_qty"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(row_number() OVER w AS INT) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per customer (unique tiebreak)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "window_lag_lead",
    oracle=f"""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event timeline."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) OVER w AS DOUBLE) AS running_value,
           COUNT(*) OVER w AS running_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per user, decimal-exact."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(30,8)")).over(w).cast("double").alias("running_value"),
        F.count("*").over(w).alias("running_n"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER w AS n_in_band,
           CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) OVER w AS DOUBLE) AS sum_in_band
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based): orders within 10k below current price."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_in_band"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).over(w).cast("double").alias("sum_in_band"),
    )


@register(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per priority class."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_limit_global",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def sort_limit_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 — Spark plans TakeOrderedAndProject: each
    partition keeps its local top-100, driver merges; never a full sort
    at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ranked window + filter.

    Spark inserts a WindowGroupLimit (partial top-k before the
    shuffle) — this is the scalable per-group top-k."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_F_CUSTS = "SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'"
_O_CUSTS = "SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'"


def _status_custs(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == status).select("o_custkey").distinct()


@register("set_union_all", oracle=f"{_F_CUSTS} UNION ALL {_O_CUSTS}")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union, no dedup shuffle)."""
    return _status_custs(spark, sf_dir, "F").unionByName(_status_custs(spark, sf_dir, "O"))


@register("set_union_distinct", oracle=f"{_F_CUSTS} UNION {_O_CUSTS}")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (dedup by full row)."""
    return (
        _status_custs(spark, sf_dir, "F")
        .unionByName(_status_custs(spark, sf_dir, "O"))
        .distinct()
    )


@register("set_intersect", oracle=f"{_F_CUSTS} INTERSECT {_O_CUSTS}")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers with both F and O orders."""
    return _status_custs(spark, sf_dir, "F").intersect(_status_custs(spark, sf_dir, "O"))


@register("set_except", oracle=f"{_F_CUSTS} EXCEPT {_O_CUSTS}")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — F-only customers."""
    return _status_custs(spark, sf_dir, "F").subtract(_status_custs(spark, sf_dir, "O"))


# Bag (ALL) variants: multiplicity-preserving, so the inputs keep
# their duplicates — per-status priority multisets on a keyed slice.
_F_PRIOS = (
    "SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F' AND o_orderkey < 20000"
)
_O_PRIOS = (
    "SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 20000"
)


def _status_prios(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == status) & (F.col("o_orderkey") < 20000)
    ).select("o_orderpriority")


@register("set_intersect_all", oracle=f"{_F_PRIOS} INTERSECT ALL {_O_PRIOS}")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: each row survives
    min(multiplicity-left, multiplicity-right) times."""
    return _status_prios(spark, sf_dir, "F").intersectAll(
        _status_prios(spark, sf_dir, "O")
    )


@register("set_except_all", oracle=f"{_F_PRIOS} EXCEPT ALL {_O_PRIOS}")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference: multiplicities subtract, floor 0."""
    return _status_prios(spark, sf_dir, "F").exceptAll(
        _status_prios(spark, sf_dir, "O")
    )


# ---------------------------------------------------------------------------
# Scalar-function battery
# ---------------------------------------------------------------------------


@register(
    "scalar_string_fns",
    oracle=r"""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_type) AS type_lower,
           substr(p_name, 1, 10) AS name_prefix,
           length(p_name) AS name_len,
           CAST(regexp_extract(p_brand, '(\d+)', 1) AS BIGINT) AS brand_num,
           replace(p_type, ' ', '_') AS type_snake,
           concat(p_brand, ':', p_type) AS brand_type,
           trim('  ' || p_brand || '  ') AS brand_trim
    FROM part
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery: case, substring, length, regexp, replace, concat."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_extract("p_brand", r"(\d+)", 1).cast("long").alias("brand_num"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
    )


@register(
    "scalar_date_fns",
    oracle=f"""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT)   AS order_day,
           strftime(date_trunc('month', o_orderdate), '{SQL_TS_FMT}') AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch95,
           strftime(o_orderdate + INTERVAL 30 DAY, '{SQL_TS_FMT}') AS due_date,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow_sunday0
    FROM orders
    """,
)
def scalar_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery: extract, trunc, diff, interval add, day-of-week.

    Day-of-week conventions differ across engines (Spark dayofweek is
    1=Sunday, DuckDB dayofweek is 0=Sunday) — normalized to Sunday=0.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        _fmt_ts(F.date_trunc("month", d)).alias("month_start"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch95"),
        _fmt_ts(d + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        (F.dayofweek(d) - 1).alias("dow_sunday0"),
    )


@register(
    "scalar_json_fns",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS prop_k_mod
    FROM events
    """,
)
def scalar_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        k.alias("prop_k"),
        (k % 10).alias("prop_k_mod"),
    )


@register(
    "scalar_array_fns",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id,
           len(words) AS n_words,
           len(list_distinct(words)) AS n_distinct,
           array_to_string(words[1:3], ' ') AS first3,
           list_min(words) AS min_word,
           list_max(words) AS max_word,
           list_contains(words, 'spark') AS has_spark
    FROM w
    """,
)
def scalar_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over tokenized document text."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        F.array_join(F.slice(words, 1, 3), " ").alias("first3"),
        F.array_min(words).alias("min_word"),
        F.array_max(words).alias("max_word"),
        F.array_contains(words, "spark").alias("has_spark"),
    )


@register(
    "scalar_conditional_fns",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS size_bucket,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS status_or_pending,
           GREATEST(o_totalprice, 100000.0) AS at_least_100k,
           LEAST(CAST(o_orderkey AS BIGINT), o_custkey) AS min_key,
           (o_orderstatus = 'O' AND o_totalprice > 150000) AS is_big_open
    FROM orders
    """,
)
def scalar_conditional_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional battery: CASE, COALESCE/NULLIF, GREATEST/LEAST, bool."""
    o = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp < 50000, "small").when(tp < 200000, "medium").otherwise("large").alias("size_bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending")).alias(
            "status_or_pending"
        ),
        F.greatest(tp, F.lit(100000.0)).alias("at_least_100k"),
        F.least(F.col("o_orderkey"), F.col("o_custkey")).alias("min_key"),
        ((F.col("o_orderstatus") == "O") & (tp > 150000)).alias("is_big_open"),
    )


@register(
    "scalar_math_fns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod97,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(round(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,4)) * CAST(CAST(0.1 AS VARCHAR) AS DECIMAL(2,1)), 2) AS DOUBLE) AS price_tithe
    FROM lineitem
    """,
)
def scalar_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery — IEEE-deterministic ops only in double; rounding
    done in decimal (half-up in both engines) then cast."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil7"),
        F.floor(F.col("l_extendedprice") / 1000.0).alias("price_k_floor"),
        (F.col("l_orderkey") % 97).alias("key_mod97"),
        F.sqrt(F.col("l_quantity")).alias("qty_sqrt"),
        F.round(
            F.col("l_extendedprice").cast("decimal(18,4)") * F.lit("0.1").cast("decimal(2,1)"), 2
        )
        .cast("double")
        .alias("price_tithe"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER w AS last_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over a full-partition frame (explicit
    UNBOUNDED FOLLOWING — the default frame would make last_value the
    current row, a classic silent-wrong-answer)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple count-distincts in one aggregate (Expand-based plan:
    one pass over the data fans each row into one stream per distinct
    column instead of N separate scans)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


@register(
    "scalar_regex_fns",
    oracle=r"""
    SELECT p_partkey,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
           regexp_matches(p_type, '^[A-Z]+ ') AS starts_upper_word,
           regexp_extract(p_type, '([A-Z]+)', 1) AS first_caps,
           len(regexp_split_to_array(p_name, '\s+')) AS n_name_words
    FROM part
    """,
)
def scalar_regex_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: global replace, match test, capture extract,
    regex split.  (Spark regexp_replace is global by default; DuckDB
    needs the 'g' flag — an easy cross-engine divergence.)"""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.col("p_type").rlike("^[A-Z]+ ").alias("starts_upper_word"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_caps"),
        F.size(F.split(F.col("p_name"), r"\s+")).cast("long").alias("n_name_words"),
    )


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS qty_q25,
           quantile_cont(l_quantity, 0.5)  AS qty_q50,
           quantile_cont(l_quantity, 0.75) AS qty_q75,
           quantile_cont(l_quantity, 0.9)  AS qty_q90,
           quantile_cont(l_extendedprice, 0.5)  AS price_p50,
           quantile_cont(l_extendedprice, 0.95) AS price_p95,
           quantile_cont(l_extendedprice, 0.99) AS price_p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics).

    One scalar column per percentile: the driver's hasher crashes on a
    top-level array<double> column.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    standard (1-f)*a[k] + f*a[k+1] interpolation — bit-identical on
    identical input sets, verified including the 95/99 price tail.
    One ``percentile(col, array(...))`` aggregate per input column
    (single sort each), then the array is projected to scalar columns.
    Exact percentiles need the group's values sorted (one shuffle);
    at 100 TB prefer ``percentile_approx`` (t-digest sketch,
    map-combinable — registered as semi_percentile_approx) unless the
    contract demands exactness.
    """
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.9D))").alias("_qq"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))").alias("_pt"),
    )
    return agg.select(
        "l_returnflag",
        F.col("_qq")[0].alias("qty_q25"),
        F.col("_qq")[1].alias("qty_q50"),
        F.col("_qq")[2].alias("qty_q75"),
        F.col("_qq")[3].alias("qty_q90"),
        F.col("_pt")[0].alias("price_p50"),
        F.col("_pt")[1].alias("price_p95"),
        F.col("_pt")[2].alias("price_p99"),
    )


@register(
    "window_ntile",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS decile,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile_in_priority
    FROM orders WHERE o_orderkey < 5000
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: global deciles of order value + quartiles
    within each priority class (unique-key tie-break → deterministic).

    The global-ORDER ntile is a single-partition sort by construction
    — correct for bounded slices like this filtered subset; at full
    scale the partitioned variant (quartile_in_priority) is the shape
    to reach for, or percent_rank × bucket arithmetic."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(10).over(W.orderBy("o_totalprice", "o_orderkey")).alias("decile"),
        F.ntile(4)
        .over(W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey"))
        .alias("quartile_in_priority"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 0 AS tag FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS tag FROM events WHERE event_type = 'click'
    ),
    carried AS (
      SELECT user_id, ts, event_id, tag,
             last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER w AS asof_eid,
             last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS) OVER w AS asof_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CASE WHEN ts - asof_ts <= INTERVAL 1 DAY THEN asof_eid END AS purchase_event_id,
           CASE WHEN ts - asof_ts <= INTERVAL 1 DAY
                THEN strftime(asof_ts, '%Y-%m-%d %H:%M:%S') END AS purchase_ts
    FROM carried WHERE tag = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH tolerance: each click matches the latest prior
    purchase by the same user, but only if it happened within 1 day —
    stale matches become NULL (the timeseries-engine `tolerance`/
    `within` parameter).

    Same single-shuffle union-window plan as ``join_asof_latest_order``
    — the tolerance is a post-carry predicate, so bounding the match
    window costs zero extra shuffles or joins."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(0).alias("tag")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(1).alias("tag")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = purchases.unionAll(clicks).select(
        "user_id",
        "ts",
        "event_id",
        "tag",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("asof_eid"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("asof_ts"),
    )
    # Microsecond-exact staleness bound: cast-to-long would truncate to
    # whole seconds and disagree with the oracle's full-precision
    # INTERVAL comparison for gaps inside the truncation window.
    within = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))
        <= 86400 * 1_000_000
    )
    return carried.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.when(within, F.col("asof_eid")).alias("purchase_event_id"),
        F.when(within, F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss")).alias("purchase_ts"),
    )


@register(
    "scalar_bit_fns",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 3 AS shifted_left,
           o_orderkey >> 2 AS shifted_right,
           CAST(bit_count(o_orderkey) AS INT) AS pop_count
    FROM orders WHERE o_orderkey < 5000
    """,
)
def scalar_bit_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-manipulation battery: and/or/xor masks, shifts, popcount —
    the primitives hash partitioners, bitmap indexes, and bucket
    routers are built from (all JVM-side, codegen-friendly)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 3).alias("shifted_left"),
        F.shiftright(k, 2).alias("shifted_right"),
        F.bit_count(k).alias("pop_count"),
    )


@register(
    "join_temporal_scd2",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts,
             CASE WHEN value >= 50.0 THEN 'high' ELSE 'low' END AS tier,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id, v.user_id,
           strftime(v.ts, '{SQL_TS_FMT_US}') AS view_ts,
           p.tier,
           strftime(p.ts, '{SQL_TS_FMT_US}') AS tier_since
    FROM events v JOIN p
      ON v.user_id = p.user_id
     AND v.ts >= p.ts
     AND (p.valid_to IS NULL OR v.ts < p.valid_to)
    WHERE v.event_type = 'view'
    """,
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join: each user's purchase history becomes an
    SCD2-style interval table (tier = high/low by purchase value,
    effective from that purchase until the next), and every view event
    joins to the tier active at view time — the warehouse pattern for
    joining facts to slowly-changing dimensions *as of* the fact's
    timestamp.

    One window pass builds the intervals (purchase-sized), then an
    equi join on user_id carries the interval predicate — the shuffle
    is keyed on the real key, the non-equi part only filters within
    the matched key group.  Timestamps are formatted at the compared
    edge (µs precision) per the as-of convention.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("p_ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("p_ts"),
            F.when(F.col("value") >= 50.0, "high").otherwise("low").alias("tier"),
        )
        .withColumn("valid_to", F.lead("p_ts").over(w))
        .drop("event_id")
    )
    v = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("v_ts")
    )
    j = v.join(
        p,
        (v.user_id == p.user_id)
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("valid_to").isNull() | (F.col("v_ts") < F.col("valid_to"))),
    )
    return j.select(
        "event_id",
        v.user_id.alias("user_id"),
        F.date_format("v_ts", TS_FMT_US).alias("view_ts"),
        "tier",
        F.date_format("p_ts", TS_FMT_US).alias("tier_since"),
    )


@register(
    "window_percent_of_total",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS VARCHAR) AS DECIMAL(30,8)))
               AS dec_rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           CAST(CAST(dec_rev AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(CAST(dec_rev AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(dec_rev) OVER (PARTITION BY region) AS VARCHAR) AS DOUBLE)
             AS region_share
    FROM rev
    """,
)
def window_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its
    region's total — the percent-of-total window pattern over the
    supplier→nation→region rollup.

    The revenue aggregate is decimal-exact; the region total is a
    decimal window sum over the 25-row nation aggregate (keyspace-
    sized — a window here is NOT the RFM scale trap); both cast to
    double only at the final division.  Bounded dims (nation/region)
    broadcast into the
    lineitem scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,8)"
                )
            ).alias("dec_rev")
        )
    )
    w = W.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("dec_rev").cast("double").alias("revenue"),
        (
            F.col("dec_rev").cast("double")
            / F.sum("dec_rev").over(w).cast("double")
        ).alias("region_share"),
    )


@register(
    "join_bucketed_colocate",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(CAST((l.l_extendedprice * (1 - l.l_discount)) AS VARCHAR)
                 AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: orders and lineitem written
    ``bucketBy(8, orderkey)`` + sorted, then joined WITHOUT any
    exchange — the scan's bucketing satisfies the join's distribution
    requirement (tests/test_round5_properties pins zero Exchange under
    the merge hint).

    This is the 100 TB fact-fact join pattern: one bucketed write
    amortizes the shuffle across every later join/aggregate on the
    key.  The hinted SortMergeJoin makes the demonstration honest —
    without bucketing this plan would need two full exchanges.
    Results are exactly the plain join's (the oracle doesn't know the
    layout changed — that's the point).
    """
    import hashlib
    import os
    import shutil
    import tempfile

    # Bucket-file lifecycle (VERDICT r5): the layout is CONTENT-keyed —
    # sf_dir plus an mtime/size fingerprint of the source parquet — so
    # repeated sessions on the same testdata REUSE one bucketed write
    # instead of each paying (and leaking) their own.  Concurrency
    # stays safe without app-id keys: writers build into a private
    # staging dir and publish with an atomic os.rename; the loser of a
    # race just deletes its staging copy and reads the winner's files.
    # Catalog entries are per-session (in-memory catalog), created via
    # DDL over the shared external location — no metastore growth.
    fp_src = []
    for t in ("orders", "lineitem"):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        fp_src.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    fp = hashlib.sha1(";".join(fp_src).encode()).hexdigest()[:12]
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = os.path.join(tempfile.gettempdir(), "fauna_buckets")
    final = os.path.join(root, f"{key}_{fp}")
    to_name, tl_name = f"b_orders_{key}_{fp}", f"b_lineitem_{key}_{fp}"

    if not os.path.isdir(final):
        app_id = spark.sparkContext.applicationId.replace("-", "_")
        staging = os.path.join(root, f"staging_{app_id}")
        shutil.rmtree(staging, ignore_errors=True)
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        for df, col, sub in ((o, "o_orderkey", "orders"), (l, "l_orderkey", "lineitem")):
            tmp_tbl = f"stage_{sub}_{app_id}"
            (
                df.write.mode("overwrite")
                .bucketBy(8, col)
                .sortBy(col)
                .format("parquet")
                .option("path", os.path.join(staging, sub))
                .saveAsTable(tmp_tbl)
            )
            # External table: DROP removes the catalog entry, files stay.
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        os.makedirs(root, exist_ok=True)
        try:
            os.rename(staging, final)  # atomic publish
            # Prune bucket layouts of SUPERSEDED testdata generations
            # for this sf_dir (driver regenerates between rounds) so
            # /tmp growth is bounded at one layout per live generation.
            # Also sweep staging dirs older than an hour — a writer
            # that crashed between saveAsTable and the rename would
            # otherwise leak its copy forever (code-review r6); live
            # concurrent writers are minutes-old at most.
            import time

            for stale in os.listdir(root):
                path = os.path.join(root, stale)
                if stale.startswith(f"{key}_") and stale != f"{key}_{fp}":
                    shutil.rmtree(path, ignore_errors=True)
                elif stale.startswith("staging_"):
                    try:
                        if time.time() - os.path.getmtime(path) > 3600:
                            shutil.rmtree(path, ignore_errors=True)
                    except OSError:
                        pass
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)  # lost the race
    if not spark.catalog.tableExists(to_name):
        spark.sql(
            f"""CREATE TABLE {to_name} (o_orderkey BIGINT, o_orderpriority STRING)
            USING PARQUET CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)
            INTO 8 BUCKETS LOCATION '{os.path.join(final, "orders")}'"""
        )
        spark.sql(
            f"""CREATE TABLE {tl_name}
            (l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE)
            USING PARQUET CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
            INTO 8 BUCKETS LOCATION '{os.path.join(final, "lineitem")}'"""
        )
    ob, lb = spark.table(to_name), spark.table(tl_name)
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "agg_approx_percentile_bound",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           l_extendedprice AS exact_median,
           TRUE AS approx_rank_in_band
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def agg_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate percentile (Spark's GK/KLL-style
    ``percentile_approx`` sketch) graded bound-style: the edge carries
    the EXACT lower median (value at rank ⌈n/2⌉, replayed by DuckDB)
    plus an honestly-computed boolean — the true rank of the sketch's
    median estimate lies within ±1.5% of the target rank (accuracy
    10000 → rank error ≤ 1e-4; the band is 150× that) — which the
    oracle emits as literal TRUE.

    The sketch is the 100 TB percentile pattern: fixed-size partial
    state per partition, merged once, never a global sort.  The exact
    median here is the audit, not the production path — and the audit
    itself is scale-safe: rank-at-median is computed with the bucketed
    two-phase rank (``ml_auc_ranksum`` shape), never a window
    partitioned solely by the 3-value returnflag key, which would
    funnel a third of the table through one task (VERDICT r5).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    li = cached(li)
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.count("*").alias("n"),
    )
    # Two-phase exact rank: value-range buckets rank locally; a tiny
    # per-(flag, bucket) counts table (broadcast) shifts local ranks to
    # per-flag global ranks.  Ranks are exact integers, so the
    # decomposition reproduces the single-window spelling bit-for-bit.
    bucketed = li.withColumn(
        "bucket", F.floor(F.col("l_extendedprice") / F.lit(1000.0)).cast("long")
    )
    w_local = W.partitionBy("l_returnflag", "bucket").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    local = bucketed.withColumn("local_rn", F.row_number().over(w_local))

    offsets = bucket_offsets(
        bucketed, ["l_returnflag"], "bucket", F.lit(1), total_alias="nn"
    )
    exact = (
        local.join(F.broadcast(offsets), ["l_returnflag", "bucket"])
        .filter(
            F.col("offset") + F.col("local_rn") == F.floor((F.col("nn") + 1) / 2)
        )
        .select("l_returnflag", F.col("l_extendedprice").alias("exact_median"))
    )
    rank_of_approx = li.join(F.broadcast(approx), "l_returnflag").groupBy(
        "l_returnflag"
    ).agg(
        (
            F.sum((F.col("l_extendedprice") <= F.col("approx_median")).cast("long"))
            .cast("double")
            / F.count("*")
        ).alias("approx_rank_frac")
    )
    return (
        approx.join(exact, "l_returnflag")
        .join(rank_of_approx, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "exact_median",
            (
                (F.col("approx_rank_frac") >= 0.485)
                & (F.col("approx_rank_frac") <= 0.515)
            ).alias("approx_rank_in_band"),
        )
    )


# --------------------------------------------------------------------------
# agg_weighted_median — two-phase weighted order statistic
# --------------------------------------------------------------------------

_WM_BUCKET = 1000.0  # price-range bucket width for the two-phase rank


@register(
    "agg_weighted_median",
    oracle="""
    WITH li AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
             CAST(floor(l_quantity) AS BIGINT) AS w
      FROM lineitem
    ),
    tot AS (
      SELECT l_returnflag, SUM(w) AS total_w FROM li GROUP BY l_returnflag
    ),
    r AS (
      SELECT li.l_returnflag, li.l_extendedprice, t.total_w,
             SUM(li.w) OVER (PARTITION BY li.l_returnflag
                             ORDER BY li.l_extendedprice, li.l_orderkey,
                                      li.l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_w
      FROM li JOIN tot t ON t.l_returnflag = li.l_returnflag
    ),
    sel AS (
      SELECT l_returnflag, total_w,
             MIN(l_extendedprice) FILTER (WHERE run_w * 2 >= total_w)
               AS weighted_median_price
      FROM r GROUP BY l_returnflag, total_w
    )
    SELECT l_returnflag, CAST(total_w AS BIGINT) AS total_weight,
           weighted_median_price
    FROM sel
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the extended price at which the running
    quantity-weight first reaches half the group's total — the robust
    'typical price per unit sold' statistic (an unweighted median
    over-counts small orders).

    Weights are exact integers (quantities are integral-valued); the
    crossing test is the integer inequality ``2·run_w ≥ total_w``, and
    the selected value is a MIN over qualifying prices — so the result
    is exact with zero float accumulation.

    The running weight never uses a bare ``PARTITION BY returnflag``
    window (3-partition funnel): local running weights within
    (flag, price-bucket) sub-windows plus a broadcast per-bucket
    offset table reproduce the global running weight exactly — the
    repo's two-phase rank generalized to weighted rank.  The oracle
    uses the single-window spelling; outputs are identical integers.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        # floor() in BOTH engines: Spark's double->long cast truncates
        # while DuckDB's CAST(double AS BIGINT) rounds — a fractional
        # quantity in regenerated testdata would silently diverge the
        # weights (code-review r6).  floor agrees everywhere.
        F.floor(F.col("l_quantity")).cast("long").alias("w"),
    )
    bucketed = li.withColumn(
        "bkt", F.floor(F.col("l_extendedprice") / F.lit(_WM_BUCKET)).cast("long")
    )
    bucketed = cached(bucketed)
    w_local = W.partitionBy("l_returnflag", "bkt").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    local = bucketed.withColumn("local_w", F.sum("w").over(w_local))

    offsets = bucket_offsets(
        bucketed, ["l_returnflag"], "bkt", F.col("w"), total_alias="total_w"
    )
    r = local.join(F.broadcast(offsets), ["l_returnflag", "bkt"]).withColumn(
        "run_w", F.col("offset") + F.col("local_w")
    )
    return (
        r.filter(F.col("run_w") * 2 >= F.col("total_w"))
        .groupBy("l_returnflag", "total_w")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
        .select(
            "l_returnflag",
            F.col("total_w").cast("long").alias("total_weight"),
            "weighted_median_price",
        )
    )


_BLOOM_M = 8192  # bit positions
_BLOOM_K = 3  # hash functions


def _bloom_oracle() -> str:
    from project_fauna_spark.operators._oracle_shared import sql_h32 as _sql_h32

    pos = lambda i: (  # noqa: E731
        f"({_sql_h32('CAST(c_custkey AS VARCHAR)', f'bloom{i}:')} % {_BLOOM_M})"
    )
    opos = lambda i: (  # noqa: E731
        f"({_sql_h32('CAST(o_custkey AS VARCHAR)', f'bloom{i}:')} % {_BLOOM_M})"
    )
    return f"""
    WITH s AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bloom AS (
      SELECT DISTINCT pos FROM s,
        unnest([{", ".join(pos(i) for i in range(_BLOOM_K))}]) AS t(pos)
    ),
    opos AS (
      SELECT o_orderkey, o_custkey, i,
             CASE i {" ".join(f"WHEN {i} THEN {opos(i)}" for i in range(_BLOOM_K))} END AS pos
      FROM orders, unnest(range({_BLOOM_K})) AS t(i)
    ),
    passed AS (
      SELECT o_orderkey, ANY_VALUE(o_custkey) AS o_custkey
      FROM opos JOIN bloom USING (pos)
      GROUP BY o_orderkey
      HAVING COUNT(DISTINCT i) = {_BLOOM_K}
    ),
    stats AS (
      SELECT
        (SELECT COUNT(*) FROM s) AS n_small_keys,
        (SELECT COUNT(*) FROM orders) AS n_big_rows,
        (SELECT COUNT(*) FROM orders o JOIN s ON s.c_custkey = o.o_custkey)
          AS n_exact_pass,
        (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
        (SELECT COUNT(*) FROM passed p JOIN s ON s.c_custkey = p.o_custkey)
          AS n_bloom_true
    )
    SELECT CAST(n_small_keys AS BIGINT) AS n_small_keys,
           CAST(n_big_rows AS BIGINT) AS n_big_rows,
           CAST(n_exact_pass AS BIGINT) AS n_exact_pass,
           CAST(n_bloom_pass AS BIGINT) AS n_bloom_pass,
           n_bloom_true = n_exact_pass AS no_false_negatives,
           CASE WHEN n_big_rows > n_exact_pass
                THEN CAST(n_bloom_pass - n_exact_pass AS DOUBLE)
                     / (n_big_rows - n_exact_pass) END AS fp_rate,
           CAST(n_big_rows - n_bloom_pass AS DOUBLE) / n_big_rows
             AS shuffle_reduction
    FROM stats
    """


@register("join_bloom_semi_prefilter", oracle_builder=_bloom_oracle)
def join_bloom_semi_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter: build an 8192-position, 3-hash
    Bloom set over the selective dimension keys (BUILDING-segment
    customers), test every fact row against it, and audit what the
    filter buys — the runtime-filter pattern (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter``) made explicit, with
    exact false-positive accounting.

    At 100 TB this is the shuffle-volume lever: the Bloom set is a few
    KB broadcast to every scan task, and only passing fact rows enter
    the join shuffle — ``shuffle_reduction`` is the fraction of fact
    bytes that never leave the mappers.  No false negatives by
    construction (a member's positions are all present), verified
    honestly as a compared boolean.

    Parity: positions come from the repo's portable salted-md5 32-bit
    hash (``functions.wordhash.h32``, spelled identically in DuckDB by
    ``_oracle_shared.sql_h32``), so both
    engines build the SAME Bloom set — every output is an exact integer
    or one guarded division.  The membership test is an inverted-index
    join (fact positions × broadcast position set, count-distinct = k),
    never a per-row array scan.

    m is deliberately FIXED at 8192 so the audit exposes load-factor
    economics across scale factors (sf0.1: ~2.9k keys → 66% fill → 29%
    FP yet still a 57% shuffle cut); a production filter sizes
    m ≈ 10·|keys| to hold FP ≈ 1%.
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    def pos(col: Column, i: int) -> Column:
        return _h32(col.cast("string"), f"bloom{i}:") % _BLOOM_M

    cust = load_table(spark, sf_dir, "customer")
    # s feeds the bloom build, the exact semi-join, and the FP audit;
    # passed feeds two aggregates — persist both so the md5 position
    # computation and the membership join run once, not per-consumer.
    s = cached(
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    bloom = (
        s.select(
            F.explode(
                F.array(*[pos(F.col("c_custkey"), i) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    opos = o.select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        pos(F.col("o_custkey"), i).alias("pos"),
                    )
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("t"),
    ).select("o_orderkey", "o_custkey", "t.i", "t.pos")
    passed = cached(
        opos.join(F.broadcast(bloom), "pos")
        .groupBy("o_orderkey")
        .agg(
            F.any_value("o_custkey").alias("o_custkey"),
            F.countDistinct("i").alias("k_hit"),
        )
        .filter(F.col("k_hit") == _BLOOM_K)
    )
    n_small = s.agg(F.count("*").alias("n_small_keys"))
    n_big = o.agg(F.count("*").alias("n_big_rows"))
    n_exact = (
        o.join(s, o.o_custkey == s.c_custkey, "left_semi")
        .agg(F.count("*").alias("n_exact_pass"))
    )
    n_pass = passed.agg(F.count("*").alias("n_bloom_pass"))
    n_true = (
        passed.join(s, passed.o_custkey == s.c_custkey, "left_semi")
        .agg(F.count("*").alias("n_bloom_true"))
    )
    stats = (
        n_small.crossJoin(n_big)
        .crossJoin(n_exact)
        .crossJoin(n_pass)
        .crossJoin(n_true)
    )
    non_members = F.col("n_big_rows") - F.col("n_exact_pass")
    return stats.select(
        F.col("n_small_keys").cast("long").alias("n_small_keys"),
        F.col("n_big_rows").cast("long").alias("n_big_rows"),
        F.col("n_exact_pass").cast("long").alias("n_exact_pass"),
        F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
        (F.col("n_bloom_true") == F.col("n_exact_pass")).alias("no_false_negatives"),
        F.when(
            non_members > 0,
            (F.col("n_bloom_pass") - F.col("n_exact_pass")).cast("double")
            / non_members,
        ).alias("fp_rate"),
        (
            (F.col("n_big_rows") - F.col("n_bloom_pass")).cast("double")
            / F.col("n_big_rows")
        ).alias("shuffle_reduction"),
    )


# --------------------------------------------------------------------------
# agg_winsorized_trimmed_mean — robust location via exact p05/p95 cuts
# --------------------------------------------------------------------------


@register(
    "agg_winsorized_trimmed_mean",
    oracle=f"""
    WITH t AS (SELECT l_extendedprice AS x FROM lineitem),
    n AS (SELECT COUNT(*) AS n FROM t),
    k AS (SELECT n, (n + 19) // 20 AS k_lo, (19 * n) // 20 AS k_hi FROM n),
    ranked AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM t),
    cuts AS (
      SELECT (SELECT x FROM ranked, k WHERE r = k_lo) AS lo_cut,
             (SELECT x FROM ranked, k WHERE r = k_hi) AS hi_cut
    )
    SELECT CAST(k.n AS BIGINT) AS n_rows,
           c.lo_cut, c.hi_cut,
           {sql_davg('t.x')} AS mean_raw,
           {sql_davg('least(greatest(t.x, c.lo_cut), c.hi_cut)')} AS mean_winsor,
           {sql_davg('CASE WHEN t.x BETWEEN c.lo_cut AND c.hi_cut '
                      'THEN t.x END')} AS mean_trimmed
    FROM t CROSS JOIN cuts c CROSS JOIN k
    GROUP BY k.n, c.lo_cut, c.hi_cut
    """,
)
def agg_winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates of ``l_extendedprice``: the raw mean,
    the 5–95 % WINSORIZED mean (tails clamped to the cut values) and
    the 5–95 % TRIMMED mean (tails dropped) — the outlier-resistant
    aggregates a metrics pipeline publishes when raw means are
    leverage-prone.

    The cut values are EXACT order statistics, not sketches: cut ranks
    are pure-integer ``⌈n/20⌉`` / ``⌊19n/20⌋`` (never ``0.05·n`` in
    floating point, whose ulp error flips a ceil at multiples of 20),
    and the value at a rank is selected by the repo's two-phase
    bucketed row_number (bucket = floor(x/4096); raw-data windows carry
    their bucket key — never a single-partition global sort) with
    straddling-bucket pruning: the broadcast offset table identifies
    the ≤2 buckets that can contain a cut rank and every other bucket
    skips the sort entirely.  Ties in
    ``x`` make the tie-broken rank choice irrelevant: position k holds
    the same value under any tie order, which is why the oracle's
    single-window ROW_NUMBER agrees bit-for-bit.  All three means are
    decimal-accumulated (``davg``) with the clamp/trim applied inside
    the aggregate.  Scale: one bucket-keyed shuffle for the ranks, one
    broadcast of the 1-row cut table, one map-combined aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    # b feeds the offset aggregate, the straddling-bucket counts, the
    # rank join AND the final mean pass — persist the 1-column
    # projection so the parquet scan runs once, not four times.
    b = cached(
        li.withColumn("bkt", F.floor(F.col("x") / F.lit(4096.0)).cast("long"))
    )
    offs = bucket_offsets(
        b, [], "bkt", F.lit(1), total_alias="n_total", bucket_total_alias="bn"
    )
    # Order-statistic PRUNING: only the (≤2) buckets whose [offset,
    # offset+bn] interval straddles a cut rank need sorting at all —
    # every other bucket is filtered out BEFORE the rank window, so
    # the windowed sort touches ~1/n_buckets of the data.  bn comes
    # free from the offsets aggregate — no second groupBy pass.
    sel = (
        offs
        .withColumn("k_lo", F.expr("(n_total + 19) div 20"))
        .withColumn("k_hi", F.expr("(19 * n_total) div 20"))
        .filter(
            (
                (F.col("k_lo") > F.col("offset"))
                & (F.col("k_lo") <= F.col("offset") + F.col("bn"))
            )
            | (
                (F.col("k_hi") > F.col("offset"))
                & (F.col("k_hi") <= F.col("offset") + F.col("bn"))
            )
        )
    )
    local_rn = F.row_number().over(W.partitionBy("bkt").orderBy("x"))
    ranked = b.join(F.broadcast(sel), "bkt").withColumn(
        "r", (F.col("offset") + local_rn).cast("long")
    )
    cuts = (
        ranked.filter(
            (F.col("r") == F.col("k_lo")) | (F.col("r") == F.col("k_hi"))
        )
        .agg(
            F.max(F.when(F.col("r") == F.col("k_lo"), F.col("x"))).alias(
                "lo_cut"
            ),
            F.max(F.when(F.col("r") == F.col("k_hi"), F.col("x"))).alias(
                "hi_cut"
            ),
            F.max("n_total").alias("n_rows"),
        )
    )
    base = b.select("x").crossJoin(F.broadcast(cuts))
    clamped = F.least(F.greatest(F.col("x"), F.col("lo_cut")), F.col("hi_cut"))
    kept = F.when(
        (F.col("x") >= F.col("lo_cut")) & (F.col("x") <= F.col("hi_cut")),
        F.col("x"),
    )
    return base.groupBy("n_rows", "lo_cut", "hi_cut").agg(
        davg(F.col("x")).alias("mean_raw"),
        davg(clamped).alias("mean_winsor"),
        davg(kept).alias("mean_trimmed"),
    ).select(
        F.col("n_rows").cast("long").alias("n_rows"),
        "lo_cut",
        "hi_cut",
        "mean_raw",
        "mean_winsor",
        "mean_trimmed",
    )


# --------------------------------------------------------------------------
# agg_lorenz_deciles — customer revenue concentration curve
# --------------------------------------------------------------------------

_LORENZ_BUCKET = 65536  # spend-range bucket width for the two-phase rank


@register(
    "agg_lorenz_deciles",
    oracle="""
    WITH sp AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8)))
               AS spend
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rnk,
             SUM(spend) OVER (ORDER BY spend, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             COUNT(*) OVER () AS n,
             SUM(spend) OVER () AS tot
      FROM sp
    ),
    d AS (
      SELECT (10 * rnk + n - 1) // n AS decile, spend, cum, tot FROM r
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(spend) AS VARCHAR) AS DOUBLE) AS decile_value,
           CAST(CAST(SUM(spend) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(MAX(tot) AS VARCHAR) AS DOUBLE) AS decile_share,
           CAST(CAST(MAX(cum) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(MAX(tot) AS VARCHAR) AS DOUBLE) AS cum_share
    FROM d GROUP BY decile
    """,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration: customers
    sorted by total spend, cut into exact-rank deciles (decile d =
    ranks in (((d−1)·n)/10, (d·n)/10], i.e. ``⌈10·rank/n⌉``), with
    each decile's revenue share and the cumulative share through it —
    the curve whose area deficit IS the Gini that
    ``agg_gini_concentration`` reports as a scalar, and the
    decile-table form of ``q_abc_pareto_classification``'s A/B/C cut.

    Per-customer spend accumulates in decimal(30,8) (VARCHAR-routed
    into DuckDB), so ranks and cumulative sums compare EXACT decimals,
    never doubles.  Both the global rank and the global running spend
    come from the repo's two-phase decomposition in ONE
    ``bucket_offsets_multi`` pass (row counts + spend per
    floor(spend)-range bucket; bucket-local windows carry their bucket
    key), and the decile assignment is pure integer arithmetic.  The
    only doubles are the share divisions at the compared edge.  Scale:
    one custkey aggregate, one bucket-keyed shuffle, a broadcast
    offsets table, and a 10-row rollup.
    """
    sp = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)")).alias("spend")
        )
        .withColumn(
            "bkt",
            F.expr(f"cast(floor(spend) as bigint) div {_LORENZ_BUCKET}"),
        )
    )
    offs = bucket_offsets_multi(
        sp,
        [],
        "bkt",
        [(F.lit(1), "off_n", "n_total"), (F.col("spend"), "off_s", "s_total")],
    )
    w_rn = W.partitionBy("bkt").orderBy("spend", "o_custkey")
    w_cum = w_rn.rowsBetween(W.unboundedPreceding, 0)
    ranked = sp.join(F.broadcast(offs), "bkt").select(
        "spend",
        (F.col("off_n") + F.row_number().over(w_rn)).cast("long").alias("rnk"),
        (F.col("off_s") + F.sum("spend").over(w_cum)).alias("cum"),
        F.col("n_total").cast("long").alias("n"),
        F.col("s_total").alias("tot"),
    )
    decile = F.expr("(10 * rnk + n - 1) div n")
    by_dec = ranked.groupBy(decile.cast("long").alias("decile")).agg(
        F.count("*").alias("n_customers"),
        F.sum("spend").alias("dspend"),
        F.max("cum").alias("dcum"),
        F.max("tot").alias("dtot"),
    )
    dv = F.col("dspend").cast("double")
    tt = F.col("dtot").cast("double")
    return by_dec.select(
        "decile",
        F.col("n_customers").cast("long").alias("n_customers"),
        dv.alias("decile_value"),
        (dv / tt).alias("decile_share"),
        (F.col("dcum").cast("double") / tt).alias("cum_share"),
    )


# --------------------------------------------------------------------------
# agg_supplier_hhi — market concentration per part type
# --------------------------------------------------------------------------

_SQL_SHARE = (
    "CAST(CAST(rev AS VARCHAR) AS DOUBLE) / CAST(CAST(tot AS VARCHAR) AS DOUBLE)"
)


@register(
    "agg_supplier_hhi",
    oracle=f"""
    WITH pr AS (
      SELECT p.p_type, l.l_suppkey,
             SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS VARCHAR)
                      AS DECIMAL(30,8))) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    t AS (SELECT p_type, SUM(rev) AS tot FROM pr GROUP BY 1),
    sh AS (
      SELECT pr.p_type, {_SQL_SHARE} AS share
      FROM pr JOIN t ON t.p_type = pr.p_type
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {sql_dsum('share * share', 30, 20)} AS hhi,
           MAX(share) AS top_share
    FROM sh GROUP BY p_type
    """,
)
def agg_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier concentration per part
    type: Σ (supplier revenue share)² — 1/n for a perfectly split
    market, 1.0 for a monopoly; the antitrust-style metric that says
    which categories have a single-supplier risk
    (``agg_gini_concentration`` and ``agg_lorenz_deciles`` measure
    inequality of ONE population; HHI scores concentration per
    category, squaring shares so big suppliers dominate).

    Revenue accumulates in exact decimal per (type, supplier); each
    share is one double division of VARCHAR-routed decimal edges
    (identical both engines); the HHI sum-of-squares is itself a
    cross-row double sum, so it re-enters decimal — accumulated at
    scale 20 (shares ≤ 1, so precision 30 never overflows) and cast
    back at the edge.  Scale: the only data-sized work is the
    lineitem⋈part equi join (partkey-colocatable) + one
    (type, supplier)-keyed aggregate; everything after is
    category-sized with a broadcast totals table.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
            "r"
        ),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    pr = cached(
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(F.col("r").cast("decimal(30,8)")).alias("rev"))
    )
    t = pr.groupBy("p_type").agg(F.sum("rev").alias("tot"))
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    return (
        pr.join(F.broadcast(t), "p_type")
        .select("p_type", share.alias("share"))
        .groupBy("p_type")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            dsum(F.col("share") * F.col("share"), 30, 20).alias("hhi"),
            F.max("share").alias("top_share"),
        )
    )


# --------------------------------------------------------------------------
# agg_ratio_paradox_discount — weighted vs unweighted means disagree
# --------------------------------------------------------------------------


@register(
    "agg_ratio_paradox_discount",
    oracle=f"""
    SELECT c_mktsegment, n_lines, wavg_discount, avg_discount,
           wavg_discount - avg_discount AS weighting_gap
    FROM (
      SELECT c.c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             {sql_dsum('l.l_discount * l.l_extendedprice', 30, 8)}
               / {sql_dsum('l.l_extendedprice', 30, 8)} AS wavg_discount,
             {sql_dsum('l.l_discount', 30, 8)} / COUNT(*) AS avg_discount
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    """,
)
def agg_ratio_paradox_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-sums vs average-of-ratios per market segment: the
    revenue-weighted mean discount (Σ d·price / Σ price — what the
    finance ledger experiences) against the unweighted per-line mean
    (what a naive AVG(discount) dashboard reports), and their gap —
    positive when big-ticket lines get deeper discounts.  The classic
    aggregation-bias / Simpson's-paradox audit every metrics layer
    needs before anyone trusts an "average rate".

    Both numerators and denominators accumulate in exact decimal
    (VARCHAR-routed at the oracle's cast edges); each mean is ONE
    IEEE division, and the gap is one subtraction of the two —
    deterministic because both operands are already bit-equal.
    Scale: lineitem⋈orders is orderkey-colocatable, customer joins
    broadcast, then a 5-key aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_discount", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_lines"),
            (
                dsum(F.col("l_discount") * F.col("l_extendedprice"))
                / dsum(F.col("l_extendedprice"))
            ).alias("wavg_discount"),
            (dsum(F.col("l_discount")) / F.count("*")).alias("avg_discount"),
        )
    )
    return agg.select(
        "c_mktsegment",
        "n_lines",
        "wavg_discount",
        "avg_discount",
        (F.col("wavg_discount") - F.col("avg_discount")).alias("weighting_gap"),
    )


@register(
    "scalar_higher_order_fns",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           coalesce(array_to_string(list_transform(words[1:5], x -> upper(x)), '|'),
                    '') AS first5_upper,
           coalesce(array_to_string(list_filter(words[1:20], x -> length(x) > 4), '|'),
                    '') AS long_words_20,
           len(list_filter(words, x -> x = 'data')) AS n_data,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(words, x -> CAST(length(x) AS BIGINT))),
                       (a, b) -> a + b) AS total_chars,
           list_has_any(words, ['spark', 'query']) AS mentions_engine,
           list_has_all(words[1:50], ['the']) AS has_the_early
    FROM w
    """,
)
def scalar_higher_order_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order function battery: transform, filter, aggregate
    (fold), exists/forall-style predicates — all JVM-side lambdas."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice(words, 1, 5), lambda x: F.upper(x)), "|"
        ).alias("first5_upper"),
        F.array_join(
            F.filter(F.slice(words, 1, 20), lambda x: F.length(x) > 4), "|"
        ).alias("long_words_20"),
        F.size(F.filter(words, lambda x: x == F.lit("data"))).cast("long").alias("n_data"),
        F.aggregate(
            F.transform(words, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("total_chars"),
        F.exists(words, lambda x: (x == F.lit("spark")) | (x == F.lit("query"))).alias(
            "mentions_engine"
        ),
        F.forall(
            F.array(F.lit("the")), lambda t: F.array_contains(F.slice(words, 1, 50), t)
        ).alias("has_the_early"),
    )
