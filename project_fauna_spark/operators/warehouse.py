"""TPC-H-shaped warehouse queries, batch 2: subquery-heavy shapes.

Round-2 widening of the composed-analytics layer (`analytics.py`):
EXISTS / NOT EXISTS / NOT IN / correlated-average subqueries and
conditional-aggregation ratios — the decorrelation surface (TPC-H
Q4/Q8/Q12/Q14/Q16/Q17/Q22 shapes, adapted to the synthetic schema).

Scale design (100 TB):

* Every correlated subquery is expressed as the join Catalyst would
  decorrelate it into: EXISTS → left-semi, NOT EXISTS / NOT IN (on a
  non-null key) → left-anti, correlated AVG → a per-key aggregate
  joined back.  No nested-loop anywhere.
* Dimension sides (part subsets, supplier blocklist, nation) are
  broadcast; fact-fact joins shuffle on their keys with AQE.
* The Q17 threshold aggregate is computed only over lineitems of the
  filtered brand (semi-reduction first): per-partkey averages are
  unchanged by restricting to those partkeys, and the aggregate input
  drops ~98%.
* Ratio outputs divide two decimal-accumulated sums in double — the
  registry's deterministic-float convention (`registry.dsum`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import _WILSON_HI, _WILSON_LO
from project_fauna_spark.registry import davg, dsum, register, sql_davg, sql_dsum


@register(
    "q_promo_revenue",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
                 / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio (promo revenue %).

    One month of lineitem joined to part (AQE picks the join strategy;
    part scales with SF so it is never hint-broadcast — dim at any
    scale — part is ~1/30 of lineitem and only p_type is read), then a
    single-pass conditional sum.  Both sums accumulate in decimal and
    divide in double at the edge."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias("promo"),
            dsum(rev).alias("total"),
        )
        .select((100.0 * F.col("promo") / F.col("total")).alias("promo_pct"))
    )


@register(
    "q_avg_yearly_small_qty",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#16'
      AND l.l_quantity < (
        SELECT 0.2 * ({sql_davg('l2.l_quantity')})
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q_avg_yearly_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery → per-key agg join-back.

    Revenue of small-quantity lineitems (< 20% of the part's average
    order quantity) for one brand.  The correlated average is computed
    once per partkey — and only for partkeys of the brand (restricting
    to those keys leaves each per-key average unchanged while dropping
    ~98% of the aggregate's input).  Brand partkeys join without a
    broadcast hint (part scales with SF; AQE decides)."""
    part_b = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#16")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(part_b, li.l_partkey == part_b.p_partkey).drop("p_partkey")
    thresh = li_b.groupBy("l_partkey").agg(
        (0.2 * davg(F.col("l_quantity"))).alias("qty_thresh")
    )
    return (
        li_b.join(thresh.withColumnRenamed("l_partkey", "t_partkey"),
                  F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg((dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@register(
    "q_supplier_part_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN subquery → left-anti join, distinct agg.

    Distinct suppliers per (brand, type, size) slice, excluding
    negative-balance suppliers.  The NOT IN rewrites to an anti-join
    against the keys-only blocklist (AQE-sized join) — safe because s_suppkey
    is non-null; the distinct count is one partial-distinct shuffle."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(bad_supp, l.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_dormant_rich_customers",
    oracle=f"""
    SELECT c.c_nationkey, COUNT(*) AS n_custs,
           {sql_dsum('c.c_acctbal')} AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT {sql_davg('c2.c_acctbal')} FROM customer c2 WHERE c2.c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    """,
)
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-AVG subquery + NOT EXISTS → anti-join.

    Above-average-balance customers with no order since 2000, per
    nation.  The global positive-balance average is a 1-row broadcast
    cross join; NOT EXISTS decorrelates to a left-anti on o_custkey
    with the date filter pushed to the orders scan."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_custs"), dsum(F.col("c_acctbal")).alias("total_bal"))
    )


@register(
    "q_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
           {sql_dsum("CASE WHEN n.n_name = 'NATION_7' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY year(o.o_orderdate)
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per order year.

    Fact-fact join shuffles on orderkey; customer joins on custkey;
    nation broadcasts.  The share is a conditional/total ratio of two
    decimal-accumulated sums — group-level, no post-join subquery."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            dsum(F.when(F.col("n_name") == "NATION_7", rev).otherwise(F.lit(0))).alias("nat"),
            dsum(rev).alias("tot"),
        )
        .select("order_year", (F.col("nat") / F.col("tot")).alias("mkt_share"))
    )


@register(
    "q_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts of order priority per flag.

    Shipdate-year filter pushes to the lineitem scan; the join
    shuffles on orderkey; counts are exact integer conditional sums
    (no float concerns)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
    SELECT a.o_custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           CAST(date_diff('day',
                GREATEST(CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE)),
                LEAST(CAST(a.o_orderdate AS DATE) + 14, CAST(b.o_orderdate AS DATE) + 14)
           ) AS INT) AS overlap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.o_orderdate <= b.o_orderdate + INTERVAL 14 DAY
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 14 DAY
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: order pairs of the same customer
    whose 14-day handling windows [orderdate, orderdate+14] intersect.

    The equi-key (o_custkey) carries the shuffle; the overlap band is
    evaluated inside the per-customer join — candidate pairs are
    bounded by per-customer order counts, never a global interval
    product.  (For key-free interval joins the same plan applies after
    bucketing time into coarse epochs and exploding each interval to
    its touched buckets — the band-join pattern in `join_range_band`.)"""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    a = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("orderkey_a"),
        F.col("o_orderdate").alias("date_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("cust_b"),
        F.col("o_orderkey").alias("orderkey_b"),
        F.col("o_orderdate").alias("date_b"),
    )
    day = F.expr("INTERVAL 14 DAYS")
    joined = a.join(
        b,
        (a.o_custkey == b.cust_b)
        & (F.col("orderkey_a") < F.col("orderkey_b"))
        & (F.col("date_a") <= F.col("date_b") + day)
        & (F.col("date_b") <= F.col("date_a") + day),
    )
    end_a = F.date_add(F.col("date_a").cast("date"), 14)
    end_b = F.date_add(F.col("date_b").cast("date"), 14)
    return joined.select(
        "o_custkey",
        "orderkey_a",
        "orderkey_b",
        F.datediff(
            F.least(end_a, end_b),
            F.greatest(F.col("date_a").cast("date"), F.col("date_b").cast("date")),
        ).cast("int").alias("overlap_days"),
    )


@register(
    "join_mark_exists",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             AS has_recent_order
    FROM customer c
    """,
)
def join_mark_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join: EXISTS as a produced BOOLEAN column (not a filter) —
    every customer row survives, annotated with whether a recent order
    exists.

    Spelled as a left join against the distinct key set with a
    null-flag projection — the decorrelation engines use for
    EXISTS-in-SELECT.  The distinct side is keys-only (AQE-sized);
    no row duplication because keys are pre-deduplicated."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("rk"))
        .distinct()
    )
    return c.join(recent, c.c_custkey == F.col("rk"), "left").select(
        "c_custkey",
        "c_mktsegment",
        F.col("rk").isNotNull().alias("has_recent_order"),
    )


@register(
    "join_salted_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority, COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(CAST(l.l_extendedprice AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS order_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey < 2000
    GROUP BY o.o_orderkey, o.o_orderpriority
    """,
)
def join_salted_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: the hot-key mitigation, verified row-identical
    to the plain join (the oracle IS the unsalted join).

    The fact side gets a deterministic per-row salt; the (unique-key)
    dim side explodes ×8 — each hot key's rows spread over 8 reducers
    instead of one straggler.  Salting is correctness-neutral for
    inner joins on unique build keys, which the oracle proves; AQE's
    runtime skew split is the automatic flavor, this is the explicit
    one for when a single key exceeds what one task can hold."""
    from project_fauna_spark.operators.skew import salted_join

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderpriority")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    joined = salted_join(l, o, big_key="l_orderkey", small_key="o_orderkey", n_salts=8)
    return joined.groupBy("o_orderkey", "o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        dsum(F.col("l_extendedprice")).alias("order_total"),
    )


@register(
    "q_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer-by-order-count histogram (two-level
    aggregation over a filtered LEFT join — zero-order customers must
    appear in the 0 bucket, so the filter lives IN the join condition,
    not a WHERE).

    Both aggregations map-combine; the join shuffles on custkey and
    the second agg's key (c_count) has trivial cardinality."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey, s.s_acctbal, s.s_name, s.s_nationkey
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    best AS (
      SELECT p.p_partkey, p.p_size,
             (min({'bal': sp.s_acctbal, 'sk': sp.l_suppkey})).sk AS best_suppkey,
             (min({'bal': sp.s_acctbal, 'sk': sp.l_suppkey})).bal AS best_acctbal
      FROM part p JOIN supply sp ON p.p_partkey = sp.l_partkey
      WHERE p.p_size = 15
      GROUP BY p.p_partkey, p.p_size
    )
    SELECT b.p_partkey, b.p_size, b.best_suppkey, b.best_acctbal, s.s_name
    FROM best b JOIN supplier s ON b.best_suppkey = s.s_suppkey
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — no partsupp table): for each size-15
    part, the cheapest supplier actually supplying it (min account
    balance, suppkey tie-break), re-joined for supplier detail.

    The correlated MIN subquery is a struct-argmin aggregate over the
    (distinct) part-supplier supply pairs; the supplier detail join is
    an AQE-sized join.  The supply-pair dedup is the only big shuffle."""
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = load_table(spark, sf_dir, "supplier")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_size")
    )
    supply = l.join(
        s.select("s_suppkey", "s_acctbal"), l.l_suppkey == F.col("s_suppkey")
    )
    key = F.struct(F.col("s_acctbal").alias("bal"), F.col("l_suppkey").alias("sk"))
    best = (
        supply.join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_partkey", "p_size")
        .agg(
            F.min(key).getField("sk").alias("best_suppkey"),
            F.min(key).getField("bal").alias("best_acctbal"),
        )
    )
    return best.join(
        s.select("s_suppkey", "s_name"),
        best.best_suppkey == F.col("s_suppkey"),
    ).select("p_partkey", "p_size", "best_suppkey", "best_acctbal", "s_name")


@register(
    "q_nation_pair_volume",
    oracle=f"""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_12')
        OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations per year,
    both directions.

    The nation-pair disjunction pushes into the BROADCAST nation dims
    (each side filtered to the 2-nation set before the join, the
    pair-direction predicate applied after) — so the fact shuffles are
    unchanged while the dims prune ~92% of customer/supplier rows via
    the broadcast hash sets."""
    pair = ("NATION_3", "NATION_12")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation"))
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("nk2"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(rev).alias("volume"))
    )


@register(
    "q_top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue
    — the scalar-MAX-subquery HAVING pattern (returns ALL tied rows,
    unlike a LIMIT 1).

    The revenue view computes once and feeds both the max and the
    equality filter; Spark reuses it via a broadcast 1-row max join.
    The decimal-accumulated revenue makes the equality comparison
    engine-stable (two bit-identical doubles)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )  # feeds both the max aggregate and the equality filter
    rev = cached(rev)
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q_disjunctive_predicates",
    oracle=f"""
    SELECT COUNT(*) AS n_matches,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides.

    The optimizer-pattern query: Catalyst derives the per-side
    implied disjunctions (p_brand IN (...), l_quantity BETWEEN
    min..max of any branch) and pushes them below the join, so each
    scan prunes before pairing; the exact 3-branch predicate applies
    inside the join.  Expressed as one declarative filter — no manual
    union-of-three-joins."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = lambda brand, s1, s2, q1, q2: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2)
    )
    cond = (
        branch("Brand#12", 1, 15, 1, 21)
        | branch("Brand#23", 10, 30, 10, 30)
        | branch("Brand#34", 20, 50, 20, 40)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count("*").alias("n_matches"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "q_waiting_orders_sole_blame",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      GROUP BY 1, 2
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    """,
)
def q_waiting_orders_sole_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for a late order —
    the EXISTS + NOT-EXISTS double-correlation on the same fact.

    Decorrelated once via per-order aggregates instead of two
    correlated probes: n_suppliers and n_late_suppliers per order,
    joined back to the late pairs (multi-supplier order AND exactly
    one late supplier ⇔ the original EXISTS ∧ NOT EXISTS).  Three
    shuffles on l_orderkey total, each map-combined."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )  # feeds the pair set AND the per-order late-supplier count
    late = cached(late)
    n_supp = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    n_late = late.groupBy(F.col("l_orderkey").alias("lo")).agg(
        F.count("*").alias("n_late_suppliers")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(n_supp, "l_orderkey")
        .join(n_late, late.l_orderkey == F.col("lo"))
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q_dominant_part_suppliers",
    oracle="""
    WITH per AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(30,8))) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT l_partkey, SUM(q) AS qt FROM per GROUP BY 1)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT p.l_suppkey FROM per p JOIN tot t ON p.l_partkey = t.l_partkey
      WHERE p.q * 5 > t.qt
    )
    """,
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a nested aggregate-with-HAVING —
    suppliers providing more than 20% of some part's total quantity.

    The nested aggregate chains two groupBys that share the
    (l_partkey) shuffle; the dominance test is an exact DECIMAL
    comparison (q*5 > total, no division, no float edge); the IN
    decorrelates to a left-semi join on the (tiny) dominant-supplier
    key set."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,8)")).alias("q")
    )
    tot = per.groupBy(F.col("l_partkey").alias("pk")).agg(F.sum("q").alias("qt"))
    dominant = (
        per.join(tot, per.l_partkey == F.col("pk"))
        .filter(F.col("q") * 5 > F.col("qt"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")


@register(
    "q_product_type_profit",
    oracle=f"""
    SELECT n.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity')} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — supply cost proxied by 10% of retail
    price, no partsupp table): profit per supplier nation per order
    year for one product family.

    The p_name filter prunes part FIRST (AQE-sized join), cascading the
    selectivity through the lineitem join before orders joins in; the
    profit expression accumulates in decimal (sum of differences —
    exactly the shuffle-order-sensitive shape dsum exists for)."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


@register(
    "q_important_stock_value",
    oracle=f"""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(30,8))) AS v
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey,
           CAST(CAST(v AS VARCHAR) AS DOUBLE) AS part_value
    FROM val
    WHERE v * (SELECT COUNT(*) FROM val) > (SELECT SUM(v) * 1.5 FROM val)
    """,
)
def q_important_stock_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (supply value proxied by lineitem extended
    price — no partsupp table): parts whose total traded value exceeds
    1.5x the average part's value (a scale-stable concentration cut).

    The per-part aggregate computes once and feeds both the global
    scalar (1-row broadcast) and the filter; the threshold comparison
    happens in exact DECIMAL (the double cast is only the output
    edge), so the cut line is engine-identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    val = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,8)")).alias("v")
    )  # feeds the global scalar and the filter
    val = cached(val)
    total = val.agg(
        (F.sum("v") * F.lit(1.5).cast("decimal(2,1)")).alias("thresh"),
        F.count("*").alias("n_parts"),
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("v") * F.col("n_parts") > F.col("thresh"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@register(
    "q_market_basket_lift",
    oracle="""
    WITH ib AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (SELECT brand, COUNT(*) AS n FROM ib GROUP BY brand),
    t AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ib),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS nab
      FROM ib a JOIN ib b ON a.ok = b.ok AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, nab,
           CAST(nab AS DOUBLE) / t.n_orders AS support,
           CAST(nab AS DOUBLE) / na.n AS confidence,
           CAST(nab * t.n_orders AS DOUBLE) / CAST(na.n * nbb.n AS DOUBLE) AS lift
    FROM pairs
    JOIN nb na ON na.brand = pairs.brand_a
    JOIN nb nbb ON nbb.brand = pairs.brand_b
    CROSS JOIN t
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    brand pair co-occurring in an order, support, confidence and lift
    = P(ab)·N / (n_a·n_b); top-20 by lift.

    Shape: distinct (order, brand) reduction FIRST (basket-bounded),
    pair generation via self-join on the order key (quadratic only in
    the per-basket distinct-brand count — baskets are small by
    construction, the classic market-basket bound), two brand-count
    broadcasts, and a TakeOrdered top-20.  All ratios are single
    per-row integer→double divisions; the integer products stay far
    below 2^53 (counts ≤ orders).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    ib = (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # ib feeds FOUR consumers (nb, t, and both self-join sides): pin the
    # small distinct basket table so the lineitem⋈part join + distinct
    # run once, not per consumer (r12; the dedup-family cached() rule).
    from project_fauna_spark.cache import cached as _cached

    ib = _cached(ib)
    nb = ib.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    t = ib.agg(F.countDistinct("ok").alias("n_orders"))
    a = ib.select(F.col("ok"), F.col("brand").alias("brand_a"))
    b = ib.select(F.col("ok"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    na = nb.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    nbb = nb.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nbb), "brand_b")
        .crossJoin(F.broadcast(t))
        .select(
            "brand_a",
            "brand_b",
            "nab",
            (F.col("nab").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("nab").cast("double") / F.col("n_a")).alias("confidence"),
            (
                (F.col("nab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "q_semi_additive_snapshot",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             o_totalprice,
             row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT month,
           COUNT(*) AS n_accounts,
           CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
             AS total_balance
    FROM ranked WHERE rn = 1
    GROUP BY month
    """,
)
def q_semi_additive_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure: treating each customer's latest order
    amount in a month as their end-of-month balance, the monthly book
    total sums the LAST value per account — never the sum over time —
    the defining aggregation rule for balances/inventory in any
    warehouse.

    One window keyed on (custkey, month) — WindowGroupLimit prunes to
    the top row per key before the shuffle completes — then a
    keyspace-sized decimal-exact aggregate per month.
    """
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    w = W.partitionBy("o_custkey", month).orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.date_format(month, "yyyy-MM-dd").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_accounts"),
            F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
            .cast("double")
            .alias("total_balance"),
        )
    )


@register(
    "q_abc_pareto_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR)
                 AS DECIMAL(30,8))) AS dec_rev
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT SUM(dec_rev) AS total FROM rev),
    c AS (
      SELECT l_partkey,
             CAST(CAST(dec_rev AS VARCHAR) AS DOUBLE) AS revenue,
             CAST(CAST(SUM(dec_rev) OVER (ORDER BY dec_rev DESC, l_partkey
                                          ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(t.total AS VARCHAR) AS DOUBLE) AS cum_share
      FROM rev CROSS JOIN t
    )
    SELECT l_partkey, revenue, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def q_abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto inventory classification: parts ranked by revenue,
    class A while the running revenue share is ≤ 80%, B to 95%, C
    beyond — the classic concentration cut for stocking policy.

    The running total over the revenue-ranked catalog is the global-
    cumsum shape; here it reuses :func:`_distributed_cumsum` over the
    EXACTLY-associative decimal revenue (range repartition +
    per-partition prefix + broadcast offsets — no single-task sort
    even for a billion-part catalog).  Shares and class cuts are
    per-row double arithmetic on identical decimals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(30,8)"
            )
        ).alias("dec_rev")
    )
    # two-level distributed cumsum spelled inline in decimal arithmetic
    # (_distributed_cumsum casts its output to long — integers only).
    # r12: pin `local` and derive BOTH the per-partition totals and the
    # grand total from the pinned rows — the unpinned spelling ran the
    # lineitem revenue aggregate THREE times (t, local, totals) and the
    # range shuffle twice.  Exactness: decimal sums are associative, so
    # Σ_pid Σ_partition dec_rev == Σ dec_rev bit-for-bit, and the
    # window only appends _lcs (per-_pid sums are unchanged).  The
    # _distributed_cumsum / _grouped_ntile sibling fix, guide §5.
    ranged = rev.repartitionByRange(
        F.col("dec_rev").desc(), F.col("l_partkey")
    ).withColumn("_pid", F.spark_partition_id())
    w_local = (
        W.partitionBy("_pid")
        .orderBy(F.col("dec_rev").desc(), F.col("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = cached(ranged.withColumn("_lcs", F.sum("dec_rev").over(w_local)))
    totals = local.groupBy("_pid").agg(F.sum("dec_rev").alias("_t"))
    t = totals.agg(F.sum("_t").alias("total"))
    prior = totals.select(F.col("_pid").alias("_pid2"), F.col("_t").alias("_t2"))
    offsets = (
        totals.join(F.broadcast(prior), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.sum("_t2").alias("_off"))
    )
    cum_share = (
        (F.col("_lcs") + F.coalesce(F.col("_off"), F.lit(0).cast("decimal(30,8)")))
        .cast("double")
        / F.col("total").cast("double")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(t))
        .select(
            "l_partkey",
            F.col("dec_rev").cast("double").alias("revenue"),
            cum_share.alias("cum_share"),
            F.when(cum_share <= 0.8, "A")
            .when(cum_share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


@register(
    "q_percentile_bands_daily",
    oracle="""
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def q_percentile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily P50/P95 bands per event type — the latency/value dashboard
    aggregation (exact PERCENTILE_CONT over each (type, day) group).

    One shuffle on the composite key; exact percentiles sort each
    group's values (group size = events/type/day — bounded); at 100 TB
    swap in percentile_approx (t-digest, map-combinable) when the
    contract allows, as ``semi_percentile_approx`` demonstrates.
    Interpolation parity with quantile_cont is pinned by
    ``agg_percentile_exact``.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr("percentile(value, 0.5D)").alias("p50"),
            F.expr("percentile(value, 0.95D)").alias("p95"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_events",
            "p50",
            "p95",
        )
    )


# --------------------------------------------------------------------------
# q_pareto_skyline — 2-D dominance frontier (cheapest part per capacity)
# --------------------------------------------------------------------------


@register(
    "q_pareto_skyline",
    oracle="""
    WITH per_p AS (
      SELECT p_retailprice AS price, MAX(p_size) AS max_size
      FROM part GROUP BY p_retailprice
    ),
    run AS (
      SELECT price, max_size,
             MAX(max_size) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM per_p
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN run r ON r.price = p.p_retailprice
    WHERE p.p_size = r.max_size
      AND (r.prev_max IS NULL OR r.max_size > r.prev_max)
    """,
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query over parts: minimize
    ``p_retailprice`` while maximizing ``p_size`` — a part survives iff
    no other part is at-most-as-expensive AND at-least-as-large with
    one strict inequality.  The classic multi-criteria shortlist
    operator (Börzsönyi et al., ICDE 2001) that SQL engines spell as a
    window, here de-funneled for scale.

    Reduction: group to one row per distinct price with the max size at
    that price; a price is on the frontier iff its max size strictly
    exceeds the running max over all strictly-cheaper prices (row-frame
    excluding current works because the grouped table has unique
    prices); frontier member rows are the parts matching (price,
    max_size).  The running max runs TWO-PHASE: a local window inside
    price buckets (floor(price/256) — the window always carries its
    bucket key) plus a broadcast per-bucket prefix-max table, so no
    single task ever sees the whole price domain.  No arithmetic
    touches the compared columns — pure comparisons, so double parity
    is trivial.  Scale: one price-keyed aggregate, bucket-local
    windows, and a broadcast of the (tiny) frontier price set.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_p = (
        part.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("max_size"))
        .withColumn(
            "bkt", F.floor(F.col("p_retailprice") / F.lit(256.0)).cast("long")
        )
    )
    local_prev = F.max("max_size").over(
        W.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bmax = per_p.groupBy("bkt").agg(F.max("max_size").alias("_bmax"))
    bprev = bmax.select(
        "bkt",
        F.max("_bmax")
        .over(W.partitionBy().orderBy("bkt").rowsBetween(W.unboundedPreceding, -1))
        .alias("bucket_prev"),
    )
    # greatest() skips NULLs (null only when BOTH are null — the global
    # head row), so no sentinel value is assumed for the p_size domain.
    prev_eff = F.greatest(local_prev, F.col("bucket_prev"))
    frontier = (
        per_p.join(F.broadcast(bprev), "bkt")
        .withColumn("_prev", prev_eff)
        .filter(F.col("_prev").isNull() | (F.col("max_size") > F.col("_prev")))
        .select("p_retailprice", "max_size")
    )
    return (
        part.join(F.broadcast(frontier), "p_retailprice")
        .filter(F.col("p_size") == F.col("max_size"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# q_customer_reorder_gap — reorder-interval profile per market segment
# --------------------------------------------------------------------------


@register(
    "q_customer_reorder_gap",
    oracle=f"""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(DISTINCT g.o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           {sql_davg('g.gap')} AS avg_gap_days,
           CAST(MAX(g.gap) AS BIGINT) AS max_gap_days
    FROM g JOIN customer c ON c.c_custkey = g.o_custkey
    WHERE g.gap IS NOT NULL
    GROUP BY 1
    """,
)
def q_customer_reorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence per market segment: the day gaps between each
    customer's CONSECUTIVE orders, rolled up to segment-level repeat
    customers, gap counts, mean and worst-case reorder intervals —
    the purchase-frequency profile behind replenishment forecasts and
    churn-risk windows (a segment whose mean gap stretches is
    disengaging).

    The lag window partitions by ``o_custkey`` — a HIGH-cardinality
    key (~10 orders/customer), so per-partition state is bounded at
    any scale, and ties on the order date are harmless: the multiset
    of consecutive differences of a sorted multiset is the same under
    any tie order (equal dates contribute zero gaps).  The customer
    join shuffles on the same custkey the window just partitioned by,
    so the sort/exchange is reused, then one segment-keyed aggregate.
    Gaps are exact integer days; the mean is decimal-accumulated
    (``davg``).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    w = W.partitionBy("o_custkey").orderBy("od")
    gaps = (
        o.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .select("o_custkey", F.datediff("od", "prev").alias("gap"))
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_gaps"),
            davg(F.col("gap")).alias("avg_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
        )
        .select(
            "c_mktsegment",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
            "avg_gap_days",
            "max_gap_days",
        )
    )


# --------------------------------------------------------------------------
# q_orders_backlog_aging — open-order aging buckets with value at risk
# --------------------------------------------------------------------------


@register(
    "q_orders_backlog_aging",
    oracle=f"""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS asof FROM orders),
    open_o AS (
      SELECT date_diff('day', CAST(o_orderdate AS DATE), mx.asof) AS age,
             o_totalprice
      FROM orders CROSS JOIN mx
      WHERE o_orderstatus IN ('O', 'P')
    )
    SELECT CASE WHEN age <= 30 THEN '00-30d'
                WHEN age <= 90 THEN '31-90d'
                WHEN age <= 365 THEN '91-365d'
                ELSE '365d+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS open_value,
           {sql_davg('age')} AS avg_age_days,
           CAST(MAX(age) AS BIGINT) AS max_age_days
    FROM open_o GROUP BY 1
    """,
)
def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: every not-yet-finished order
    (status 'O' or 'P') bucketed by days outstanding relative to the
    newest order date in the data, with order counts, the decimal-
    exact dollar value tied up per bucket, and mean/worst ages — the
    operations report that says where fulfillment is stalling and how
    much revenue is at risk in the long tail.

    The as-of anchor is a 1-row broadcast (MAX over the full table —
    computed on all statuses so the report is stable as orders
    close).  Ages are exact integer days; bucket labels are a pure
    CASE; the value sum is decimal-accumulated (``dsum``) so the
    double edge is order-independent.  Scale: one scan + one
    4-bucket-keyed map-combined aggregate; no joins, no windows.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("od"),
        "o_orderstatus",
        "o_totalprice",
    )
    mx = o.agg(F.max("od").alias("asof"))
    age = F.datediff(F.col("asof"), F.col("od"))
    bucket = (
        F.when(age <= 30, "00-30d")
        .when(age <= 90, "31-90d")
        .when(age <= 365, "91-365d")
        .otherwise("365d+")
    )
    return (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(mx))
        .select(
            bucket.alias("age_bucket"),
            age.alias("age"),
            "o_totalprice",
        )
        .groupBy("age_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("open_value"),
            davg(F.col("age")).alias("avg_age_days"),
            F.max("age").cast("long").alias("max_age_days"),
        )
        .select(
            "age_bucket",
            F.col("n_orders").cast("long").alias("n_orders"),
            "open_value",
            "avg_age_days",
            "max_age_days",
        )
    )


# --------------------------------------------------------------------------
# q_supplier_lead_time — order→ship latency per supplier nation
# --------------------------------------------------------------------------


@register(
    "q_supplier_lead_time",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_davg("date_diff('day', CAST(o.o_orderdate AS DATE),"
                     " CAST(l.l_shipdate AS DATE))")} AS avg_lead_days,
           CAST(MIN(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS min_lead_days,
           CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS max_lead_days
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def q_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment lead time per supplier nation: days from order
    placement to line-item ship date, with per-nation line counts and
    mean/min/max latency — the supplier-SLA scorecard that pairs with
    ``q_orders_backlog_aging`` (what's stuck) by saying who ships slow
    once things do move.

    Lead times are exact integer day diffs; the mean is
    decimal-accumulated (``davg``).  The only data-sized shuffle is
    the lineitem⋈orders equi join on l_orderkey — the natural
    co-location key for both tables (bucketed layouts make it
    shuffle-free; AQE handles the residual skew) — while supplier and
    nation broadcast; the nation rollup is map-combined into ≤25
    groups.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("sd")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lead = F.datediff(F.col("sd"), F.col("od"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            davg(lead).alias("avg_lead_days"),
            F.min(lead).cast("long").alias("min_lead_days"),
            F.max(lead).cast("long").alias("max_lead_days"),
        )
        .select(
            "n_name",
            F.col("n_lines").cast("long").alias("n_lines"),
            "avg_lead_days",
            "min_lead_days",
            "max_lead_days",
        )
    )


# --------------------------------------------------------------------------
# q_part_substitution_candidates — cheapest interchangeable part
# --------------------------------------------------------------------------

_SUB_TOP_K = 25


@register(
    "q_part_substitution_candidates",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_type, p_size, p_retailprice FROM part
    ),
    m1 AS (
      SELECT p_type, p_size,
             MIN(struct_pack(pr := p_retailprice, k := p_partkey)) AS b1
      FROM p GROUP BY p_type, p_size
    ),
    m2 AS (
      SELECT p.p_type, p.p_size,
             MIN(struct_pack(pr := p.p_retailprice, k := p.p_partkey)) AS b2
      FROM p JOIN m1 ON m1.p_type = p.p_type AND m1.p_size = p.p_size
      WHERE struct_pack(pr := p.p_retailprice, k := p.p_partkey) > m1.b1
      GROUP BY p.p_type, p.p_size
    ),
    alt AS (
      SELECT p.p_partkey, p.p_type, p.p_size, p.p_retailprice,
             CASE WHEN m1.b1.k <> p.p_partkey THEN m1.b1 ELSE m2.b2 END AS a
      FROM p
      JOIN m1 ON m1.p_type = p.p_type AND m1.p_size = p.p_size
      LEFT JOIN m2 ON m2.p_type = p.p_type AND m2.p_size = p.p_size
    )
    SELECT p_partkey, p_type, p_size, p_retailprice,
           a.k AS alt_partkey,
           a.pr AS alt_price,
           p_retailprice - a.pr AS savings
    FROM alt
    WHERE a.k IS NOT NULL AND p_retailprice - a.pr > 0
    ORDER BY savings DESC, p_partkey
    LIMIT {_SUB_TOP_K}
    """,
)
def q_part_substitution_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procurement substitute finder: for every part, the CHEAPEST
    OTHER part of the same (type, size) — interchangeable by spec —
    and the top-{25} overpriced parts by potential savings.  The
    "why are we buying this one?" report.

    Needs the per-group minimum AND runner-up (a part that is itself
    the cheapest must fall back to the second-cheapest): both come
    from keyed AGGREGATES over (type, size) — a struct-min pass, then
    a struct-min over the rows strictly above it — never a per-group
    sort window, so group size never concentrates in one task.  The
    (price, partkey) struct key makes every argmin deterministic
    under price ties in both engines; savings is one subtraction of
    raw doubles and the edge is sort+limit (TakeOrdered).  Scale: two
    map-combined aggregates + broadcast joins of the group-count-sized
    minima tables.
    """
    p = cached(
        load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_type", "p_size", "p_retailprice"
        )
    )
    key = F.struct(
        F.col("p_retailprice").alias("pr"), F.col("p_partkey").alias("k")
    )
    m1 = p.groupBy("p_type", "p_size").agg(F.min(key).alias("b1"))
    m2 = (
        p.join(F.broadcast(m1), ["p_type", "p_size"])
        .filter(key > F.col("b1"))
        .groupBy("p_type", "p_size")
        .agg(F.min(key).alias("b2"))
    )
    alt = F.when(
        F.col("b1.k") != F.col("p_partkey"), F.col("b1")
    ).otherwise(F.col("b2"))
    return (
        p.join(F.broadcast(m1), ["p_type", "p_size"])
        .join(F.broadcast(m2), ["p_type", "p_size"], "left")
        .withColumn("a", alt)
        .filter(
            F.col("a.k").isNotNull()
            & (F.col("p_retailprice") - F.col("a.pr") > 0)
        )
        .select(
            "p_partkey",
            "p_type",
            "p_size",
            "p_retailprice",
            F.col("a.k").alias("alt_partkey"),
            F.col("a.pr").alias("alt_price"),
            (F.col("p_retailprice") - F.col("a.pr")).alias("savings"),
        )
        .orderBy(F.col("savings").desc(), "p_partkey")
        .limit(_SUB_TOP_K)
    )


# --------------------------------------------------------------------------
# q_nation_trade_balance — who sells more than they buy?
# --------------------------------------------------------------------------


@register(
    "q_nation_trade_balance",
    oracle=f"""
    WITH exp AS (
      SELECT s.s_nationkey AS nk,
             {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS exports
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1
    ),
    imp AS (
      SELECT c.c_nationkey AS nk,
             {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS imports
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT n.n_name,
           COALESCE(e.exports, 0.0) AS exports,
           COALESCE(i.imports, 0.0) AS imports,
           COALESCE(e.exports, 0.0) - COALESCE(i.imports, 0.0)
             AS trade_balance
    FROM nation n
    LEFT JOIN exp e ON e.nk = n.n_nationkey
    LEFT JOIN imp i ON i.nk = n.n_nationkey
    """,
)
def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade balance per nation: discounted line-item revenue earned
    by the nation's SUPPLIERS (exports) versus spent by its CUSTOMERS
    (imports), and the net — the two sides of the trade graph that
    ``graph_pagerank_trade`` ranks, reduced to the economics headline
    (TPC-H Q5 asks one region's slice; this is the full square-up).

    Both sides are decimal-accumulated revenue sums (``dsum``) keyed
    on the 25-value nation key, aggregated INDEPENDENTLY and then
    broadcast-joined onto the nation dimension — the lineitem scan
    runs once per side with its own natural join path (supplier
    broadcast on one; the orderkey-colocatable orders join + customer
    broadcast on the other).  Nations with no activity report exact
    0.0 rather than dropping out.  The balance is one subtraction of
    the two decimal-rounded doubles at the edge.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
            "rev"
        ),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    exp = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(dsum(F.col("rev")).alias("exports"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    imp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(dsum(F.col("rev")).alias("imports"))
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    exports = F.coalesce(F.col("exports"), F.lit(0.0))
    imports = F.coalesce(F.col("imports"), F.lit(0.0))
    return (
        n.join(F.broadcast(exp), n.n_nationkey == exp.nk, "left")
        .join(F.broadcast(imp), n.n_nationkey == imp.nk, "left")
        .select(
            "n_name",
            exports.alias("exports"),
            imports.alias("imports"),
            (exports - imports).alias("trade_balance"),
        )
    )


# --------------------------------------------------------------------------
# q_value_band_migration — year-over-year customer value transitions
# --------------------------------------------------------------------------

_BAND = """CASE WHEN {s} < 300000 THEN 'low'
                WHEN {s} < 600000 THEN 'mid'
                ELSE 'high' END"""


@register(
    "q_value_band_migration",
    oracle=f"""
    WITH cy AS (
      SELECT o_custkey, year(o_orderdate) AS yr,
             SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8)))
               AS spend
      FROM orders GROUP BY 1, 2
    ),
    banded AS (
      SELECT o_custkey, yr, {_BAND.format(s='spend')} AS band FROM cy
    ),
    moves AS (
      SELECT a.band AS band_from, b.band AS band_to
      FROM banded a JOIN banded b
        ON b.o_custkey = a.o_custkey AND b.yr = a.yr + 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM moves)
    SELECT band_from, band_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS DOUBLE) / MAX(tot.n) AS share
    FROM moves CROSS JOIN tot
    GROUP BY band_from, band_to
    """,
)
def q_value_band_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value migration matrix: each customer's annual spend
    is banded low/mid/high (fixed thresholds), and consecutive-year
    (band_from → band_to) transitions are counted — the CRM churn/
    upgrade flow report ("how many high-value customers slipped to
    mid?") that ``event_rfm_segmentation`` snapshots cannot show
    because it has no time axis.

    Annual spend accumulates in exact decimal (VARCHAR-routed into
    DuckDB), so band assignment compares exact decimals against
    integer literals — no float boundary ambiguity.  The year-over-
    year self-join keys on (custkey, yr+1): customer-keyed, never
    all-pairs.  Counts are exact; the share is one integer division
    against a broadcast total.  Scale: one (custkey, year) aggregate,
    one co-keyed self-join, a 9-cell rollup.
    """
    cy = cached(
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)")).alias("spend")
        )
        .select("o_custkey", "yr", F.expr(_BAND.format(s="spend")).alias("band"))
    )
    a = cy.select(
        F.col("o_custkey").alias("ck"),
        F.col("yr").alias("y"),
        F.col("band").alias("band_from"),
    )
    b = cy.select(
        F.col("o_custkey").alias("ck"),
        (F.col("yr") - F.lit(1)).alias("y"),
        F.col("band").alias("band_to"),
    )
    moves = cached(a.join(b, ["ck", "y"]).select("band_from", "band_to"))
    tot = moves.agg(F.count("*").alias("n"))
    return (
        moves.crossJoin(F.broadcast(tot))
        .groupBy("band_from", "band_to")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            (F.count("*").cast("double") / F.max("n")).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# q_discount_demand_curve — does discounting actually move volume?
# --------------------------------------------------------------------------


@register(
    "q_discount_demand_curve",
    oracle=f"""
    SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)
             AS avg_qty,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 30, 8)} AS revenue
    FROM lineitem
    GROUP BY 1
    """,
)
def q_discount_demand_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand curve across the discount ladder: for each discount
    level (0–10 %), line count, total and mean quantity, and the
    realized discounted revenue — the pricing-analytics readout that
    says whether deeper discounts buy bigger baskets
    (``q_promo_revenue`` measures promo share; this resolves volume
    response BY discount level).

    The discount bucket is ``round(l_discount·100)`` — both engines
    round the SAME stored double, so near-integer inputs bucket
    identically.  Quantities are integer-valued doubles cast to
    BIGINT (exact); ``avg_qty`` is one IEEE division of exact
    integers; revenue uses the decimal-accumulate convention
    (VARCHAR-routed in the oracle).  Scale: ONE map-combined
    aggregate over lineitem into an 11-key frame — no shuffle wider
    than the discount domain.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy(
            F.round(F.col("l_discount") * 100)
            .cast("long")
            .alias("discount_pct")
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(qty).alias("total_qty"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q_unit_price_dispersion — law-of-one-price violations
# --------------------------------------------------------------------------

_DISP_MIN_LINES = 5
_DISP_TOP = 20


@register(
    "q_unit_price_dispersion",
    oracle=f"""
    WITH u AS (
      SELECT l_partkey, l_extendedprice / l_quantity AS up FROM lineitem
    ),
    g AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             MIN(up) AS min_unit_price,
             MAX(up) AS max_unit_price
      FROM u GROUP BY 1
      HAVING COUNT(*) >= {_DISP_MIN_LINES}
    )
    SELECT l_partkey, n_lines, min_unit_price, max_unit_price,
           max_unit_price / min_unit_price AS dispersion_ratio
    FROM g
    ORDER BY dispersion_ratio DESC, l_partkey
    LIMIT {_DISP_TOP}
    """,
)
def q_unit_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-one-price audit: the 20 parts whose realized UNIT price
    (extended price / quantity) varies most across order lines —
    max/min ratio per part, minimum 5 lines — the procurement
    arbitrage / pricing-error shortlist (``agg_supplier_hhi`` scores
    supplier concentration; this scores PRICE inconsistency for the
    same good).

    The unit price is one per-row IEEE division of identical stored
    doubles; min/max compare those bit-equal values and the dispersion
    ratio is one more division — no accumulation anywhere, so no
    decimal routing is needed.  Scale: one map-combined partkey
    aggregate, then TakeOrdered 20 with a total (ratio, partkey)
    tie-break — never a global sort.
    """
    u = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
    )
    g = (
        u.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("up").alias("min_unit_price"),
            F.max("up").alias("max_unit_price"),
        )
        .filter(F.col("n_lines") >= _DISP_MIN_LINES)
    )
    return (
        g.select(
            "l_partkey",
            "n_lines",
            "min_unit_price",
            "max_unit_price",
            (F.col("max_unit_price") / F.col("min_unit_price")).alias(
                "dispersion_ratio"
            ),
        )
        .orderBy(F.col("dispersion_ratio").desc(), "l_partkey")
        .limit(_DISP_TOP)
    )


# --------------------------------------------------------------------------
# q_price_volume_mix — WHY did revenue move?
# --------------------------------------------------------------------------

@register(
    "q_price_volume_mix",
    # Laspeyres-style bridge: ΔRev = ΔQ·P0 (volume effect) +
    # Q1·ΔP (price effect), with P = decimal-exact revenue / integer
    # quantity.  Revenues and quantities accumulate exactly; each P is
    # one division of VARCHAR-routed decimal edges; the effects are
    # products/differences of those identical doubles.
    oracle=f"""
    WITH yr AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 30, 8)} AS rev
      FROM lineitem GROUP BY 1
    ),
    pair AS (
      SELECT y, q, rev,
             LAG(y) OVER (ORDER BY y) AS y0,
             LAG(q) OVER (ORDER BY y) AS q0,
             LAG(rev) OVER (ORDER BY y) AS rev0
      FROM yr
    )
    SELECT y0 AS year_from, y AS year_to,
           rev0 AS rev_from, rev AS rev_to,
           rev - rev0 AS delta_rev,
           (q - q0) * (rev0 / q0) AS volume_effect,
           q * (rev / q - rev0 / q0) AS price_effect
    FROM pair WHERE y0 IS NOT NULL
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price–volume bridge (the FP&A revenue waterfall): for every
    consecutive shipping-year pair, decompose the revenue change into
    a VOLUME effect (quantity change at last year's average unit
    price) and a PRICE effect (this year's quantity times the average
    unit-price change) — the two sum to ΔRev exactly by construction,
    which is the whole point of the Laspeyres bridge
    (``q_yearly_growth`` reports THAT revenue moved; this reports
    WHY).

    Quantities are exact BIGINTs and revenues exact decimals; each
    average price is one IEEE division of bit-equal edges, and the
    effects are products of those identical doubles — deterministic
    with no decimal re-routing because nothing float ever
    RE-accumulates.  Scale: one map-combined year aggregate; the lag
    and arithmetic run on the years-sized frame.
    """
    yr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.year("l_shipdate").cast("long").alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(30,8)"
                )
            )
            .cast("double")
            .alias("rev"),
        )
    )
    ow = W.orderBy("y")
    pair = yr.select(
        "y",
        "q",
        "rev",
        F.lag("y").over(ow).alias("y0"),
        F.lag("q").over(ow).alias("q0"),
        F.lag("rev").over(ow).alias("rev0"),
    ).filter(F.col("y0").isNotNull())
    p0 = F.col("rev0") / F.col("q0")
    p1 = F.col("rev") / F.col("q")
    return pair.select(
        F.col("y0").alias("year_from"),
        F.col("y").alias("year_to"),
        F.col("rev0").alias("rev_from"),
        F.col("rev").alias("rev_to"),
        (F.col("rev") - F.col("rev0")).alias("delta_rev"),
        ((F.col("q") - F.col("q0")) * p0).alias("volume_effect"),
        (F.col("q") * (p1 - p0)).alias("price_effect"),
    )


# --------------------------------------------------------------------------
# q_brand_return_rate — which brands come back, with honest error bars
# --------------------------------------------------------------------------


def _brand_return_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT p.p_brand,
             CAST(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END)
                  AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT p_brand, k AS n_returned, n AS n_lines,
           CAST(k AS DOUBLE) / n AS return_rate,
           {_WILSON_LO} AS ci_low,
           {_WILSON_HI} AS ci_high
    FROM b WHERE n > 0
    """


@register("q_brand_return_rate", oracle=_brand_return_oracle())
def q_brand_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per part brand with 95 % Wilson score bounds — the
    merchandising quality scoreboard where the ERROR BAR is the
    point: a 40 % rate on 12 lines must not outrank a 30 % rate on
    40 000 lines, and comparing ci_low does that ordering honestly
    (``q_returned_items`` totals the returned revenue;
    ``ts_conversion_wilson_ci`` is the same interval on the daily
    conversion series — this reuses its verbatim-shared expression
    strings, so the interval arithmetic cannot fork).

    k and n are exact integer counts from one partkey-colocatable
    join + brand aggregate; the Wilson bounds are the identical
    double expression tree in both engines (scientific-notation
    literals — see the typing note at
    ``_oracle_shared._WILSON_P``), bit-equal with no
    decimal routing.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .cast("long")
            .alias("k"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    return b.select(
        "p_brand",
        F.col("k").alias("n_returned"),
        F.col("n").alias("n_lines"),
        (F.col("k").cast("double") / F.col("n")).alias("return_rate"),
        F.expr(_WILSON_LO).alias("ci_low"),
        F.expr(_WILSON_HI).alias("ci_high"),
    )


# --------------------------------------------------------------------------
# q_growth_contribution_by_segment — WHO moved the number?
# --------------------------------------------------------------------------


@register(
    "q_growth_contribution_by_segment",
    oracle=f"""
    WITH yr AS (
      SELECT c.c_mktsegment AS seg,
             CAST(year(o.o_orderdate) AS BIGINT) AS y,
             {sql_dsum('o.o_totalprice', 30, 8)} AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    pair AS (
      SELECT seg, y, rev,
             LAG(rev) OVER (PARTITION BY seg ORDER BY y) AS rev0,
             LAG(y) OVER (PARTITION BY seg ORDER BY y) AS y0
      FROM yr
    ),
    d AS (
      SELECT seg, y0 AS year_from, y AS year_to, rev - rev0 AS delta_rev
      FROM pair WHERE y0 = y - 1
    ),
    tot AS (
      SELECT year_from, year_to,
             CAST(CAST(SUM(CAST(CAST(delta_rev AS VARCHAR)
                                AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               AS total_delta
      FROM d GROUP BY 1, 2
    )
    SELECT d.seg AS c_mktsegment, d.year_from, d.year_to, d.delta_rev,
           CASE WHEN t.total_delta <> 0
                THEN d.delta_rev / t.total_delta END AS contribution_share
    FROM d JOIN tot t USING (year_from, year_to)
    """,
)
def q_growth_contribution_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-contribution bridge: each market segment's share of the
    total year-over-year revenue change — the "WHO moved the number"
    decomposition that pairs with ``q_price_volume_mix``'s "WHY"
    (price vs volume); segment deltas sum to the total delta by
    construction, so the waterfall always closes.

    Revenue accumulates in exact decimal per (segment, year); each
    delta is a subtraction of bit-equal doubles, the total delta
    re-enters decimal (a cross-row float sum), and each share is ONE
    division — NULL when the total change is exactly zero rather than
    divided by.  Consecutive years only (y0 = y−1), so a segment dark
    for a year contributes nothing instead of bridging a gap.  Scale:
    one broadcast-dim join + (segment, year) aggregate; everything
    after is segments×years-sized.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").cast("long").alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast("double").alias("rev"))
    )
    bys = W.partitionBy("seg").orderBy("y")
    d = (
        yr.select(
            "seg",
            "y",
            "rev",
            F.lag("rev").over(bys).alias("rev0"),
            F.lag("y").over(bys).alias("y0"),
        )
        .filter(F.col("y0") == F.col("y") - 1)
        .select(
            "seg",
            F.col("y0").alias("year_from"),
            F.col("y").alias("year_to"),
            (F.col("rev") - F.col("rev0")).alias("delta_rev"),
        )
    )
    d = cached(d)
    tot = d.groupBy("year_from", "year_to").agg(
        F.sum(F.col("delta_rev").cast("decimal(30,8)"))
        .cast("double")
        .alias("total_delta")
    )
    return d.join(F.broadcast(tot), ["year_from", "year_to"]).select(
        F.col("seg").alias("c_mktsegment"),
        "year_from",
        "year_to",
        "delta_rev",
        F.when(
            F.col("total_delta") != 0,
            F.col("delta_rev") / F.col("total_delta"),
        ).alias("contribution_share"),
    )


# --------------------------------------------------------------------------
# q_top_customer_churn — is the leaderboard stable?
# --------------------------------------------------------------------------

_TOP_N = 10


@register(
    "q_top_customer_churn",
    oracle=f"""
    WITH cy AS (
      SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
             {sql_dsum('o_totalprice', 30, 8)} AS rev
      FROM orders GROUP BY 1, 2
    ),
    top AS (
      SELECT y, o_custkey
      FROM (SELECT y, o_custkey,
                   row_number() OVER (PARTITION BY y
                                      ORDER BY rev DESC, o_custkey) AS rk
            FROM cy)
      WHERE rk <= {_TOP_N}
    ),
    years AS (SELECT DISTINCT y FROM top),
    pairs AS (
      SELECT y AS year_from, LEAD(y) OVER (ORDER BY y) AS year_to
      FROM years
    )
    SELECT p.year_from, p.year_to,
           CAST(COUNT(b.o_custkey) AS BIGINT) AS n_retained,
           CAST({_TOP_N} - COUNT(b.o_custkey) AS BIGINT) AS n_new,
           CAST(COUNT(b.o_custkey) AS DOUBLE) / {_TOP_N} AS retention
    FROM pairs p
    JOIN top a ON a.y = p.year_from
    LEFT JOIN top b ON b.y = p.year_to AND b.o_custkey = a.o_custkey
    WHERE p.year_to IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_top_customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard stability: of each year's top-10 customers by
    revenue, how many are STILL top-10 the next year — the
    key-account churn metric that tells sales whether the big-spender
    set is a stable book of business or a revolving door
    (``q_value_band_migration`` tracks band flows for everyone; this
    watches the head of the distribution, where revenue actually
    concentrates per ``agg_lorenz_deciles``).

    Top-10 per year is a rank over the (customer, year) aggregate —
    a years-partitioned window on an already-reduced frame — with a
    total (revenue, custkey) tie-break on bit-equal decimal-exact
    revenues; retention is ONE division by the constant 10.  Scale:
    one map-combined aggregate; the rank and the year-pair join touch
    only years×customers and years×10 rows.
    """
    cy = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("long").alias("y")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
            .cast("double")
            .alias("rev")
        )
    )
    rk = F.row_number().over(
        W.partitionBy("y").orderBy(F.col("rev").desc(), "o_custkey")
    )
    top = cached(
        cy.select("y", "o_custkey", rk.alias("rk")).filter(F.col("rk") <= _TOP_N)
    )
    years = top.select("y").distinct()
    pairs = years.select(
        F.col("y").alias("year_from"),
        F.lead("y").over(W.orderBy("y")).alias("year_to"),
    ).filter(F.col("year_to").isNotNull())
    a = top.select(F.col("y").alias("year_from"), F.col("o_custkey").alias("ck"))
    b = top.select(F.col("y").alias("yt2"), F.col("o_custkey").alias("ck2"))
    return (
        pairs.join(a, "year_from")
        .join(
            b,
            (F.col("year_to") == F.col("yt2")) & (F.col("ck") == F.col("ck2")),
            "left",
        )
        .groupBy("year_from", "year_to")
        .agg(F.count("ck2").alias("n_retained"))
        .select(
            "year_from",
            "year_to",
            F.col("n_retained").cast("long").alias("n_retained"),
            (F.lit(_TOP_N) - F.col("n_retained")).cast("long").alias("n_new"),
            (F.col("n_retained").cast("double") / F.lit(_TOP_N)).alias(
                "retention"
            ),
        )
    )
