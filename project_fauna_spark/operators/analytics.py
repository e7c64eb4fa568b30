"""TPC-H-shaped analytical queries + subquery patterns.

The composed "real workload" layer over the per-operator registry:
multi-join aggregations with selective filters (the plans a warehouse
actually runs), plus the subquery surface (scalar, IN, EXISTS,
correlated) that Catalyst rewrites into joins.

Scale design (100 TB):

* Selective filters sit directly on the scans (pushed to parquet row
  groups); join order puts the filtered fact first; bounded dims
  (nation/region) broadcast; SF-scaling tables join AQE-sized.
* Correlated subqueries decorrelate into joins (Catalyst does this) —
  expressed here via the DataFrame API as explicit joins where the
  rewrite is mechanical, and via SQL where the subquery form is the
  point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.registry import dsum, register, sql_dsum


@register(
    "q_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → agg → top-10 by revenue.

    Filters push to all three parquet scans; the final top-10 is a
    TakeOrderedAndProject (no global sort)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join; nation broadcasts, supplier
    (SF-scaling) joins AQE-sized — no forced build side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_revenue_forecast",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue_delta,
           COUNT(*) AS n_qualifying
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+agg — the pushdown showcase.

    All four predicates reach the parquet reader (row-group pruning on
    l_shipdate min/max); no shuffle except the 1-row final combine."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"),
            F.count("*").alias("n_qualifying"),
        )
    )


@register(
    "q_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking, top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "subq_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           o_totalprice - (SELECT CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
                                  / COUNT(*) FROM orders) AS delta_vs_mean
    FROM orders
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: each order vs the global mean price.

    Expressed as a 1-row broadcast join — exactly what Catalyst
    rewrites a scalar subquery into; decimal-exact mean.
    """
    o = load_table(spark, sf_dir, "orders")
    mean = o.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast("double") / F.count("*")).alias(
            "mean_price"
        )
    )
    return (
        o.join(F.broadcast(mean))
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_totalprice") - F.col("mean_price")).alias("delta_vs_mean"),
        )
    )


@register(
    "subq_in_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def subq_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → left semi join on the filtered dimension."""
    o = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(
        rich, o.o_custkey == rich.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "subq_correlated_max",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
    WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subq_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated max subquery, decorrelated: window max per key.

    The window form shuffles ONCE on the key — the plan the optimizer
    should (and does) reach from the correlated SQL.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return (
        o.withColumn("max_price", F.max("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("max_price"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "agg_corr_deterministic",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4))) AS sx,
             SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(19,4))) AS sy,
             SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(19,4))) AS sxy,
             SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4)) * CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4))) AS sxx,
             SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(19,4))) AS syy
      FROM lineitem
    )
    , d AS (
      SELECT n,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
             CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
      FROM m
    )
    SELECT n,
           (n * dxy - dx * dy)
             / ( sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy) )
             AS corr_qty_price,
           (n * dxy - dx * dy) / (n * n) AS covar_pop_scaled
    FROM d
    """,
)
def agg_corr_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal moments.

    Built-in corr() streams in shuffle order (nondeterministic last
    ulps); composing from exact Σx/Σy/Σxy/Σx²/Σy² is one map-side-
    combinable aggregate and bit-reproducible across engines.
    """
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,4)")
    y = F.col("l_extendedprice").cast("decimal(19,4)")
    m = l.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = n * sxy - sx * sy
    return m.select(
        "n",
        (num / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias("corr_qty_price"),
        (num / (n * n)).alias("covar_pop_scaled"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-bucketing — one hash aggregate;
    the scalable histogram (vs sort-based exact quantiles)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "q_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,4))) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice,
           {sql_dsum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery of big orders → semi join →
    detail aggregation.  The IN-subquery becomes a left-semi join on
    the pre-aggregated key set — one extra aggregation, no row blowup."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "agg_bitwise_and_stringagg",
    oracle="""
    SELECT l_returnflag,
           bit_and(CAST(l_orderkey % 256 AS BIGINT)) AS band,
           bit_or(CAST(l_orderkey % 256 AS BIGINT)) AS bor,
           bit_xor(CAST(l_orderkey % 256 AS BIGINT)) AS bxor,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitwise_and_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates + ordered string aggregation.

    listagg/string_agg without ORDER BY is shuffle-order garbage —
    the deterministic spelling sorts the distinct set first."""
    l = load_table(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") % 256)
    return l.groupBy("l_returnflag").agg(
        F.bit_and(k).alias("band"),
        F.bit_or(k).alias("bor"),
        F.bit_xor(k).alias("bxor"),
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
    )


@register(
    "scalar_array_set_ops",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_sort(list_distinct((string_split(text, ' '))[1:20])) AS a,
             list_sort(list_distinct((string_split(text, ' '))[21:40])) AS b
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), '|'),
                    '') AS union_ab,
           coalesce(array_to_string(list_sort(list_intersect(a, b)), '|'),
                    '') AS intersect_ab,
           coalesce(array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), '|'),
                    '') AS except_ab
    FROM w
    """,
)
def scalar_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (union/intersect/except), sorted then joined
    to strings for deterministic comparison (engines order set results
    differently; top-level arrays are banned at the graded edge)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = F.split(F.col("text"), " ")
    a = F.array_sort(F.array_distinct(F.slice(words, 1, 20)))
    b = F.array_sort(F.array_distinct(F.slice(words, 21, 20)))
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_union(a, b)), "|").alias("union_ab"),
        F.array_join(F.array_sort(F.array_intersect(a, b)), "|").alias("intersect_ab"),
        F.array_join(F.array_sort(F.array_except(a, b)), "|").alias("except_ab"),
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4)) AS x,
             CAST(CAST(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4)) * CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(19,4)) AS VARCHAR)
                  AS DECIMAL(19,4)) AS x2
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(x) AS s1, SUM(x2) AS s2,
             SUM(x2 * x) AS s3, SUM(x2 * x2) AS s4
      FROM q GROUP BY l_returnflag
    ),
    d AS (
      SELECT l_returnflag, n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2,
             CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS d3,
             CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS d4
      FROM m
    )
    SELECT l_returnflag, n,
           d1 / n AS mean_qty,
           (d3 - 3 * (d1 / n) * d2 + 2 * n * (d1 / n) * (d1 / n) * (d1 / n))
             / (n * ((d2 - d1 * d1 / n) / n) * sqrt((d2 - d1 * d1 / n) / n)) AS skewness_qty,
           (d4 - 4 * (d1 / n) * d3 + 6 * (d1 / n) * (d1 / n) * d2
              - 3 * n * (d1 / n) * (d1 / n) * (d1 / n) * (d1 / n))
             / (n * ((d2 - d1 * d1 / n) / n) * ((d2 - d1 * d1 / n) / n)) - 3 AS kurtosis_qty
    FROM d
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis from exact decimal power sums.

    Built-in skewness()/kurtosis() stream in shuffle order; composing
    from exact Σx..Σx⁴ is order-independent and bit-reproducible.
    x² is truncated back to decimal(19,4) (exact: quantities have
    ≤2 dp, so x² has ≤4 dp) so x³ = x²·x and x⁴ = x²·x² stay inside
    38-digit products on both engines.
    """
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,4)")
    x2 = (x * x).cast("decimal(19,4)")
    m = l.select(F.col("l_returnflag"), x.alias("x"), x2.alias("x2")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x2") * F.col("x")).alias("s3"),
        F.sum(F.col("x2") * F.col("x2")).alias("s4"),
    )
    n = F.col("n")
    d1, d2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    d3, d4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    mean = d1 / n
    var_pop = (d2 - d1 * d1 / n) / n
    skew = (d3 - 3 * mean * d2 + 2 * n * mean * mean * mean) / (
        n * var_pop * F.sqrt(var_pop)
    )
    kurt = (
        d4 - 4 * mean * d3 + 6 * mean * mean * d2 - 3 * n * mean * mean * mean * mean
    ) / (n * var_pop * var_pop) - 3
    return m.select(
        "l_returnflag",
        "n",
        mean.alias("mean_qty"),
        skew.alias("skewness_qty"),
        kurt.alias("kurtosis_qty"),
    )


@register(
    "sql_interface_demo",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def sql_interface_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: temp views + one multi-clause
    ``spark.sql`` statement (join → window → filter) — everything the
    DataFrame queries do is equally expressible as SQL text."""
    from project_fauna_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH ranked AS (
          SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, o_orderkey, o_totalprice, rn
        FROM ranked WHERE rn <= 5
        """
    )


@register(
    "q_yearly_growth",
    oracle="""
    WITH y AS (
      SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS year,
             CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT year, revenue, n_orders,
           lag(revenue) OVER (ORDER BY year) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY year) > 0
                THEN revenue / lag(revenue) OVER (ORDER BY year) - 1.0
           END AS yoy_growth
    FROM y
    """,
)
def q_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: decimal-exact yearly sums, then
    a lag ratio over the tiny per-year aggregate — the standard
    finance report shape (the window runs on a handful of rows, never
    on raw orders).
    """
    o = load_table(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    prev = F.lag("revenue").over(W.orderBy("year"))
    return y.select(
        "year",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        F.when(prev > 0, F.col("revenue") / prev - 1.0).alias("yoy_growth"),
    )


@register(
    "q_order_priority_count",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → left-semi join.

    Orders in a quarter-window that had at least one lineitem shipped
    more than 30 days after ordering, counted per priority.  The
    correlated EXISTS is the decorrelated left-semi join with the
    non-equi ship-lag predicate evaluated inside the join."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))
