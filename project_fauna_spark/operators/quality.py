"""Data-quality and reshaping operators.

The validation layer a production pipeline runs before/after loads:
column profiling, referential-integrity checks, FILTER-clause
conditional aggregates, concentration metrics, and wide→long unpivot.

Scale design (100 TB):

* ``dq_profile_columns`` is ONE pass over the table: every metric for
  every profiled column computes in a single aggregate (map-combined),
  then a constant-size ``stack`` reshapes 1×N into rows.  Profiling
  never re-scans per column.
* Referential checks are left-anti joins: the dimension key side
  broadcasts (customer/part/supplier keys are small relative to
  facts); counts are exact.
* ``agg_gini_concentration`` keeps everything integer (sum of squared
  counts) until one final double division — deterministic across
  engines with no float-sum ordering concerns.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.moments import dec19
from project_fauna_spark.functions.ranks import bucket_offsets_multi
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import TS_FMT_US
from project_fauna_spark.plans.registry import dsum, register, sql_dsum


@register(
    "dq_profile_columns",
    oracle="""
    SELECT 'o_orderstatus' AS column_name,
           COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS n_nulls,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           MIN(o_orderstatus) AS min_val, MAX(o_orderstatus) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) FILTER (WHERE o_orderpriority IS NULL),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(*) FILTER (WHERE o_orderkey IS NULL),
           COUNT(DISTINCT o_orderkey),
           MIN(CAST(o_orderkey AS VARCHAR)), MAX(CAST(o_orderkey AS VARCHAR))
    FROM orders
    """,
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: nulls / distincts / min / max per column, one scan.

    All twelve metrics compute in a single aggregate over one pass
    (count-if-null, distinct, min, max × 3 columns); a constant-size
    ``stack`` then pivots the 1-row result long.  Values surface as
    VARCHAR (int→string casts are engine-identical; doubles are
    deliberately not profiled this way — float formatting is not)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", F.col("o_orderkey").cast("string")
    )
    nulls = lambda c: F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}")
    agg = o.agg(
        *[nulls(c) for c in ("o_orderstatus", "o_orderpriority", "o_orderkey")],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in ("o_orderstatus", "o_orderpriority", "o_orderkey")],
        *[F.min(c).alias(f"mn_{c}") for c in ("o_orderstatus", "o_orderpriority", "o_orderkey")],
        *[F.max(c).alias(f"mx_{c}") for c in ("o_orderstatus", "o_orderpriority", "o_orderkey")],
    )
    return agg.selectExpr(
        """stack(3,
             'o_orderstatus',   nn_o_orderstatus,   nd_o_orderstatus,   mn_o_orderstatus,   mx_o_orderstatus,
             'o_orderpriority', nn_o_orderpriority, nd_o_orderpriority, mn_o_orderpriority, mx_o_orderpriority,
             'o_orderkey',      nn_o_orderkey,      nd_o_orderkey,      mn_o_orderkey,      mx_o_orderkey
           ) AS (column_name, n_nulls, n_distinct, min_val, max_val)"""
    )


@register(
    "dq_referential_orphans",
    oracle="""
    SELECT 'orders->customer' AS relationship,
           COUNT(*) AS n_orphans
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: fact rows whose FK misses its dim.

    Each check is a left-anti join with the key-only dim side (AQE
    picks the strategy — the dims scale with SF, so no forced hint); a healthy warehouse reports zeros — the operator exists to
    prove it.  Fact scans read only the FK column."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")

    def orphans(fact, dim, cond, name):
        return (
            fact.join(dim, cond, "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("relationship"), "n_orphans")
        )

    return (
        orphans(o, c, o.o_custkey == c.c_custkey, "orders->customer")
        .unionAll(
            orphans(
                l.select("l_partkey"), p, F.col("l_partkey") == p.p_partkey,
                "lineitem->part",
            )
        )
        .unionAll(
            orphans(
                l.select("l_suppkey"), s, F.col("l_suppkey") == s.s_suppkey,
                "lineitem->supplier",
            )
        )
    )


@register(
    "agg_filter_clause",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
           {sql_dsum('c_acctbal')} AS total_bal,
           CAST(CAST(SUM(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(30,8))) FILTER (WHERE c_acctbal < 0) AS VARCHAR) AS DOUBLE) AS neg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregates (SQL:2003 surface).

    Spark spells FILTER as sum/count over ``when`` with no otherwise
    (nulls are skipped — identical semantics, including an all-null
    group summing to NULL).  Decimal-accumulated sums at the edge."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("c_acctbal") > 5000, 1)).alias("n_rich"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
        dsum(F.when(F.col("c_acctbal") < 0, F.col("c_acctbal"))).alias("neg_bal"),
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH cnt AS (
      SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           1.0 - CAST(SUM(n * n) AS DOUBLE) / (SUM(n) * SUM(n)) AS gini
    FROM cnt GROUP BY c_mktsegment
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration (Gini-Simpson) of order priorities per segment.

    Everything stays integer — counts, squared counts, totals — until
    one final double division, so the float edge is a single
    deterministic operation (no cross-row double summation at all)."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cnt = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    return cnt.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n_orders"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n") * F.sum("n"))
        ).alias("gini"),
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via ``DataFrame.unpivot`` (SQL UNPIVOT / melt).

    Narrow transform: no shuffle at all — each input row emits its
    value-column rows in place, and column pruning still reaches the
    scan (only the id + unpivoted columns are read)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum('l_extendedprice * l_quantity')}
             / {sql_dsum('l_quantity')} AS wavg_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag.

    sum(w·x)/sum(w) with both sums decimal-accumulated and divided in
    double at the edge — the deterministic spelling of weighted mean
    (a raw double sum would be shuffle-order dependent)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        (
            dsum(F.col("l_extendedprice") * F.col("l_quantity"))
            / dsum(F.col("l_quantity"))
        ).alias("wavg_price"),
        F.count("*").alias("n"),
    )


@register(
    "agg_boolean_flags",
    oracle="""
    SELECT c_mktsegment,
           bool_and(c_acctbal > -999) AS all_above_floor,
           bool_or(c_acctbal > 9000) AS any_very_rich,
           COUNT(*) FILTER (WHERE c_acctbal < 0) AS n_negative,
           CAST(COUNT(*) FILTER (WHERE c_acctbal > 0) AS DOUBLE) / COUNT(*) AS frac_positive
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_boolean_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any/count_if): the data-quality flags
    layer — all-rows invariants, existence flags, violation counts,
    and an exact integer-ratio fraction (single double division)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.every(F.col("c_acctbal") > -999).alias("all_above_floor"),
        F.some(F.col("c_acctbal") > 9000).alias("any_very_rich"),
        F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
        (
            F.count_if(F.col("c_acctbal") > 0).cast("double") / F.count("*")
        ).alias("frac_positive"),
    )


@register(
    "scalar_try_fns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity, 0) AS unit_price,
           TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS line_roundtrip,
           l_tax / NULLIF(l_discount, 0) AS tax_over_discount
    FROM lineitem WHERE l_orderkey < 3000
    """,
)
def scalar_try_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe scalar battery: ``try_divide`` /
    ``try_cast`` return NULL where strict ANSI evaluation would raise.

    This repo runs Spark 4 with ANSI ON (overflow/div-zero/bad-cast
    all throw); the try_* family is how a pipeline opts into
    null-on-error per expression instead of disabling ANSI globally —
    the oracle spells the same semantics with NULLIF/TRY_CAST."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias("unit_price"),
        F.try_to_number(F.col("l_returnflag"), F.lit("9")).cast("int").alias("flag_as_int"),
        F.try_to_number(F.col("l_linenumber").cast("string"), F.lit("9")).cast("int").alias(
            "line_roundtrip"
        ),
        F.try_divide(F.col("l_tax"), F.col("l_discount")).alias("tax_over_discount"),
    )


@register(
    "dq_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    j AS (
      SELECT e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM j GROUP BY event_type
    ),
    j2 AS (
      SELECT j.event_type, j.value, j.med, mad.mad
      FROM j JOIN mad USING (event_type)
    )
    SELECT event_type, med, mad,
           CAST(COUNT(*) FILTER (abs(value - med) > 3 * 1.4826 * mad) AS BIGINT)
             AS n_outliers,
           COUNT(*) AS n,
           MAX(CASE WHEN mad > 0
                    THEN abs(value - med) / (1.4826 * mad) END) AS max_robust_z
    FROM j2 GROUP BY event_type, med, mad
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: median / MAD / count of
    |x − med| > 3·1.4826·MAD (the robust-z rule that survives the
    heavy tails that wreck mean/stddev fences).

    Two grouped exact percentiles with broadcast join-backs (group
    cardinality = event types, tiny).  Interpolation parity is the
    established ``percentile``/``quantile_cont`` identity
    (`relational.agg_percentile_exact`); everything after is per-row
    IEEE arithmetic plus exact counts.  At 100 TB swap the exact
    medians for ``percentile_approx`` (map-combinable sketch) — the
    fence rule is unchanged.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    j = e.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad")
    )
    j2 = j.join(F.broadcast(mad), "event_type")
    dev = F.abs(F.col("value") - F.col("med"))
    fence = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    # mad == 0 (a constant-valued group at tiny scales) must not hit
    # ANSI's divide-by-zero throw — the z column gates to NULL.
    robust_z = F.when(F.col("mad") > 0, dev / (F.lit(1.4826) * F.col("mad")))
    return j2.groupBy("event_type", "med", "mad").agg(
        F.count(F.when(dev > fence, F.lit(1))).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
        F.max(robust_z).alias("max_robust_z"),
    )


def _benford_sql_values() -> str:
    rows = []
    for d in range(1, 10):
        share = math.log10(1.0 + 1.0 / d)
        rows.append(f"({d}, CAST('{share!r}' AS DOUBLE))")
    return ", ".join(rows)


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH b(digit, expected) AS (VALUES {_benford_sql_values()}),
    d AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT COUNT(*) AS total FROM d)
    SELECT b.digit, COALESCE(g.n, 0) AS n,
           CAST(COALESCE(g.n, 0) AS DOUBLE) / t.total AS share,
           b.expected,
           abs(CAST(COALESCE(g.n, 0) AS DOUBLE) / t.total - b.expected) AS abs_dev
    FROM b LEFT JOIN g USING (digit) CROSS JOIN t
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: observed first-significant-digit shares of
    the order amounts vs the log10(1+1/d) expectation, with absolute
    deviation per digit — the standard screen for fabricated or
    truncated money columns.

    One map-combined 9-row aggregate plus two broadcasts (the digit
    grid and the scalar total).  The Benford constants are computed
    once in Python and emitted as identical literals to both engines
    (libm ``log10`` at query time would not be bit-stable); shares are
    single per-row double divisions.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.count(F.lit(1)).alias("total"))
    b = spark.createDataFrame(
        [(dd, math.log10(1.0 + 1.0 / dd)) for dd in range(1, 10)],
        "digit bigint, expected double",
    )
    share = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
    return (
        b.join(g, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            share.alias("share"),
            "expected",
            F.abs(share - F.col("expected")).alias("abs_dev"),
        )
    )


@register(
    "dq_freshness_lag",
    oracle="""
    WITH m AS (
      SELECT event_type, MAX(ts) AS max_ts, COUNT(*) AS n
      FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(ts) AS gmax FROM events)
    SELECT m.event_type, m.n,
           strftime(m.max_ts, '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
           CAST((epoch_us(g.gmax) - epoch_us(m.max_ts)) // 60000000 AS BIGINT)
             AS lag_minutes,
           (epoch_us(g.gmax) - epoch_us(m.max_ts)) // 60000000 > 60 AS is_stale
    FROM m CROSS JOIN g
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit: per event type, the newest timestamp, its
    lag behind the globally newest event in whole minutes, and a
    staleness flag (> 60 min) — the first dashboard any ingestion
    pipeline gets.

    Two map-combined aggregates (per-type and global max), one 1-row
    broadcast; the lag is integer µs arithmetic (floor-div), no float
    edge at all.  Timestamps format at the compared edge per the as-of
    convention.
    """
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("n")
    )
    g = e.agg(F.max("ts").alias("gmax"))
    lag = F.floor(
        (F.unix_micros(F.col("gmax")) - F.unix_micros(F.col("max_ts"))) / 60000000
    ).cast("long")
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n",
        F.date_format("max_ts", TS_FMT_US).alias("max_ts"),
        lag.alias("lag_minutes"),
        (lag > 60).alias("is_stale"),
    )


@register(
    "dq_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    k AS (SELECT MIN(group_size) AS k_anonymity FROM g)
    SELECT g.c_nationkey, g.c_mktsegment, g.group_size, k.k_anonymity,
           g.group_size < 5 AS violates_k5
    FROM g CROSS JOIN k
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nationkey, mktsegment)
    quasi-identifier: every equivalence class's size, the dataset's
    k (the smallest class), and a flag for classes under k=5 — the
    re-identification screen run before releasing training data
    derived from user records.

    One map-combined aggregate over the quasi-identifier plus a 1-row
    broadcast of the global minimum; integers only.  At 100 TB the
    class table is |QI-combinations|-sized, not data-sized.
    """
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    k = g.agg(F.min("group_size").alias("k_anonymity"))
    return g.crossJoin(F.broadcast(k)).select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        "k_anonymity",
        (F.col("group_size") < 5).alias("violates_k5"),
    )


@register(
    "dq_key_skew_profile",
    oracle="""
    WITH kc AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    stats AS (
      SELECT CAST(MAX(n) AS BIGINT) AS max_n,
             CAST(SUM(n) AS BIGINT) AS total,
             COUNT(*) AS n_keys
      FROM kc
    )
    SELECT kc.l_suppkey, kc.n,
           CAST(kc.n AS DOUBLE) / s.total AS share,
           CAST(kc.n AS DOUBLE) * s.n_keys / s.total AS skew_ratio,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, l_suppkey) AS rk FROM kc) kc
    CROSS JOIN stats s
    WHERE rk <= 10
    """,
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic: the 10 hottest join-key values of
    lineitem.l_suppkey with their traffic share and skew ratio
    (key count ÷ mean key count) — the numbers that decide whether a
    join needs salting (``join_salted_equi``) or AQE skew splitting.

    One map-combined key-count aggregate (keyspace-sized), a 1-row
    stats broadcast, and a TakeOrdered top-10; shares are per-row
    divisions of exact integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    stats = kc.agg(
        F.max("n").alias("max_n"),
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    ranked = kc.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "l_suppkey")).cast("long")
    ).filter(F.col("rk") <= 10)
    return ranked.crossJoin(F.broadcast(stats)).select(
        "l_suppkey",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
        (F.col("n").cast("double") * F.col("n_keys") / F.col("total")).alias(
            "skew_ratio"
        ),
        "rk",
    )


@register(
    "dq_completeness_by_day",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           (d.n IS NULL) AS is_gap
    FROM spine s LEFT JOIN daily d USING (day)
    """,
)
def dq_completeness_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal completeness audit: a generated calendar spine from
    the first to the last event day, left-joined against daily counts
    — every zero-event day surfaces as an explicit gap row instead of
    silently missing from a GROUP BY, the difference between "no data"
    and "no row".

    The spine is `sequence()` over a 1-row bounds aggregate (exploded
    calendar-sized, broadcast); daily counts are one map-combined
    aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # A left-outer join can only build-broadcast the RIGHT side — a
    # broadcast hint on the preserved spine is ignored (ADVICE r3).
    # `daily` is calendar-sized after aggregation, so it is the
    # correct build side.
    return (
        spine
        .join(F.broadcast(daily), "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


@register(
    "dq_uniqueness_audit",
    oracle="""
    SELECT 'o_orderkey' AS column_name, COUNT(*) AS n,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS is_unique
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey),
           COUNT(*) = COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(DISTINCT o_orderdate),
           COUNT(*) = COUNT(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(DISTINCT o_orderstatus),
           COUNT(*) = COUNT(DISTINCT o_orderstatus) FROM orders
    """,
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit: per column, row count vs distinct count and
    a uniqueness verdict — the first check before declaring a primary
    key or a dedup key on an unfamiliar table.

    One pass per column of map-combined distinct aggregation (Spark
    expands multi-distinct into a single Expand + two-phase aggregate);
    output is 4 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    rows = []
    for col in ["o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"]:
        rows.append(
            o.agg(
                F.lit(col).alias("column_name"),
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(col).alias("n_distinct"),
                (F.count(F.lit(1)) == F.countDistinct(col)).alias("is_unique"),
            )
        )
    import functools as _ft

    return _ft.reduce(lambda a, b: a.unionAll(b), rows)


@register(
    "dq_props_key_profile",
    oracle="""
    WITH keyed AS (
      SELECT e.event_id, CAST(e.ts AS DATE) AS day, unnest(json_keys(e.props)) AS key
      FROM events e WHERE e.props IS NOT NULL
    )
    SELECT key,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           strftime(MIN(day), '%Y-%m-%d') AS first_day,
           strftime(MAX(day), '%Y-%m-%d') AS last_day
    FROM keyed GROUP BY key
    """,
)
def dq_props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-drift audit: profile every JSON key that
    appears in the ``events.props`` payload — event coverage, active
    days, first/last sighting.  A key whose ``first_day`` is recent is
    a producer-side schema change the warehouse hasn't modeled yet.

    ``json_object_keys`` is expression-level (JVM JSON parser, no
    Python); the explode fans out by keys-per-payload (bounded) and
    the profile is one map-combined aggregate keyed by key name.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    keyed = e.select(
        F.col("ts").cast("date").alias("day"),
        F.explode(F.json_object_keys("props")).alias("key"),
    )
    return keyed.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("day").cast("long").alias("n_days"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
    )


_FD_CANDIDATES = [
    # (table, determinant, dependent) — candidate FDs a profiler would test
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_custkey", "c_nationkey"),
    ("orders", "o_orderkey", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
]


@register(
    "dq_functional_dependencies",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS table_name, '{det}' AS determinant, '{dep}' AS dependent,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating_keys,
           COUNT(*) FILTER (WHERE nd > 1) = 0 AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM {t} GROUP BY {det})
    """
        for t, det, dep in _FD_CANDIDATES
    ),
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs: for
    each (determinant → dependent) hypothesis, count determinant values
    that map to more than one dependent value.  ``holds = true`` means
    the FD is valid on this data — the schema-inference signal behind
    normalization advice, join-key validation, and dimension modeling.

    One map-combined two-level aggregate per candidate pair (group by
    determinant, then reduce to three scalars), unioned keyspace-sized
    rows.  A production profiler runs the same shape over the full
    candidate lattice with pruning; the fixed list keeps this
    oracle-exact.
    """
    out = None
    for t, det, dep in _FD_CANDIDATES:
        tbl = load_table(spark, sf_dir, t)
        per_key = tbl.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        row = per_key.agg(
            F.lit(t).alias("table_name"),
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.count("*").alias("n_keys"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("n_violating_keys"),
            (F.count(F.when(F.col("nd") > 1, 1)) == 0).alias("holds"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "dq_fact_consistency_audit",
    oracle="""
    WITH r AS (
      SELECT l_orderkey,
             SUM(CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS VARCHAR)
                      AS DECIMAL(30,8))) AS recomputed
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(CAST(o.o_totalprice AS VARCHAR) AS DECIMAL(30,8)) AS stored,
             r.recomputed
      FROM orders o JOIN r ON r.l_orderkey = o.o_orderkey
    ),
    e AS (
      SELECT o_orderkey,
             CAST(CAST(abs(stored - recomputed) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(stored AS VARCHAR) AS DOUBLE) AS rel_err,
             abs(stored - recomputed) AS abs_diff
      FROM j
    )
    SELECT CASE WHEN rel_err = 0 THEN 'exact'
                WHEN rel_err < 0.01 THEN 'lt_1pct'
                WHEN rel_err < 0.10 THEN 'lt_10pct'
                WHEN rel_err < 0.50 THEN 'lt_50pct'
                ELSE 'ge_50pct' END AS err_band,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(abs_diff) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_abs_diff
    FROM e GROUP BY 1
    """,
)
def dq_fact_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fact consistency: the order header's stored total
    versus the total recomputed from its line items, bucketed by
    relative error — the reconciliation audit that catches silent
    drift between a denormalized rollup and its source of truth
    (here it reports the synthetic data's totals are generated
    independently — exactly what the audit exists to surface).

    The recompute is a decimal-exact map-combined aggregate per order;
    the header join shuffles on orderkey once; error banding is per-row
    on engine-identical doubles.  Output is |bands| rows at any scale.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    line_total = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(30,8)")
    r = l.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(line_total).alias("recomputed")
    )
    j = o.join(r, "o_orderkey").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(30,8)").alias("stored"),
        "recomputed",
    )
    abs_diff = F.abs(F.col("stored") - F.col("recomputed"))
    rel_err = abs_diff.cast("double") / F.col("stored").cast("double")
    e = j.select("o_orderkey", rel_err.alias("rel_err"), abs_diff.alias("abs_diff"))
    band = (
        F.when(F.col("rel_err") == 0, "exact")
        .when(F.col("rel_err") < 0.01, "lt_1pct")
        .when(F.col("rel_err") < 0.10, "lt_10pct")
        .when(F.col("rel_err") < 0.50, "lt_50pct")
        .otherwise("ge_50pct")
    )
    return e.groupBy(band.alias("err_band")).agg(
        F.count("*").alias("n_orders"),
        (F.sum("abs_diff").cast("double") / F.count("*")).alias("avg_abs_diff"),
    )


@register(
    "dq_distribution_drift",
    oracle="""
    WITH halves AS (
      SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'a' ELSE 'b' END AS half
      FROM events
    ),
    tot AS (
      SELECT COUNT(*) FILTER (WHERE half = 'a') AS ta,
             COUNT(*) FILTER (WHERE half = 'b') AS tb
      FROM halves
    ),
    bins AS (
      SELECT bin,
             COUNT(*) FILTER (WHERE half = 'a') AS n_a,
             COUNT(*) FILTER (WHERE half = 'b') AS n_b
      FROM halves GROUP BY bin
    ),
    shares AS (
      -- zero guards (ADVICE-r4 rule): a regenerated stream landing
      -- entirely in one half must yield NULL shares on BOTH engines,
      -- not an ANSI DIVIDE_BY_ZERO on the Spark side only
      SELECT bin, n_a, n_b,
             CASE WHEN (SELECT ta FROM tot) > 0
                  THEN CAST(n_a AS DOUBLE) / (SELECT ta FROM tot) END AS p_a,
             CASE WHEN (SELECT tb FROM tot) > 0
                  THEN CAST(n_b AS DOUBLE) / (SELECT tb FROM tot) END AS p_b
      FROM bins
    )
    SELECT bin, n_a, n_b, p_a, p_b,
           (p_a - p_b) * (p_a - p_b) / (p_a + p_b) AS chi2_component
    FROM shares
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between the first and second half of
    the event stream: per value-bin counts, shares, and the chi-square
    drift component — the training-serving-skew / data-shift monitor
    (PSI's log is libm and banned at compared edges; the chi-square
    form is algebraically log-free and equally standard).

    One aggregate with conditional counts (no self-join of halves);
    per-bin doubles are exact integer ratios combined in one
    deterministic expression.  Bins are fixed-width — at 100 TB the
    bin map is a stateless projection and the shuffle carries ≤10
    rows per partition.
    """
    e = load_table(spark, sf_dir, "events").select("value", "ts")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "a"
    ).otherwise("b")
    halves = e.select(
        F.floor(F.col("value") / 50).cast("long").alias("bin"), half.alias("half")
    )
    halves = cached(halves)
    tot = halves.agg(
        F.sum((F.col("half") == "a").cast("long")).alias("ta"),
        F.sum((F.col("half") == "b").cast("long")).alias("tb"),
    )
    bins = halves.groupBy("bin").agg(
        F.sum((F.col("half") == "a").cast("long")).alias("n_a"),
        F.sum((F.col("half") == "b").cast("long")).alias("n_b"),
    )
    # zero guards mirror the oracle's CASE WHEN (ADVICE-r4 divide class):
    # a regenerated stream landing entirely in one half yields NULL
    # shares on both engines instead of a Spark-only ANSI error.
    pa = F.when(F.col("ta") > 0, F.col("n_a").cast("double") / F.col("ta"))
    pb = F.when(F.col("tb") > 0, F.col("n_b").cast("double") / F.col("tb"))
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        pa.alias("p_a"),
        pb.alias("p_b"),
        ((pa - pb) * (pa - pb) / (pa + pb)).alias("chi2_component"),
    )


# --------------------------------------------------------------------------
# dq_cross_field_rules — expectation-suite audit (cross-column + cross-table)
# --------------------------------------------------------------------------


@register(
    "dq_cross_field_rules",
    oracle="""
    SELECT 'discount_in_0_0.1' AS rule,
           COUNT(*) AS n_checked,
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
             AS n_violations,
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
                          AS DOUBLE) / COUNT(*) END AS violation_rate
    FROM lineitem
    UNION ALL
    SELECT 'tax_le_0.05', COUNT(*),
           COUNT(*) FILTER (WHERE l_tax > 0.05),
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE l_tax > 0.05) AS DOUBLE)
                     / COUNT(*) END
    FROM lineitem
    UNION ALL
    SELECT 'qty_in_1_50', COUNT(*),
           COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50),
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                          AS DOUBLE) / COUNT(*) END
    FROM lineitem
    UNION ALL
    SELECT 'extprice_positive', COUNT(*),
           COUNT(*) FILTER (WHERE l_extendedprice <= 0),
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS DOUBLE)
                     / COUNT(*) END
    FROM lineitem
    UNION ALL
    SELECT 'totalprice_gt_2000', COUNT(*),
           COUNT(*) FILTER (WHERE o_totalprice <= 2000),
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE o_totalprice <= 2000) AS DOUBLE)
                     / COUNT(*) END
    FROM orders
    UNION ALL
    SELECT 'ship_on_or_after_order', COUNT(*),
           COUNT(*) FILTER (WHERE l.l_shipdate < o.o_orderdate),
           CASE WHEN COUNT(*) > 0
                THEN CAST(COUNT(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
                          AS DOUBLE) / COUNT(*) END
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit (Great-Expectations shape): six
    cross-column and cross-table validation rules, each reporting
    checked/violation counts and the violation rate.

    The four lineitem rules and the orders rule evaluate in ONE
    map-combined conditional aggregate per table (a single scan, rows
    exploded from an array of rule structs — no per-rule re-scan); the
    cross-table temporal rule is the only join.  Counts are exact
    longs; rates are zero-guarded double edges.  At 100 TB the audit
    costs two scans plus one keyed join — the shape every data
    contract enforcement job runs nightly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def _viol(name: str, cond) -> F.Column:  # noqa: ANN001
        # coalesce: SUM over an empty table is NULL, but the oracle's
        # COUNT(*) FILTER is 0 — match that on empty input (ADVICE r5).
        return F.struct(
            F.lit(name).alias("rule"),
            F.count("*").alias("n_checked"),
            F.coalesce(F.sum(cond.cast("long")), F.lit(0)).alias("n_violations"),
        )

    li_rules = li.agg(
        F.array(
            _viol(
                "discount_in_0_0.1",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
            ),
            _viol("tax_le_0.05", F.col("l_tax") > 0.05),
            _viol(
                "qty_in_1_50",
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            ),
            _viol("extprice_positive", F.col("l_extendedprice") <= 0),
        ).alias("rules")
    ).select(F.explode("rules").alias("r"))
    o_rules = o.agg(
        F.array(_viol("totalprice_gt_2000", F.col("o_totalprice") <= 2000)).alias(
            "rules"
        )
    ).select(F.explode("rules").alias("r"))
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    j_rules = joined.agg(
        F.array(
            _viol("ship_on_or_after_order", F.col("l_shipdate") < F.col("o_orderdate"))
        ).alias("rules")
    ).select(F.explode("rules").alias("r"))
    out = li_rules.unionAll(o_rules).unionAll(j_rules)
    return out.select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_checked").cast("long").alias("n_checked"),
        F.col("r.n_violations").cast("long").alias("n_violations"),
        F.when(
            F.col("r.n_checked") > 0,
            F.col("r.n_violations").cast("double") / F.col("r.n_checked"),
        ).alias("violation_rate"),
    )


# --------------------------------------------------------------------------
# dq_control_chart — Shewhart 3-sigma monitoring of daily volumes
# --------------------------------------------------------------------------


@register(
    "dq_control_chart",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS nd,
             SUM(n) AS s1,
             SUM(n * n) AS s2
      FROM daily GROUP BY event_type
    ),
    lim AS (
      SELECT event_type,
             CAST(s1 AS DOUBLE) / nd AS mean_n,
             sqrt(CAST(nd * s2 - s1 * s1 AS DOUBLE)
                  / (nd * (nd - 1))) AS sigma_n
      FROM stats WHERE nd > 1
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n_events,
           l.mean_n + (3.0 * l.sigma_n) AS ucl,
           l.mean_n - (3.0 * l.sigma_n) AS lcl,
           (CAST(d.n AS DOUBLE) > l.mean_n + (3.0 * l.sigma_n))
             OR (CAST(d.n AS DOUBLE) < l.mean_n - (3.0 * l.sigma_n))
             AS out_of_control
    FROM daily d JOIN lim l ON l.event_type = d.event_type
    """,
)
def dq_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart over daily event volumes: per event
    type, flag days outside mean ± 3σ — the pipeline-health monitor
    every ingestion SLA dashboard runs (sudden volume drops/spikes are
    the first symptom of an upstream break).

    Parity: daily counts are exact integers; the sample variance is
    the all-integer form (N·Σn² − (Σn)²)/(N(N−1)) — one division —
    and σ is ONE ``sqrt`` (IEEE correctly-rounded, the only libm-safe
    function per the repo's float rules); limits are the fixed
    expression mean ± (3.0·σ), so both engines compute bit-identical
    bounds and the boolean can never straddle.  At very large daily
    counts (n > ~3·10⁹) Σn² needs the decimal route; at any realistic
    per-day volume BIGINT holds exactly.

    Scale: two map-combined aggregates (events → daily, daily →
    stats) and one broadcast join back — the stats table is
    |event_types| rows.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("nd"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    lim = stats.filter(F.col("nd") > 1).select(
        "event_type",
        (F.col("s1").cast("double") / F.col("nd")).alias("mean_n"),
        F.sqrt(
            (F.col("nd") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("nd") * (F.col("nd") - 1))
        ).alias("sigma_n"),
    )
    ucl = F.col("mean_n") + (F.lit(3.0) * F.col("sigma_n"))
    lcl = F.col("mean_n") - (F.lit(3.0) * F.col("sigma_n"))
    n_d = F.col("n").cast("double")
    return daily.join(F.broadcast(lim), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_events"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((n_d > ucl) | (n_d < lcl)).alias("out_of_control"),
    )


# --------------------------------------------------------------------------
# dq_ks_two_sample — exact Kolmogorov–Smirnov distance between groups
# --------------------------------------------------------------------------


@register(
    "dq_ks_two_sample",
    oracle="""
    WITH v AS (
      SELECT l_extendedprice AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ),
    d AS (
      SELECT x, CAST(SUM(g) AS BIGINT) AS n1,
             CAST(SUM(1 - g) AS BIGINT) AS n0
      FROM v GROUP BY x
    ),
    t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
                 CAST(SUM(n0) AS BIGINT) AS t0 FROM d),
    c AS (
      SELECT x,
             SUM(n1) OVER (ORDER BY x) AS c1,
             SUM(n0) OVER (ORDER BY x) AS c0
      FROM d
    ),
    diffs AS (
      SELECT x,
             ABS(CAST(c1 AS DOUBLE) / t.t1 - CAST(c0 AS DOUBLE) / t.t0)
               AS df
      FROM c CROSS JOIN t
    )
    SELECT t.t0 AS n_a, t.t1 AS n_r,
           MAX(struct_pack(d := df, nx := -x)).d AS ks_stat,
           -MAX(struct_pack(d := df, nx := -x)).nx AS ks_at_value
    FROM diffs CROSS JOIN t
    GROUP BY t.t0, t.t1
    """,
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``l_extendedprice`` distributions of returned ('R') and
    acknowledged ('A') line items: D = max_x |F_R(x) − F_A(x)| with
    the value where the gap peaks — the standard distribution-shift
    detector, complementing ``dq_distribution_drift``'s binned
    chi-square with a bin-free exact answer.

    The empirical CDFs are cumulative counts over the DISTINCT-value
    frame, run two-phase (bucket-local cumsums over floor(x/4096)
    buckets + ONE broadcast ``bucket_offsets_multi`` pass covering both
    groups — never a global sort window on raw data).  Counts stay
    integers
    until the two CDF divisions; the argmax ties break to the smallest
    x via a struct max over (gap, −x) in both engines.  Scale: one
    value-keyed aggregate + tiny broadcasts.
    """
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.col("l_extendedprice").alias("x"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g"),
        )
    )
    dist = cached(
        v.groupBy("x")
        .agg(
            F.sum("g").cast("long").alias("n1"),
            F.sum(F.lit(1) - F.col("g")).cast("long").alias("n0"),
        )
        .withColumn("bkt", F.floor(F.col("x") / F.lit(4096.0)).cast("long"))
    )
    # Both CDFs' offsets come from ONE aggregate pass over the cached
    # distinct-value frame (not one bucket_offsets call per group).
    offs = bucket_offsets_multi(
        dist,
        [],
        "bkt",
        [(F.col("n1"), "offset1", "t1"), (F.col("n0"), "offset0", "t0")],
    )
    w_loc = (
        W.partitionBy("bkt").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    )
    c = (
        dist.join(F.broadcast(offs), "bkt")
        .select(
            "x",
            "t1",
            "t0",
            (F.col("offset1") + F.sum("n1").over(w_loc)).alias("c1"),
            (F.col("offset0") + F.sum("n0").over(w_loc)).alias("c0"),
        )
    )
    df_col = F.abs(
        F.col("c1").cast("double") / F.col("t1")
        - F.col("c0").cast("double") / F.col("t0")
    )
    best = F.max(F.struct(df_col.alias("d"), (-F.col("x")).alias("nx")))
    return c.groupBy("t1", "t0").agg(
        best.getField("d").alias("ks_stat"),
        (-best.getField("nx")).alias("ks_at_value"),
    ).select(
        F.col("t0").cast("long").alias("n_a"),
        F.col("t1").cast("long").alias("n_r"),
        "ks_stat",
        "ks_at_value",
    )


# --------------------------------------------------------------------------
# dq_seasonal_adjusted_anomaly — anomalies AFTER removing the weekly cycle
# --------------------------------------------------------------------------

_ANOM_TOP_K = 5
_ANOM_SCALE = 1_000_000  # fixed-point quantization of the adjusted series


@register(
    "dq_seasonal_adjusted_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    wd AS (
      SELECT isodow(day) AS iso_dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM daily GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_days) AS BIGINT) AS td,
                   CAST(SUM(n_events) AS BIGINT) AS te FROM wd),
    adj AS (
      SELECT d.day, d.n,
             CAST(floor(
               (CAST(d.n AS DOUBLE)
                  / ((CAST(w.n_events AS DOUBLE) / w.n_days)
                     / (CAST(t.te AS DOUBLE) / t.td)))
               * {_ANOM_SCALE}) AS BIGINT) AS ai
      FROM daily d
      JOIN wd w ON w.iso_dow = isodow(d.day)
      CROSS JOIN tot t
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(ai AS HUGEINT)) AS m1,
             SUM(CAST(ai AS HUGEINT) * ai) AS m2
      FROM adj
    )
    SELECT day, n,
           CAST(CAST(np * ai - m1 AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(np * m2 - m1 * m1 AS VARCHAR) AS DOUBLE)) AS z
    FROM adj CROSS JOIN m
    WHERE np * m2 - m1 * m1 > 0
    ORDER BY abs(CAST(CAST(np * ai - m1 AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(np * m2 - m1 * m1 AS VARCHAR) AS DOUBLE))) DESC,
             day
    LIMIT {_ANOM_TOP_K}
    """,
)
def dq_seasonal_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-{5} most anomalous traffic days AFTER dividing out the
    weekly cycle: raw daily counts are deflated by their ISO-weekday
    seasonal index (the ``ts_weekday_profile`` factor), and the
    deseasonalized series is z-scored — so a big Saturday no longer
    trips the alarm just for being Saturday, which is exactly the
    false-positive class ``dq_control_chart`` (raw 3σ) suffers.
    Returns each flagged day with its raw count and adjusted z.

    Float discipline: the adjusted value is three IEEE divisions of
    exact integers (identical in both engines), then QUANTIZED to
    10⁻⁶ fixed-point — from there the mean/variance moments are exact
    integer arithmetic in decimal(38,0)/HUGEINT, and the z-score is
    the single division ``(n·aᵢ − Σa) / √(n·Σa² − (Σa)²)`` — the
    ``ts_acf_daily`` contract, so ordering by |z| is cross-engine
    stable (day tie-break).  Scale: one map-combined daily aggregate;
    everything else lives on the calendar-bounded frame (broadcast
    7-row index + 1-row moment table); the edge is sort+limit.
    """
    # daily feeds the weekday index AND the adjusted series; adj feeds
    # the moment table AND the final select — persist both so the
    # events scan + aggregate runs once, not once per plan branch.
    daily = cached(
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    iso = (F.expr("weekday(day)") + F.lit(1)).cast("long")
    wd = cached(
        daily.groupBy(iso.alias("iso_dow")).agg(
            F.count("*").alias("n_days"), F.sum("n").alias("n_events")
        )
    )
    tot = wd.agg(F.sum("n_days").alias("td"), F.sum("n_events").alias("te"))
    idx = (F.col("n_events").cast("double") / F.col("n_days")) / (
        F.col("te").cast("double") / F.col("td")
    )
    ai = F.floor((F.col("n").cast("double") / idx) * F.lit(_ANOM_SCALE)).cast(
        "long"
    )
    adj = cached(
        daily.join(F.broadcast(wd), iso == F.col("iso_dow"))
        .crossJoin(F.broadcast(tot))
        .select("day", "n", ai.alias("ai"))
    )
    m = adj.agg(
        F.count("*").alias("np_l"),
        F.sum(dec19(F.col("ai"))).alias("m1"),
        F.sum(dec19(F.col("ai")) * dec19(F.col("ai"))).alias("m2"),
    )
    np_d = F.col("np_l").cast("decimal(38,0)")
    var_n = np_d * F.col("m2") - F.col("m1") * F.col("m1")
    z = (np_d * dec19(F.col("ai")) - F.col("m1")).cast("double") / F.sqrt(
        var_n.cast("double")
    )
    return (
        adj.crossJoin(F.broadcast(m))
        .filter(var_n > 0)
        .select("day", "n", z.alias("z"))
        .orderBy(F.abs(F.col("z")).desc(), "day")
        .limit(_ANOM_TOP_K)
    )


# --------------------------------------------------------------------------
# dq_join_fanout_profile — orders⋈lineitem cardinality histogram
# --------------------------------------------------------------------------


@register(
    "dq_join_fanout_profile",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS f FROM lineitem
      GROUP BY l_orderkey
    ),
    o AS (
      SELECT COALESCE(lc.f, 0) AS fanout
      FROM orders LEFT JOIN lc ON lc.l_orderkey = o_orderkey
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o)
    SELECT CAST(fanout AS BIGINT) AS fanout,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(fanout * COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS DOUBLE) / MAX(tot.n) AS share_of_orders
    FROM o CROSS JOIN tot
    GROUP BY fanout
    """,
)
def dq_join_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality profile of orders⋈lineitem: the distribution
    of lines per order INCLUDING childless orders (fanout 0) — the
    number a query planner, a memory-sizing estimate, or a data
    contract ("an order has 1–7 lines") needs before anyone writes the
    join.  A fat tail here is the early warning for join skew
    (``dq_key_skew_profile`` names the hot keys; this says how heavy
    the multiplicity distribution is overall).

    One lineitem aggregate keyed on the join key, one left join
    against orders (same key — co-locatable/bucketable), one
    map-combined histogram over the tiny fanout domain, and a
    broadcast 1-row total; the share is a single integer division at
    the edge.  Counts are exact end-to-end.
    """
    lc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("f"))
    )
    ok = load_table(spark, sf_dir, "orders").select("o_orderkey")
    o = ok.join(
        lc, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    ).select(F.coalesce(F.col("f"), F.lit(0)).cast("long").alias("fanout"))
    # the left join on the GROUPED (unique) key never duplicates, so
    # the total is just the orders row count — don't re-execute the
    # lineitem aggregate + join a second time for one number.
    tot = ok.agg(F.count("*").alias("n"))
    return (
        o.crossJoin(F.broadcast(tot))
        .groupBy("fanout")
        .agg(
            F.count("*").alias("n_orders"),
            F.max("n").alias("_n"),
        )
        .select(
            "fanout",
            F.col("n_orders").cast("long").alias("n_orders"),
            (F.col("fanout") * F.col("n_orders")).cast("long").alias("n_lines"),
            (F.col("n_orders").cast("double") / F.col("_n")).alias(
                "share_of_orders"
            ),
        )
    )


# --------------------------------------------------------------------------
# dq_event_order_audit — how out-of-order is the stream, really?
# --------------------------------------------------------------------------


@register(
    "dq_event_order_audit",
    oracle="""
    WITH t AS (
      SELECT event_type,
             epoch_us(ts) AS us,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN us < run_max THEN 1 END) AS BIGINT)
             AS n_late,
           CAST(COUNT(CASE WHEN us < run_max THEN 1 END) AS DOUBLE)
             / COUNT(*) AS late_frac,
           CAST(MAX(CASE WHEN us < run_max THEN run_max - us END) AS BIGINT)
             AS max_late_us
    FROM t GROUP BY event_type
    """,
)
def dq_event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: per event type, how many events
    carry a timestamp EARLIER than something the same user already
    emitted (arrival order = event_id), what fraction that is, and the
    worst lateness in exact microseconds.  This is THE input for
    choosing a Structured Streaming watermark
    (``stream_watermark_late_drop`` drops what the watermark excludes;
    this measures what a given delay would have dropped) and for
    validating ingestion pipelines that claim in-order delivery.

    The running maximum is per-user (bounded partitions on the
    high-cardinality key, ordered by the unique event_id — fully
    deterministic), timestamps compare as exact integer microseconds
    (``unix_micros`` ≡ ``epoch_us`` under the ``io.load_table``
    session-UTC normalization), and the only float is the one
    late-fraction division.  Scale: one user-keyed window + one
    map-combined rollup over the handful of event types.
    """
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.expr("unix_micros(ts)")
    t = load_table(spark, sf_dir, "events").select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("run_max"),
    )
    late = F.col("us") < F.col("run_max")
    return t.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(late, 1)).cast("long").alias("n_late"),
        (F.count(F.when(late, 1)).cast("double") / F.count("*")).alias(
            "late_frac"
        ),
        F.max(F.when(late, F.col("run_max") - F.col("us")))
        .cast("long")
        .alias("max_late_us"),
    )


# --------------------------------------------------------------------------
# dq_sequence_gap_audit — holes in a key sequence, without a global sort
# --------------------------------------------------------------------------

_GAP_BUCKET = 1024  # fixed key-range width: bucket = key // 1024


@register(
    "dq_sequence_gap_audit",
    oracle=f"""
    WITH k AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
    g AS (
      SELECT key, LEAD(key) OVER (ORDER BY key) - key AS gap
      FROM k
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MIN(key) AS BIGINT) AS min_key,
             CAST(MAX(key) AS BIGINT) AS max_key
      FROM k
    ),
    m AS (
      SELECT CAST(SUM(CASE WHEN gap > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_runs,
             CAST(MAX(gap) AS BIGINT) AS largest_gap
      FROM g WHERE gap IS NOT NULL
    )
    SELECT s.n_keys, s.min_key, s.max_key,
           s.max_key - s.min_key + 1 - s.n_keys AS n_missing,
           m.n_gap_runs, m.largest_gap,
           (SELECT MIN(key) FROM g WHERE gap = m.largest_gap)
             AS largest_gap_start
    FROM s, m
    """,
)
def dq_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holes in the order-key sequence as seen from lineitem: how many
    ids in [min, max] never shipped a line, how many contiguous
    missing runs there are, and where the largest hole starts — the
    "did the upstream extractor drop a range?" audit that catches
    partition-sized losses a row count never would
    (``dq_referential_orphans`` checks the OTHER direction: children
    without parents).

    The adjacent-difference never globally sorts: keys bucket by
    ``key // 1024`` (range-preserving), LEAD runs within each bucket,
    and the cross-bucket seams come from a bucket-summary table
    (min/max per non-empty bucket — 1000× reduced before its own tiny
    window).  The largest-gap START is the min key achieving the max
    (join-back, order-independent).  All integers; the oracle is the
    single-window spelling.
    """
    k = cached(
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("key"))
        .distinct()
        .withColumn("bucket", (F.col("key") / _GAP_BUCKET).cast("long"))
    )
    in_bucket = k.select(
        "key",
        (
            F.lead("key").over(W.partitionBy("bucket").orderBy("key"))
            - F.col("key")
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    summary = k.groupBy("bucket").agg(
        F.min("key").alias("min_k"), F.max("key").alias("max_k")
    )
    seams = summary.select(
        F.col("max_k").alias("key"),
        (
            F.lead("min_k").over(W.orderBy("bucket")) - F.col("max_k")
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gaps = cached(in_bucket.unionAll(seams))
    s = k.agg(
        F.count("*").alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )
    m = gaps.agg(
        F.sum(F.when(F.col("gap") > 1, 1).otherwise(0)).alias("n_gap_runs"),
        F.max("gap").alias("largest_gap"),
    )
    start = (
        gaps.join(
            F.broadcast(m.select(F.col("largest_gap").alias("lg"))),
            F.col("gap") == F.col("lg"),
        )
        .agg(F.min("key").alias("largest_gap_start"))
    )
    return (
        s.crossJoin(m)
        .crossJoin(start)
        .select(
            "n_keys",
            "min_key",
            "max_key",
            (F.col("max_key") - F.col("min_key") + 1 - F.col("n_keys")).alias(
                "n_missing"
            ),
            "n_gap_runs",
            "largest_gap",
            "largest_gap_start",
        )
    )


# --------------------------------------------------------------------------
# dq_embedding_norm_audit — are the vectors fit for ANN?
# --------------------------------------------------------------------------

_NORM_SQL = (
    "sqrt(list_reduce(list_transform(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE)), x -> x * x), (s, v) -> s + v))"
)


@register(
    "dq_embedding_norm_audit",
    oracle=f"""
    WITH n AS (
      SELECT label, {_NORM_SQL} AS nrm FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vectors,
           CAST(SUM(CASE WHEN abs(nrm - 1.0) <= 0.01 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unit_norm,
           MIN(nrm) AS min_norm,
           MAX(nrm) AS max_norm,
           {sql_dsum('nrm', 30, 8)} / COUNT(*) AS mean_norm
    FROM n GROUP BY label
    """,
)
def dq_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-vector hygiene per label: L2-norm range and mean,
    zero-vector count (cosine is UNDEFINED on them — they crash or
    silently poison ANN indexes), and how many are already
    unit-normalized (±1 %) — the two-minute audit that decides whether
    the corpus needs a normalization pass before any of the ``sim_*``
    operators run, and whether dot-product can replace cosine.

    The norm is the index-ordered squared fold + one IEEE sqrt
    (bit-equal cross-engine), min/max compare identical doubles, and
    the mean uses the decimal-accumulate convention (float values →
    VARCHAR-routed decimal sum → one division).  Single scan,
    |labels|-sized output.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(d, lambda x: x * x), F.lit(0.0), lambda s, v: s + v
        )
    )
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).alias(
                "n_zero_vectors"
            ),
            F.sum(
                F.when(F.abs(F.col("nrm") - 1.0) <= 0.01, 1).otherwise(0)
            ).alias("n_unit_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (dsum(F.col("nrm")) / F.count("*")).alias("mean_norm"),
        )
    )


# --------------------------------------------------------------------------
# dq_effective_categories — how many categories REALLY carry the data?
# --------------------------------------------------------------------------


def _enc_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS column_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) * SUM(c) AS DOUBLE)
             / CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS effective_n,
           CAST(SUM(c) * SUM(c) AS DOUBLE)
             / CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) / COUNT(*)
             AS balance_ratio
    FROM (SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS c
          FROM {table} GROUP BY 1)
    """


@register(
    "dq_effective_categories",
    oracle=" UNION ALL ".join(
        [
            _enc_sql("events", "event_type"),
            _enc_sql("documents", "lang"),
            _enc_sql("documents", "source"),
            _enc_sql("customer", "c_mktsegment"),
        ]
    ),
)
def dq_effective_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective number of categories (inverse Simpson / Hill number
    of order 2) for the main categorical columns: N²/Σc² — equals the
    distinct count when mass is perfectly balanced and collapses
    toward 1 when one category dominates; ``balance_ratio`` =
    effective/distinct is the 0–1 imbalance dial.  The log-free
    diversity index (Shannon needs ln) that tells a pipeline whether
    "20 sources" is really 20 sources or 2 sources wearing 18 hats —
    the input to stratification and mixture decisions.

    All-integer numerators (Σc² in decimal/HUGEINT), TWO divisions at
    the edge per column, computed identically in both engines.  Each
    column is one map-combined count aggregate; the union output is
    4 rows.
    """

    def enc(table: str, col: str) -> DataFrame:
        c = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count("*").alias("c"))
        )
        # decimal product: long*long would ANSI-overflow past ~3e9 rows
        eff = (
            F.col("n_rows").cast("decimal(38,0)") * F.col("n_rows")
        ).cast("double") / F.col("sum_c2").cast("double")
        return (
            c.agg(
                F.sum("c").alias("n_rows"),
                F.count("*").alias("n_distinct"),
                F.sum((F.col("c").cast("decimal(38,0)") * F.col("c"))).alias(
                    "sum_c2"
                ),
            )
            .select(
                F.lit(f"{table}.{col}").alias("column_name"),
                "n_rows",
                "n_distinct",
                eff.alias("effective_n"),
                (eff / F.col("n_distinct")).alias("balance_ratio"),
            )
        )

    return (
        enc("events", "event_type")
        .unionAll(enc("documents", "lang"))
        .unionAll(enc("documents", "source"))
        .unionAll(enc("customer", "c_mktsegment"))
    )


# --------------------------------------------------------------------------
# dq_numeric_corr_matrix — the profiler's correlation matrix, one pass
# --------------------------------------------------------------------------

_CORR_COLS = ["qty", "price_c", "disc_bp", "tax_bp"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def _corr_matrix_oracle() -> str:
    sums = ", ".join(
        [f"CAST(COUNT(*) AS HUGEINT) AS np"]
        + [f"SUM(CAST({c} AS HUGEINT)) AS s_{c}" for c in _CORR_COLS]
        + [
            f"SUM(CAST({a} AS HUGEINT) * {b}) AS s_{a}_{b}"
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i:]
        ]
    )
    def corr(a: str, b: str) -> str:
        num = f"np * s_{a}_{b} - s_{a} * s_{b}"
        dx = f"np * s_{a}_{a} - s_{a} * s_{a}"
        dy = f"np * s_{b}_{b} - s_{b} * s_{b}"
        return f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               CASE WHEN {dx} > 0 AND {dy} > 0
                    THEN CAST(CAST({num} AS VARCHAR) AS DOUBLE)
                      / (sqrt(CAST(CAST({dx} AS VARCHAR) AS DOUBLE))
                         * sqrt(CAST(CAST({dy} AS VARCHAR) AS DOUBLE)))
               END AS corr
        FROM m"""

    body = " UNION ALL ".join(corr(a, b) for a, b in _CORR_PAIRS)
    return f"""
    WITH t AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_bp,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_bp
      FROM lineitem
    ),
    m AS (SELECT {sums} FROM t)
    {body}
    """


@register("dq_numeric_corr_matrix", oracle_builder=_corr_matrix_oracle)
def dq_numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of lineitem's four numeric
    measures (quantity, price cents, discount bp, tax bp) — the
    profiler artifact that flags redundant features and derived
    columns before any model sees them
    (``agg_corr_deterministic`` scores ONE pair; this is all six from
    ONE scan: the 15 exact moment accumulators share a single
    map-combined aggregate, which is the point at 100 TB — the cost
    of the full matrix equals the cost of one correlation).

    Measures are exact integers (same ROUND-on-identical-doubles
    bucketing as ``q_discount_demand_curve``), moments accumulate in
    decimal(38,0)/HUGEINT, and each correlation is one division plus
    two IEEE sqrts of identical integers (VARCHAR-routed edges — the
    products here exceed 2^53, where the routing genuinely matters).
    """
    t = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_bp"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax_bp"),
    )
    d = {c: F.col(c).cast("decimal(19,0)") for c in _CORR_COLS}
    aggs = (
        [F.count("*").alias("np_l")]
        + [F.sum(d[c]).alias(f"s_{c}") for c in _CORR_COLS]
        + [
            F.sum(d[a] * d[b]).alias(f"s_{a}_{b}")
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i:]
        ]
    )
    m = cached(t.agg(*aggs))
    np_d = F.col("np_l").cast("decimal(38,0)")

    def corr_row(a: str, b: str) -> DataFrame:
        num = np_d * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        dx = np_d * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        dy = np_d * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        corr = num.cast("double") / (
            F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))
        )
        return m.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.when((dx > 0) & (dy > 0), corr).alias("corr"),
        )

    return reduce(
        DataFrame.unionAll, [corr_row(a, b) for a, b in _CORR_PAIRS]
    )


_CUT = "2024-01-16 00:00:00"
_QS = [i / 10.0 for i in range(1, 10)]


@register(
    "dq_psi_drift",
    oracle=f"""
    WITH base_edges AS (
      SELECT event_type,
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS eg
      FROM events
      WHERE ts < TIMESTAMP '{_CUT}' AND value IS NOT NULL
      GROUP BY event_type
    ),
    b AS (
      SELECT e.event_type,
             CASE WHEN e.ts >= TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS is_cur,
             CAST(e.value >= g.eg[1] AS INT) + CAST(e.value >= g.eg[2] AS INT)
           + CAST(e.value >= g.eg[3] AS INT) + CAST(e.value >= g.eg[4] AS INT)
           + CAST(e.value >= g.eg[5] AS INT) + CAST(e.value >= g.eg[6] AS INT)
           + CAST(e.value >= g.eg[7] AS INT) + CAST(e.value >= g.eg[8] AS INT)
           + CAST(e.value >= g.eg[9] AS INT) AS bucket
      FROM events e JOIN base_edges g USING (event_type)
      WHERE e.value IS NOT NULL AND e.ts IS NOT NULL
    ),
    counts AS (
      SELECT event_type, bucket,
             SUM(1 - is_cur) AS n_base, SUM(is_cur) AS n_cur
      FROM b GROUP BY event_type, bucket
    ),
    tot AS (
      SELECT event_type, SUM(n_base) AS tb, SUM(n_cur) AS tc
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, c.bucket, t.tb, t.tc,
             ((c.n_cur + 0.5) / (t.tc + 5.0) - (c.n_base + 0.5) / (t.tb + 5.0))
               * ln(((c.n_cur + 0.5) / (t.tc + 5.0))
                    / ((c.n_base + 0.5) / (t.tb + 5.0))) AS term
      FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           round(list_reduce(list(term ORDER BY bucket), (s, v) -> s + v), 9)
             AS psi_r9,
           CAST(MAX(tb) AS BIGINT) AS n_base,
           CAST(MAX(tc) AS BIGINT) AS n_cur
    FROM terms GROUP BY event_type
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type: baseline = first half
    of the month (ts < Jan 16, the ``dq_ks_two_sample`` split), current
    = second half; 10 buckets from the BASELINE's exact deciles,
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) with 0.5/bucket Laplace
    smoothing so an empty current bucket stays finite.

    Relation to ``dq_distribution_drift``: that op's "log-free PSI
    twin" deliberately avoided ln for parity and used fixed value
    bins; this is the canonical logarithmic PSI practitioners alert
    on, with data-driven (baseline-decile) bins — made parity-safe by
    the index-ordered fold below rather than by dropping the log.

    Float-parity spelling: bucket assignment is 9 integer comparisons
    against broadcast decile edges (the Spark ``percentile`` / DuckDB
    ``quantile_cont`` interpolation identity is pinned by
    ``agg_percentile_exact``); each term is computed per (type, bucket)
    row from exact integer counts, and the 10 doubles are summed by an
    INDEX-ORDERED fold (``F.aggregate`` over the bucket-sorted array /
    ``list_reduce`` over ``list(... ORDER BY bucket)``), never a
    cross-row SUM whose order the engines would choose differently.
    The ONLY cross-engine divergence left is libm-vs-JVM ``ln`` itself
    (≤1 ulp, observed live at sf0.01: a 2-ulp psi gap), absorbed the
    way ``text_tfidf_topk`` absorbs it: ``round(…, 9)`` on BOTH sides
    of an already-ulp-tight value (the ordered fold is what makes the
    pre-round gap ulp-scale; rounding alone would not be safe after an
    engine-ordered sum).  The ``_r9`` suffix flags the rounding.

    Scale: edges are exact per-group deciles (one sort of the baseline
    per 5-value group key — fine at current group cardinality); the
    DuckDB oracle's ``quantile_cont`` must see bit-identical edges.
    Everything after the edges is a broadcast of ≤9 edge values per
    group + one map-combined count aggregate over
    (type, bucket ≤ 10·|types| groups).
    """
    # ts IS NOT NULL symmetrically on BOTH sides (ADVICE r11): Spark's
    # (ts >= cut).cast('int') is NULL for NULL ts (row silently leaves
    # both n_base and n_cur), while a CASE ... ELSE 0 oracle would call
    # the same row baseline — a NULL-ts row must not be in either half.
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .filter(F.col("ts").isNotNull())
    )
    cut = F.lit(_CUT).cast("timestamp")
    qarr = ", ".join(f"{q:.1f}D" for q in _QS)
    edges = (
        e.filter(F.col("ts") < cut)
        .groupBy("event_type")
        .agg(F.expr(f"percentile(value, array({qarr}))").alias("eg"))
    )
    bucket = sum(
        (F.col("value") >= F.col("eg")[i]).cast("int") for i in range(9)
    ).alias("bucket")
    b = e.join(F.broadcast(edges), "event_type").select(
        "event_type",
        (F.col("ts") >= cut).cast("int").alias("is_cur"),
        bucket,
    )
    counts = b.groupBy("event_type", "bucket").agg(
        F.sum(1 - F.col("is_cur")).alias("n_base"),
        F.sum("is_cur").alias("n_cur"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    pc = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    pb = (F.col("n_base") + 0.5) / (F.col("tb") + 5.0)
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bucket",
        "tb",
        "tc",
        ((pc - pb) * F.log(pc / pb)).alias("term"),
    )
    return terms.groupBy("event_type").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bucket", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            9,
        ).alias("psi_r9"),
        F.max("tb").cast("bigint").alias("n_base"),
        F.max("tc").cast("bigint").alias("n_cur"),
    )
