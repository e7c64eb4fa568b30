"""Time-series resampling operators over the ``events`` table.

The downsampling shapes a metrics/market pipeline runs: OHLC-style
bucket summaries (open/high/low/close per time bucket) and bucketed
rate-of-events.  Companion to ``llm_pipeline.llm_gap_fill_forward``
(upsampling/ffill) — together they cover both resampling directions.

Scale design (100 TB):

* One map-combined aggregate per query: open/close are struct-ordered
  MIN/MAX (the registry's argmax convention — (ts, event_id, value)
  struct min is exactly "value at earliest tie-broken timestamp"),
  which combines associatively on partials, so no window pass and no
  per-group buffering of events.
* The bucket key (event_type × hour) is the shuffle key; bucket count
  grows with time range, not data volume — no skew at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.window import Window

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.moments import int_pearson_moments, pearson_terms
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import _WILSON_HI, _WILSON_LO
from project_fauna_spark.plans.registry import register


@register(
    "ts_ohlc_downsample",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           (min({'ts': ts, 'eid': event_id, 'v': value})).v AS open,
           max(value) AS high,
           min(value) AS low,
           (max({'ts': ts, 'eid': event_id, 'v': value})).v AS close,
           count(*) AS n
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
    """,
)
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsample: per (event_type, hour) — first/max/min/last of
    ``value``, with first/last tie-broken by the unique event_id.

    Open/close are struct-min/max aggregates ((ts, event_id, value)
    compares lexicographically in both engines), NOT window functions:
    the aggregate combines associatively across partitions, so the
    plan is one partial+final hash agg — no sort, no per-group state
    beyond the four running extremes."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    key = F.struct(F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v"))
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        )
        .agg(
            F.min(key).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("v").alias("close"),
            F.count("*").alias("n"),
        )
    )


@register(
    "ts_ewma_bounded",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
             list_reverse(list(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)) AS rev
      FROM events
    )
    SELECT user_id, ts, event_id, value,
           list_reduce([rev[i] * (1.0 / CAST(1 << (i - 1) AS DOUBLE))
                        for i in range(1, len(rev) + 1)],
                       (a, x) -> a + x)
           / (2.0 - 1.0 / CAST(1 << (len(rev) - 1) AS DOUBLE)) AS ewma
    FROM w
    """,
)
def ts_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 1/2) over the last
    16 events per user — the streaming-metrics smoother, made
    cross-engine bit-exact.

    Determinism argument: the weights are powers of two, so every
    product ``x·2⁻ᵏ`` is EXACT (exponent shift, no rounding); the
    only rounding is the numerator sum, folded in fixed index order
    (newest→oldest) on both engines (``F.aggregate`` here,
    ``list_reduce`` in DuckDB).  The normalizer ``Σ 2⁻ᵏ = 2 − 2⁻⁽ⁿ⁻¹⁾``
    is a closed form, exact in binary.

    Scale: one exchange on user_id + sort; frame state is bounded at
    16 rows, so window memory is O(1) per row at any corpus size.
    """
    weights = F.array(*[F.lit(1.0 / (1 << k)) for k in range(16)])
    wspec = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-15, 0)
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("value")
    )
    rev = F.reverse(F.collect_list("value").over(wspec))
    x = e.withColumn("rev", rev)
    num = F.aggregate(
        F.zip_with(F.col("rev"), F.slice(weights, 1, F.size("rev")), lambda x_, w_: x_ * w_),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    den = F.lit(2.0) - F.element_at(weights, F.size("rev"))
    return x.select("user_id", "ts", "event_id", "value", (num / den).alias("ewma"))


@register(
    "window_moving_corr",
    oracle="""
    WITH sc AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             CAST(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(12,2)) * 100 AS BIGINT) AS xl,
             CAST(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2)) * 100 AS BIGINT) AS yl
      FROM lineitem
    ),
    m AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             COUNT(*) OVER w AS n,
             SUM(xl) OVER w AS sx,
             SUM(yl) OVER w AS sy,
             SUM(xl * yl) OVER w AS sxy,
             SUM(xl * xl) OVER w AS sxx,
             SUM(yl * yl) OVER w AS syy
      FROM sc
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, xl, yl
                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
    ),
    d AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, n,
             CAST(sx AS DOUBLE) AS dx,
             CAST(sy AS DOUBLE) AS dy,
             CAST(sxy AS DOUBLE) AS dxy,
             CAST(sxx AS DOUBLE) AS dxx,
             CAST(syy AS DOUBLE) AS dyy
      FROM m
    )
    SELECT l_suppkey, l_orderkey, l_linenumber, n,
           CASE WHEN n >= 2 AND n * dxx - dx * dx > 0 AND n * dyy - dy * dy > 0
                THEN (n * dxy - dx * dy)
                     / (sqrt(n * dxx - dx * dx) * sqrt(n * dyy - dy * dy))
           END AS corr16
    FROM d
    """,
)
def window_moving_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation (16-row frame) of quantity vs price
    per supplier — the moving-analytics shape (rolling beta, rolling
    hedge ratios) done deterministically.

    Correlation is scale-invariant, and both inputs are exactly
    2-decimal — so the moments accumulate over ×100-scaled LONGs:
    exact integer arithmetic (codegen-friendly primitives instead of
    int128 decimals), every frame sum < 2⁵³ (converts to double
    exactly); only the final per-row combination rounds
    — the same argument as ``analytics.agg_corr_deterministic``,
    lifted to windows.  Degenerate frames (n=1, constant values, or a
    variance rounded to ≤0) gate to NULL on both engines — ANSI Spark
    throws on double division by zero, so the guard is explicit.

    Tie-break: the synthetic lineitem has NO unique key — even
    (l_orderkey, l_linenumber, l_suppkey) collides (~175 dups at
    sf0.1), and a frame boundary between value-distinct tied rows is
    engine-order-dependent (2 divergent rows out of 600k at sf0.1
    before the fix).  Appending (xl, yl) to the ORDER BY makes any
    remaining ties value-identical, so every frame is multiset-equal
    under either order and the output is deterministic on both
    engines.

    Scale: one exchange on l_suppkey; frame state is 16 rows."""
    l = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "xl", "yl")
        .rowsBetween(-15, 0)
    )
    xl = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    yl = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    sc = l.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate",
        xl.alias("xl"), yl.alias("yl"),
    )
    m = sc.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("xl").over(w).cast("double").alias("dx"),
        F.sum("yl").over(w).cast("double").alias("dy"),
        F.sum(F.col("xl") * F.col("yl")).over(w).cast("double").alias("dxy"),
        F.sum(F.col("xl") * F.col("xl")).over(w).cast("double").alias("dxx"),
        F.sum(F.col("yl") * F.col("yl")).over(w).cast("double").alias("dyy"),
    )
    n, dx, dy = F.col("n"), F.col("dx"), F.col("dy")
    dxy, dxx, dyy = F.col("dxy"), F.col("dxx"), F.col("dyy")
    vx, vy = n * dxx - dx * dx, n * dyy - dy * dy
    # ANSI mode: double division by zero THROWS (not IEEE NaN), so
    # degenerate frames (n=1, constant values, or a variance rounded
    # to <= 0) gate to NULL — same CASE on both engines.
    corr = F.when(
        (n >= 2) & (vx > 0) & (vy > 0),
        (n * dxy - dx * dy) / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return m.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "n", corr.alias("corr16")
    )


# --------------------------------------------------------------------------
# ts_max_drawdown — worst peak-to-trough collapse of the daily series
# --------------------------------------------------------------------------


@register(
    "ts_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day,
             MAX(cnt) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) - cnt AS dd
      FROM daily
    ),
    m AS (
      SELECT event_type, CAST(MAX(dd) AS BIGINT) AS max_drawdown,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM w GROUP BY 1
    )
    SELECT m.event_type, m.n_days, m.max_drawdown,
           MIN(w.day) AS trough_day
    FROM m JOIN w ON w.event_type = m.event_type AND w.dd = m.max_drawdown
    GROUP BY 1, 2, 3
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily event count per type: the largest
    gap between the running historical peak and the current day's
    volume, plus the (earliest) day it bottomed out — the
    peak-to-trough collapse metric finance applies to equity curves
    and ops dashboards apply to traffic ("how far below our best day
    did we ever fall, and when?").  ``ts_cusum_changepoint`` locates
    sustained level SHIFTS; drawdown measures worst-case regression
    from the peak — 0 for a series that only ever sets new highs.

    All-integer: running max of exact counts, drawdown = runmax − cnt,
    the trough is the min day achieving the max (join-back, no
    order-dependent argmax).  Scale: the window and join-back run on
    the calendar-bounded daily frame (days × types), after one
    map-combined aggregate over raw events — a per-key unbounded
    series would two-phase through ``functions/ranks.bucket_offsets``
    instead.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("cnt"))
    )
    run = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w = cached(
        daily.select(
            "event_type",
            "day",
            (F.max("cnt").over(run) - F.col("cnt")).alias("dd"),
        )
    )
    m = w.groupBy("event_type").agg(
        F.max("dd").cast("long").alias("max_drawdown"),
        F.count("*").alias("n_days"),
    )
    # m derives from w, so disambiguate the join keys by renaming.
    m2 = m.withColumnRenamed("event_type", "et")
    return (
        w.join(
            F.broadcast(m2),
            (F.col("event_type") == F.col("et"))
            & (F.col("dd") == F.col("max_drawdown")),
        )
        .groupBy("et", "n_days", "max_drawdown")
        .agg(F.min("day").alias("trough_day"))
        .select(
            F.col("et").alias("event_type"),
            "n_days",
            "max_drawdown",
            "trough_day",
        )
    )


@register(
    "ts_daily_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ),
    m AS (
      SELECT day, n,
             CAST(SUM(n) OVER w AS BIGINT) AS s1,
             CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
             CAST(COUNT(*) OVER w AS BIGINT) AS c
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           CAST(s1 AS DOUBLE) / c AS mean7,
           sqrt(CAST(s2 AS DOUBLE) / c - (CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c))
             AS std7,
           CASE WHEN s2 * c > s1 * s1
                THEN abs(n - CAST(s1 AS DOUBLE) / c)
                     / sqrt(CAST(s2 AS DOUBLE) / c - (CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c))
                END AS z,
           COALESCE(CASE WHEN s2 * c > s1 * s1
                THEN abs(n - CAST(s1 AS DOUBLE) / c)
                     / sqrt(CAST(s2 AS DOUBLE) / c - (CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c))
                END > 2.0, FALSE) AS is_anomaly
    FROM m WHERE c >= 3
    """,
)
def ts_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: each day's event count compared
    to its trailing-7-day mean/σ (current day excluded), flagged when
    |z| > 2 — the ops-dashboard spike/drop detector.

    The windowed moments run over the DAILY table (calendar-sized —
    a bounded global window, the ``llm_vocab_topk`` class, not the RFM
    trap) and use integer sums (counts and squared counts are exact),
    so mean, σ and z are single per-row double expressions; days with
    zero trailing variance emit NULL z / FALSE.  Warm-up days (< 3
    trailing observations) are excluded.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    m = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") >= 3)
    mean7 = F.col("s1").cast("double") / F.col("c")
    var7 = F.col("s2").cast("double") / F.col("c") - mean7 * mean7
    z = F.when(
        F.col("s2") * F.col("c") > F.col("s1") * F.col("s1"),
        F.abs(F.col("n") - mean7) / F.sqrt(var7),
    )
    return m.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        mean7.alias("mean7"),
        F.sqrt(var7).alias("std7"),
        z.alias("z"),
        F.coalesce(z > 2.0, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "ts_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ),
    j AS (
      SELECT a.day, a.n AS actual, b.n AS forecast,
             abs(a.n - b.n) AS abs_err
      FROM daily a JOIN daily b ON b.day = a.day - INTERVAL 7 DAY
    )
    SELECT COUNT(*) AS n_days,
           CAST(CAST(SUM(CAST(CAST(abs_err AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mae,
           CAST(CAST(SUM(CAST(CAST(CAST(abs_err AS DOUBLE) / actual AS VARCHAR)
                              AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mape,
           CAST(MAX(abs_err) AS BIGINT) AS worst_abs_err
    FROM j
    """,
)
def ts_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event
    volume as the same weekday one week earlier and report MAE, MAPE
    and the worst absolute error — the baseline every forecasting
    model must beat, and the cheapest way to quantify weekly
    seasonality strength.

    Daily counts are one map-combined aggregate; the lag join is a
    self-join of the calendar-sized table on a shifted key. Errors
    are integers; MAE/MAPE are decimal-accumulated means of per-row
    exact values.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = daily.select(F.col("day"), F.col("n").alias("actual"))
    b = daily.select(
        F.date_add(F.col("day"), 7).alias("day"), F.col("n").alias("forecast")
    )
    j = a.join(b, "day").withColumn(
        "abs_err", F.abs(F.col("actual") - F.col("forecast"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.col("abs_err").cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mae"),
        (
            F.sum(
                (F.col("abs_err").cast("double") / F.col("actual")).cast(
                    "decimal(30,12)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mape"),
        F.max("abs_err").cast("long").alias("worst_abs_err"),
    )


# --------------------------------------------------------------------------
# ts_date_spine_gapfill — calendar-spine generation + activity coverage
# --------------------------------------------------------------------------


@register(
    "ts_date_spine_gapfill",
    oracle="""
    WITH act AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    ),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM act GROUP BY user_id
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    j AS (
      SELECT s.user_id, s.day, a.user_id IS NOT NULL AS active
      FROM spine s LEFT JOIN act a
        ON a.user_id = s.user_id AND a.day = s.day
    )
    SELECT user_id,
           COUNT(*) AS n_days_span,
           CAST(COUNT(*) FILTER (WHERE active) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) FILTER (WHERE NOT active) AS BIGINT) AS n_gap_days,
           CAST(COUNT(*) FILTER (WHERE active) AS DOUBLE) / COUNT(*)
             AS activity_ratio,
           strftime(MIN(CASE WHEN NOT active THEN day END), '%Y-%m-%d')
             AS first_gap_day
    FROM j GROUP BY user_id
    """,
)
def ts_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap-fill: generate each user's full daily date
    spine between their first and last event (``sequence`` + explode —
    the densification pattern every reporting pipeline needs before
    window math can see zero-activity days), left-join actual activity,
    and report coverage plus the first silent day.

    The spine explode is bounded per user by their own span (never a
    global calendar cross join); activity is pre-aggregated to
    (user, day) before the join, so the spine join is id+date equi.
    Counts are integers; the ratio is one division; the gap day is a
    formatted date string (no timestamp-type edge).
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    act = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    act = cached(act)
    span = act.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(
        act.withColumn("active", F.lit(True)), ["user_id", "day"], "left"
    ).withColumn("active", F.coalesce(F.col("active"), F.lit(False)))
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_days_span"),
        F.sum(F.col("active").cast("long")).cast("long").alias("n_active_days"),
        F.sum((~F.col("active")).cast("long")).cast("long").alias("n_gap_days"),
        (
            F.sum(F.col("active").cast("long")).cast("double") / F.count("*")
        ).alias("activity_ratio"),
        F.date_format(
            F.min(F.when(~F.col("active"), F.col("day"))), "yyyy-MM-dd"
        ).alias("first_gap_day"),
    )


# --------------------------------------------------------------------------
# ts_cusum_changepoint — scaled-integer CUSUM level-shift detection
# --------------------------------------------------------------------------


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
    ),
    tot AS (
      SELECT event_type, COUNT(*) AS nd, SUM(n) AS s1
      FROM daily GROUP BY event_type
    ),
    c AS (
      SELECT d.event_type, d.day, d.n, t.nd, t.s1,
             t.nd * SUM(d.n) OVER (PARTITION BY d.event_type ORDER BY d.day
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (row_number() OVER (PARTITION BY d.event_type ORDER BY d.day))
                 * t.s1 AS cusum_scaled
      FROM daily d JOIN tot t ON t.event_type = d.event_type
    ),
    best AS (
      SELECT event_type, day AS changepoint_day, cusum_scaled, nd FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(cusum_scaled) DESC, day) AS rn
        FROM c) WHERE rn = 1
    )
    SELECT event_type,
           strftime(changepoint_day, '%Y-%m-%d') AS changepoint_day,
           CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           CAST(abs(cusum_scaled) AS DOUBLE) / nd AS max_abs_deviation
    FROM best
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily event volumes: the day
    where the cumulative deviation from the series mean peaks — the
    classic level-shift locator (did the pipeline's volume regime
    change, and when?), complementing ``dq_control_chart``'s
    point-outlier flags.

    INTEGER-exact by scaling: CUSUM_k = Σᵢ≤ₖ(nᵢ − S₁/N) is multiplied
    through by N to N·Σᵢ≤ₖnᵢ − k·S₁ — a running BIGINT sum times
    integers, so the argmax day is exact in both engines with zero
    float accumulation (the normalized deviation is ONE division at
    the edge).  The argmax tie-breaks on the earlier day.

    Scale: the running sum windows over the DAILY table (one row per
    (type, day) — already aggregated), so the window state is
    calendar-bounded, not data-bounded; the raw-events pass is one
    map-combined count.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    daily = cached(daily)
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("nd"), F.sum("n").alias("s1")
    )
    w_run = (
        W.partitionBy("event_type").orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_rn = W.partitionBy("event_type").orderBy("day")
    c = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("run_sum", F.sum("n").over(w_run))
        .withColumn("k", F.row_number().over(w_rn))
        .withColumn(
            "cusum_scaled", F.col("nd") * F.col("run_sum") - F.col("k") * F.col("s1")
        )
    )
    w_best = W.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "day"
    )
    return (
        c.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
            (F.abs(F.col("cusum_scaled")).cast("double") / F.col("nd")).alias(
                "max_abs_deviation"
            ),
        )
    )


# --------------------------------------------------------------------------
# ts_acf_daily — autocorrelation of the daily event count at small lags
# --------------------------------------------------------------------------

_ACF_LAGS = [1, 2, 3, 7]


@register(
    "ts_acf_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lags(lag) AS (VALUES {", ".join(f"({k})" for k in _ACF_LAGS)}),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                * sqrt(CAST(CAST(np * syy - sy * sy AS VARCHAR) AS DOUBLE)))
             AS acf
    FROM m
    WHERE np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
    """,
)
def ts_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event count at lags 1/2/3/7 — the
    seasonality detector: a spike at lag 7 says weekly cycle, slow
    decay says trend, and the answer decides whether the forecast /
    anomaly operators need deseasonalizing first.

    Everything before the final division is EXACT integer arithmetic:
    daily counts are integers, each lag's Pearson moments (Σx, Σy,
    Σxy, Σx², Σy²) accumulate in decimal(38,0) (HUGEINT in the
    oracle), and the correlation is the classic
    ``(nΣxy−ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))`` with the three
    operands cast to double from the same exact integers on both
    engines — sqrt is IEEE-correctly-rounded (memory: sqrt-safe where
    pow is not).  Zero-variance lags are filtered, not divided.
    Scale: the daily series is calendar-bounded (one map-combined
    aggregate of the fact table), so the lag self-join and moment
    aggregates run on a tiny frame no matter the corpus size; missing
    days simply produce no pair (documented: ACF over observed pairs).
    """
    daily = cached(
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "lag int")
    a = daily.select(F.col("day").alias("a_day"), F.col("n").alias("x"))
    bset = daily.select(F.col("day").alias("b_day"), F.col("n").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .withColumn("b_day", F.expr("date_add(a_day, lag)"))
        .join(bset, "b_day")
    )
    m = int_pearson_moments(pairs, ["lag"])
    _, dx, dy, corr = pearson_terms()
    return (
        m.filter((dx > 0) & (dy > 0))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("np_l").cast("long").alias("n_pairs"),
            corr.alias("acf"),
        )
    )


# --------------------------------------------------------------------------
# ts_crosscorr_daily — does view traffic LEAD purchases, and by how much?
# --------------------------------------------------------------------------

_XCORR_LAGS = [0, 1, 2, 3, 7]


@register(
    "ts_crosscorr_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS y
      FROM events GROUP BY 1
    ),
    lags(lag) AS (VALUES {", ".join(f"({k})" for k in _XCORR_LAGS)}),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                * sqrt(CAST(CAST(np * syy - sy * sy AS VARCHAR) AS DOUBLE)))
             AS xcorr
    FROM m
    WHERE np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
    """,
)
def ts_crosscorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the daily VIEW count and the daily
    PURCHASE count at lags 0/1/2/3/7: the Pearson correlation of
    ``(views(d), purchases(d+k))`` pairs — the lead–lag detector that
    says whether traffic predicts conversions and at what horizon
    (``ts_acf_daily`` answers the same question for one series against
    itself).  Both series live on the union calendar with explicit
    zero counts (a day with views but no purchases contributes y = 0,
    not a dropped pair), so the statistic is not survivorship-biased.

    Everything before the final division is EXACT integer arithmetic:
    one map-combined aggregate builds the calendar-bounded (day, x, y)
    frame in a single events scan; each lag's moments (Σx, Σy, Σxy,
    Σx², Σy²) accumulate in decimal(38,0) (HUGEINT in the oracle) and
    the correlation operands cast to double from the same exact
    integers on both engines — sqrt is IEEE-correctly-rounded (memory:
    sqrt-safe where pow is not).  Zero-variance lags are filtered, not
    divided.  Scale: the lag self-join and moments run on the tiny
    daily frame regardless of corpus size.
    """
    daily = cached(
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
    )
    lags = spark.createDataFrame([(k,) for k in _XCORR_LAGS], "lag int")
    a = daily.select(F.col("day").alias("a_day"), "x")
    bset = daily.select(F.col("day").alias("b_day"), "y")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .withColumn("b_day", F.expr("date_add(a_day, lag)"))
        .join(bset, "b_day")
    )
    m = int_pearson_moments(pairs, ["lag"])
    _, dx, dy, corr = pearson_terms()
    return (
        m.filter((dx > 0) & (dy > 0))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("np_l").cast("long").alias("n_pairs"),
            corr.alias("xcorr"),
        )
    )


# --------------------------------------------------------------------------
# ts_weekday_profile — seasonal index per ISO weekday
# --------------------------------------------------------------------------


@register(
    "ts_weekday_profile",
    oracle="""
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
                   CAST(SUM(n_events) AS BIGINT) AS te FROM wd)
    SELECT CAST(iso_dow AS BIGINT) AS iso_dow,
           n_days,
           n_events,
           CAST(n_events AS DOUBLE) / n_days AS avg_events,
           (CAST(n_events AS DOUBLE) / n_days)
             / (CAST(te AS DOUBLE) / td) AS seasonal_index
    FROM wd CROSS JOIN tot
    """,
)
def ts_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: for each ISO weekday (1 = Monday …
    7 = Sunday), the number of observed days, total events, mean
    events per day, and the SEASONAL INDEX — that weekday's mean over
    the all-days mean (1.0 = flat; >1 = busy day).  This is the
    multiplicative weekday factor a deseasonalizer or staffing
    forecast consumes, and the direct readout of whatever lag-7
    structure ``ts_acf_daily`` detects.

    Counts are exact integers end-to-end; the two means and their
    ratio are three IEEE double divisions of identical integers in
    both engines (no cross-row float accumulation anywhere).  The
    weekday key is ISO in both engines (Spark ``weekday()+1`` ≡ DuckDB
    ``isodow``).  Scale: one map-combined daily aggregate of the fact
    table, then a ≤7-row frame with a broadcast 1-row total.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    # wd feeds the totals aggregate AND the final select — persist the
    # ≤7-row frame so the events scan + daily aggregate runs once.
    wd = cached(
        daily.groupBy(
            (F.expr("weekday(day)") + F.lit(1)).cast("long").alias("iso_dow")
        ).agg(
            F.count("*").alias("n_days"),
            F.sum("n").alias("n_events"),
        )
    )
    tot = wd.agg(
        F.sum("n_days").alias("td"), F.sum("n_events").alias("te")
    )
    avg_events = F.col("n_events").cast("double") / F.col("n_days")
    overall = F.col("te").cast("double") / F.col("td")
    return wd.crossJoin(F.broadcast(tot)).select(
        "iso_dow",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_events").cast("long").alias("n_events"),
        avg_events.alias("avg_events"),
        (avg_events / overall).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# ts_holt_linear_forecast — level+trend smoothing, bit-exact fold replay
# --------------------------------------------------------------------------

_HOLT_HORIZON = 7


@register(
    "ts_holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ord AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
    ),
    s(t, l, b) AS (
      SELECT t, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE) FROM ord WHERE t = 1
      UNION ALL
      SELECT o.t,
             (CAST(o.n AS DOUBLE) + (s.l + s.b)) / 2,
             (((CAST(o.n AS DOUBLE) + (s.l + s.b)) / 2 - s.l) + s.b) / 2
      FROM s JOIN ord o ON o.t = s.t + 1
    ),
    fin AS (SELECT t, l, b FROM s ORDER BY t DESC LIMIT 1),
    h(h) AS (VALUES {", ".join(f"({k})" for k in range(1, _HOLT_HORIZON + 1))})
    SELECT CAST(h.h AS BIGINT) AS h,
           CAST(fin.t AS BIGINT) AS n_days,
           fin.l AS level,
           fin.b AS trend,
           fin.l + h.h * fin.b AS forecast
    FROM h CROSS JOIN fin
    """,
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing of the daily event
    count (α = β = ½) with a 1–7-day-ahead forecast ŷ(h) = ℓ + h·b —
    the trend-aware upgrade of ``ts_ewma_bounded`` (which tracks level
    only) and the model-based counterpart of
    ``ts_seasonal_naive_backtest``.  Init ℓ₁ = y₁, b₁ = 0.

    The recursion ℓₜ = (yₜ + (ℓ+b))/2, bₜ = ((ℓₜ−ℓ)+b)/2 compounds
    floats, so cross-engine equality comes from REPLAYING THE
    IDENTICAL OPERATION SEQUENCE, not from exactness: Spark folds the
    day-sorted array left-to-right (``F.aggregate``) and the oracle's
    recursive CTE performs the same adds/divides in the same order —
    the ``event_survival_km`` index-ordered-fold convention.  The
    smoothing constants are dyadic (÷2), keeping early iterates exact
    and later ones merely identical.  Scale: one map-combined daily
    aggregate; the fold runs on the calendar-bounded series (≤ a few
    thousand elements at any SF), never on raw rows.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("ys")
    )

    def _step(acc, x):  # noqa: ANN001 — HOF lambda: touches acc + element only
        y = x.getField("n").cast("double")
        first = acc.getField("t") == 0
        l_new = F.when(first, y).otherwise(
            (y + (acc.getField("l") + acc.getField("b"))) / F.lit(2)
        )
        b_new = F.when(first, F.lit(0.0)).otherwise(
            ((l_new - acc.getField("l")) + acc.getField("b")) / F.lit(2)
        )
        return F.struct(
            (acc.getField("t") + F.lit(1)).cast("long").alias("t"),
            l_new.alias("l"),
            b_new.alias("b"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("t"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
    )
    fin = arr.select(F.aggregate(F.col("ys"), init, _step).alias("s")).select(
        F.col("s.t").alias("n_days"),
        F.col("s.l").alias("level"),
        F.col("s.b").alias("trend"),
    )
    return (
        fin.filter(F.col("n_days") > 0)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(_HOLT_HORIZON))
            ).alias("h_i"),
            "n_days",
            "level",
            "trend",
        )
        .select(
            F.col("h_i").cast("long").alias("h"),
            "n_days",
            "level",
            "trend",
            (F.col("level") + F.col("h_i") * F.col("trend")).alias("forecast"),
        )
    )


# --------------------------------------------------------------------------
# ts_dow_hour_heatmap — the weekly traffic fingerprint
# --------------------------------------------------------------------------


@register(
    "ts_dow_hour_heatmap",
    oracle="""
    WITH c AS (
      SELECT isodow(CAST(ts AS DATE)) AS iso_dow,
             hour(ts) AS hour_of_day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS te FROM c)
    SELECT CAST(iso_dow AS BIGINT) AS iso_dow,
           CAST(hour_of_day AS BIGINT) AS hour_of_day,
           n_events,
           CAST(n_events AS DOUBLE) / tot.te AS share
    FROM c CROSS JOIN tot
    """,
)
def ts_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly traffic fingerprint: event counts and shares on the
    (ISO weekday × hour-of-day) grid — the ≤168-cell heatmap behind
    capacity planning, maintenance-window choice, and the finer-grained
    twin of ``ts_weekday_profile`` (which collapses the hour axis).

    One map-combined aggregate on a bounded composite key; shares are
    single integer divisions against a broadcast 1-row total.  The
    weekday/hour keys are engine-identical (Spark ``weekday()+1`` ≡
    DuckDB ``isodow``; both ``hour()`` read the same session-UTC
    timestamps — the ``io.load_table`` normalization contract).
    """
    e = load_table(spark, sf_dir, "events").select(
        (F.expr("weekday(to_date(ts))") + F.lit(1)).cast("long").alias(
            "iso_dow"
        ),
        F.hour("ts").cast("long").alias("hour_of_day"),
    )
    # c feeds the total aggregate AND the final select — persist the
    # ≤168-row grid so the events scan runs once.
    c = cached(
        e.groupBy("iso_dow", "hour_of_day").agg(
            F.count("*").alias("n_events")
        )
    )
    tot = c.agg(F.sum("n_events").alias("te"))
    return c.crossJoin(F.broadcast(tot)).select(
        "iso_dow",
        "hour_of_day",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("n_events").cast("double") / F.col("te")).alias("share"),
    )


@register(
    "ts_conversion_wilson_ci",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS k,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS nv
      FROM events GROUP BY 1
    )
    SELECT day, k AS n_purchases, nv AS n_views,
           CAST(k AS DOUBLE) / n AS rate,
           {_WILSON_LO} AS ci_low,
           {_WILSON_HI} AS ci_high
    FROM (SELECT day, k, nv, k + nv AS n FROM d WHERE k + nv > 0)
    """,
)
def ts_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily conversion intensity — purchases as a share of
    view+purchase events (a TRUE binomial proportion, k ≤ n by
    construction; raw purchases/views can exceed 1 on days users buy
    without browsing and is not interval-able) — with a 95 % WILSON
    SCORE interval: the error bar that stays inside [0, 1] (up to a
    few ulp of float rounding at k=0 / k=n) and stays honest at small
    n, unlike the naive normal interval.  The daily
    dashboard line that says whether today's dip is signal or sample
    noise (the per-day sibling of ``event_conversion_window_sweep``'s
    aggregate rates).

    k and n are exact integer daily counts from one map-combined
    aggregate.  The interval arithmetic is a fixed double expression
    fed VERBATIM to both engines (one shared SQL string → identical
    ASTs → identical correctly-rounded IEEE ops; sqrt is exact), so
    the bounds are bit-equal without any decimal routing — PROVIDED
    every literal is scientific-notation DOUBLE (see the _WILSON_*
    comment: bare decimal literals type differently per engine; the
    fixed strings were verified bitwise-equal over all 7259 (k, n)
    pairs with n ≤ 119).  Zero-sample days are excluded, not divided
    by.  Scale: the frame is calendar-bounded; nothing after the scan
    grows with SF.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("long")
            .alias("k"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("long")
            .alias("nv"),
        )
    )
    return (
        d.filter(F.col("k") + F.col("nv") > 0)
        .withColumn("n", F.col("k") + F.col("nv"))
        .select(
            "day",
            F.col("k").alias("n_purchases"),
            F.col("nv").alias("n_views"),
            (F.col("k").cast("double") / F.col("n")).alias("rate"),
            F.expr(_WILSON_LO).alias("ci_low"),
            F.expr(_WILSON_HI).alias("ci_high"),
        )
    )


# --------------------------------------------------------------------------
# ts_weekly_trend_slopes — is traffic ramping, week by week?
# --------------------------------------------------------------------------


@register(
    "ts_weekly_trend_slopes",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    wk AS (
      SELECT CAST(date_trunc('week', day) AS DATE) AS week_start,
             CAST(date_diff('day', CAST(date_trunc('week', day) AS DATE),
                            day) AS BIGINT) AS x,
             y
      FROM daily
    ),
    m AS (
      SELECT week_start,
             CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM wk GROUP BY week_start
    )
    SELECT week_start,
           CAST(np AS BIGINT) AS n_days,
           CAST(sy AS BIGINT) AS total_events,
           CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE)
             AS slope_per_day
    FROM m
    WHERE np * sxx - sx * sx > 0
    """,
)
def ts_weekly_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-week OLS trend of the daily event count: for each calendar
    week (Monday start in both engines' ``date_trunc('week')``), the
    least-squares slope of count vs day-of-week — events/day of ramp,
    the week-granular "are we growing right now?" readout that one
    global regression (``ml_ols_fit``) or the seasonal profile
    (``ts_weekday_profile``) can't give.  Single-day weeks (no x
    variance) are excluded rather than divided by.

    x is the 0–6 day offset within the week and y the exact daily
    count, so the closed-form slope ``(nΣxy−ΣxΣy)/(nΣx²−(Σx)²)`` is
    ONE double division of exactly-accumulated integers (the shared
    ``functions/moments`` machinery — Σy doubles as the week's total
    for free).  Scale: one map-combined daily aggregate, then a
    weeks-sized frame.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("y"))
    )
    week_start = F.to_date(F.date_trunc("week", F.col("day")))
    wk = daily.select(
        week_start.alias("week_start"),
        F.datediff(F.col("day"), week_start).cast("long").alias("x"),
        "y",
    )
    m = int_pearson_moments(wk, ["week_start"])
    num, dx, _, _ = pearson_terms()
    return (
        m.filter(dx > 0)
        .select(
            "week_start",
            F.col("np_l").cast("long").alias("n_days"),
            F.col("sy").cast("long").alias("total_events"),
            (num.cast("double") / dx.cast("double")).alias("slope_per_day"),
        )
    )


# --------------------------------------------------------------------------
# ts_stream_gap_audit — how long did the firehose ever go silent?
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_GAP_ALERT_US = 300_000_000  # 5 minutes


@register(
    "ts_stream_gap_audit",
    oracle=f"""
    WITH t AS (SELECT DISTINCT epoch_us(ts) AS us FROM events),
    g AS (
      SELECT us, LEAD(us) OVER (ORDER BY us) - us AS gap
      FROM t
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_ts,
             CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us
      FROM t
    ),
    m AS (
      SELECT CAST(SUM(CASE WHEN gap > {_GAP_ALERT_US} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alert_gaps,
             CAST(MAX(gap) AS BIGINT) AS largest_gap_us
      FROM g WHERE gap IS NOT NULL
    )
    SELECT s.n_distinct_ts, s.span_us, m.n_alert_gaps, m.largest_gap_us,
           (SELECT CAST(MIN(us) AS BIGINT) FROM g
            WHERE gap = m.largest_gap_us) AS largest_gap_start_us
    FROM s, m
    """,
)
def ts_stream_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence audit of the whole event stream: the longest gap
    between consecutive event timestamps (exact microseconds), where
    it starts, and how many gaps exceeded the 5-minute alert
    threshold — the "was ingestion ever down?" check
    (``ts_date_spine_gapfill`` finds silent DAYS per user; this finds
    minute-grain GLOBAL outages).

    The ``dq_sequence_gap_audit`` de-skew shape transplanted to time:
    distinct timestamps bucket by hour (range-preserving), LEAD runs
    inside each bucket, and cross-bucket seams come from the
    hour-summary table — no global sort ever touches row-sized data.
    The gap start is the join-back MIN over maximal gaps.  All exact
    integer microseconds.
    """
    t = cached(
        load_table(spark, sf_dir, "events")
        .select(F.unix_micros("ts").alias("us"))
        .distinct()
        .withColumn("bucket", (F.col("us") / _HOUR_US).cast("long"))
    )
    in_bucket = t.select(
        "us",
        (
            F.lead("us").over(W.partitionBy("bucket").orderBy("us")) - F.col("us")
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    summary = t.groupBy("bucket").agg(
        F.min("us").alias("min_u"), F.max("us").alias("max_u")
    )
    seams = summary.select(
        F.col("max_u").alias("us"),
        (F.lead("min_u").over(W.orderBy("bucket")) - F.col("max_u")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gaps = cached(in_bucket.unionAll(seams))
    s = t.agg(
        F.count("*").alias("n_distinct_ts"),
        (F.max("us") - F.min("us")).alias("span_us"),
    )
    m = gaps.agg(
        F.sum(F.when(F.col("gap") > _GAP_ALERT_US, 1).otherwise(0)).alias(
            "n_alert_gaps"
        ),
        F.max("gap").alias("largest_gap_us"),
    )
    start = gaps.join(
        F.broadcast(m.select(F.col("largest_gap_us").alias("lg"))),
        F.col("gap") == F.col("lg"),
    ).agg(F.min("us").alias("largest_gap_start_us"))
    return s.crossJoin(m).crossJoin(start).select(
        "n_distinct_ts",
        "span_us",
        "n_alert_gaps",
        "largest_gap_us",
        "largest_gap_start_us",
    )


# --------------------------------------------------------------------------
# ts_theil_sen_trend — the robust slope a single outlier day can't bend
# --------------------------------------------------------------------------


@register(
    "ts_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    s AS (
      SELECT CAST(yb - ya AS DOUBLE) / CAST(xb - xa AS DOUBLE) AS slope,
             xa, xb
      FROM p
    ),
    r AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope, xa, xb) AS rn,
             COUNT(*) OVER () AS m
      FROM s
    ),
    med AS (
      SELECT CAST(MAX(m) AS BIGINT) AS n_pairs,
             AVG(slope) FILTER (WHERE rn * 2 IN (m, m + 1, m + 2))
               AS theil_sen_slope
      FROM r
    ),
    mm AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM daily
    )
    SELECT CAST(mm.np AS BIGINT) AS n_days, med.n_pairs,
           med.theil_sen_slope,
           CAST(CAST(mm.np * mm.sxy - mm.sx * mm.sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(mm.np * mm.sxx - mm.sx * mm.sx AS VARCHAR) AS DOUBLE)
             AS ols_slope
    FROM med, mm
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of the daily-volume trend — the MEDIAN of
    all pairwise day-to-day slopes — next to the OLS slope it
    robustifies: one outlier day (a backfill dump, an outage) can drag
    OLS arbitrarily but moves Theil–Sen by at most one rank.  The
    spread between the two columns IS the outlier alarm.

    Exactness: each pairwise slope is one IEEE division of exact
    integer differences (identical both engines); the median is
    rank-selected under a total (slope, xa, xb) order — for an even
    pair count the two middle slopes average, a single
    order-independent (a+b)/2.  The OLS twin uses the shared integer
    moments.  Scale: the pairwise frame is days²-sized — CALENDAR²,
    not data² (90 days → 4 005 pairs) — built after the one
    map-combined daily aggregate; a multi-year series would bound
    pairs with the standard windowed-Theil–Sen variant.
    """
    daily = cached(
        load_table(spark, sf_dir, "events")
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "x"
            )
        )
        .groupBy("x")
        .agg(F.count("*").alias("y"))
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
            "xa",
            "xb",
        )
    )
    r = s.select(
        "slope",
        F.row_number().over(W.orderBy("slope", "xa", "xb")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("m"),
    )
    med = r.agg(
        F.max("m").cast("long").alias("n_pairs"),
        F.avg(
            F.when(
                (F.col("rn") * 2 == F.col("m"))
                | (F.col("rn") * 2 == F.col("m") + 1)
                | (F.col("rn") * 2 == F.col("m") + 2),
                F.col("slope"),
            )
        ).alias("theil_sen_slope"),
    )
    mm = int_pearson_moments(daily, [])
    num, dx, _, _ = pearson_terms()
    ols = mm.select(
        F.col("np_l").cast("long").alias("n_days"),
        (num.cast("double") / dx.cast("double")).alias("ols_slope"),
    )
    return med.crossJoin(ols).select(
        "n_days", "n_pairs", "theil_sen_slope", "ols_slope"
    )


# --------------------------------------------------------------------------
# ts_period_scan — which cycle length explains the traffic?
# --------------------------------------------------------------------------

_PERIODS = list(range(2, 15))  # candidate cycle lengths (days)


@register(
    "ts_period_scan",
    # For each candidate period p the series (dense day ranks of the
    # OBSERVED days) truncates to m = ⌊N/p⌋ full cycles so every phase
    # has exactly m points; the between-phase variance share is then
    # R² = (p·Σ_φ S_φ² − T²) / (N'·Σx² − T²) with N' = p·m — an
    # ALL-integer numerator and denominator and ONE IEEE division, so
    # the argmax over 13 such doubles is deterministic cross-engine.
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    rk AS (
      SELECT y, row_number() OVER (ORDER BY day) - 1 AS r,
             COUNT(*) OVER () AS nd
      FROM daily
    ),
    px AS (
      SELECT p.p, rk.y, rk.r % p.p AS phase, (rk.nd // p.p) AS m
      FROM rk, (SELECT unnest([{", ".join(map(str, _PERIODS))}]) AS p) p
      WHERE rk.r < p.p * (rk.nd // p.p)
    ),
    ph AS (
      SELECT p, phase, m,
             CAST(SUM(y) AS HUGEINT) AS s,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ss
      FROM px GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT p, CAST(MAX(m) AS BIGINT) AS m,
             CAST(p * MAX(m) AS BIGINT) AS n_used,
             SUM(s) AS t, SUM(ss) AS ssx, SUM(s * s) AS s2
      FROM ph GROUP BY p
    ),
    scored AS (
      SELECT p AS period, m AS folds, n_used,
             CASE WHEN n_used * ssx - t * t > 0
                  THEN CAST(CAST(p * s2 - t * t AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(n_used * ssx - t * t AS VARCHAR) AS DOUBLE)
             END AS between_r2
      FROM per
    ),
    -- zero-fold periods (series shorter than p) still emit a row:
    -- the scan contract is ALL of 2..14, NULL when unanswerable
    spine AS (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14]) AS period)
    SELECT sp.period,
           COALESCE(sc.folds, 0) AS folds,
           COALESCE(sc.n_used, 0) AS n_used,
           sc.between_r2,
           sc.between_r2 IS NOT NULL AND
           struct_pack(v := sc.between_r2, np := -sp.period) =
             (SELECT MAX(struct_pack(v := between_r2, np := -period))
              FROM scored WHERE between_r2 IS NOT NULL) AS is_best
    FROM spine sp LEFT JOIN scored sc ON sc.period = sp.period
    """,
)
def ts_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram-free seasonality scan: for every candidate cycle
    length p ∈ 2..14 days, fold the daily-count series into p phases
    (truncated to whole cycles so phases are balanced) and score the
    share of variance the phase means explain — the period whose fold
    lines the data up best wins (``ts_acf_daily`` probes FIXED lags;
    this scans the whole candidate range and flags the argmax, the
    automated version of "is it weekly?").

    All moments are exact integers; each R² is one IEEE division of
    exact integers (VARCHAR-routed decimal edges), and the winner is
    a lexicographic struct argmax on (R², −period) — smallest period
    wins ties, deterministically.  Scale: one map-combined daily
    aggregate; the fold/score frames are (periods × phases)-sized.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("y"))
    )
    rk = daily.select(
        "y",
        (F.row_number().over(W.orderBy("day")) - 1).alias("r"),
        F.count("*").over(W.partitionBy()).alias("nd"),
    )
    ps = spark.createDataFrame([(p,) for p in _PERIODS], "p long")
    px = (
        rk.crossJoin(F.broadcast(ps))
        .withColumn("m", F.expr("nd DIV p"))
        .filter(F.col("r") < F.col("p") * F.col("m"))
        .select("p", "y", (F.col("r") % F.col("p")).alias("phase"), "m")
    )
    dy = F.col("y").cast("decimal(19,0)")
    ph = px.groupBy("p", "phase", "m").agg(
        F.sum(dy).alias("s"), F.sum(dy * dy).alias("ss")
    )
    per = ph.groupBy("p").agg(
        F.max("m").cast("long").alias("folds"),
        (F.col("p") * F.max("m")).cast("long").alias("n_used"),
        F.sum("s").alias("t"),
        F.sum("ss").alias("ssx"),
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("s2"),
    )
    t = F.col("t").cast("decimal(38,0)")
    num = F.col("p").cast("decimal(38,0)") * F.col("s2") - t * t
    den = F.col("n_used").cast("decimal(38,0)") * F.col("ssx") - t * t
    scored = cached(
        ps.select(F.col("p").alias("period"))
        .join(
            per.select(
                F.col("p").alias("period"),
                "folds",
                "n_used",
                F.when(den > 0, num.cast("double") / den.cast("double")).alias(
                    "between_r2"
                ),
            ),
            "period",
            "left",
        )
        .select(
            "period",
            F.coalesce(F.col("folds"), F.lit(0)).cast("long").alias("folds"),
            F.coalesce(F.col("n_used"), F.lit(0)).cast("long").alias("n_used"),
            "between_r2",
        )
    )
    best = scored.filter(F.col("between_r2").isNotNull()).agg(
        F.max(
            F.struct(
                F.col("between_r2").alias("v"),
                (-F.col("period")).alias("np"),
            )
        ).alias("b")
    )
    return scored.crossJoin(F.broadcast(best)).select(
        "period",
        "folds",
        "n_used",
        "between_r2",
        (
            F.col("between_r2").isNotNull()
            & (F.col("between_r2") == F.col("b.v"))
            & (-F.col("period") == F.col("b.np"))
        ).alias("is_best"),
    )
