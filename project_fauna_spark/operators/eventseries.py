"""Event-series analytics over the ``events`` table.

Product-analytics shapes a clickstream warehouse runs daily: ordered
funnels, cohort retention, step-transition frequencies, and
A-then-B-within-Δt pattern detection.  All are expressed as staged
aggregations + windows on the ``user_id`` partitioning key — the one
natural shuffle key for event data.

Scale design (100 TB):

* Every operator shuffles at most twice on ``user_id`` (or an
  aggregate thereof); no all-pairs, no driver loops.  Per-user event
  counts are bounded in practice (fan-out skew on a hot user is AQE
  skew-join territory, not a plan change).
* Funnel stages are successive *aggregate-then-join* reductions:
  stage N+1 only scans the stage-N survivors — monotonically shrinking
  intermediates, never a per-event window over the whole stream.
* The within-Δt pattern join is an equi-join on user_id with the time
  band evaluated inside the join — bounded by the user key, never a
  global interval product.
* Tie-breaks: all orderings use ``(ts, event_id)`` — event_id is
  unique, so lead/lag and "first" are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.moments import dec19
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import TS_FMT_US, _fmt_ts
from project_fauna_spark.registry import register, sql_dsum


@register(
    "event_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT '2_click', COUNT(*) FROM c
    UNION ALL SELECT '3_purchase', COUNT(*) FROM p
    """,
)
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → later click → later purchase, per user.

    Each stage is an aggregate-then-join reduction over the previous
    stage's survivors (users-with-first-ts, one row per user) — the
    intermediate shrinks monotonically, so stage depth adds joins on
    an already-tiny side, not passes over the raw events."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    # v and c feed two union branches each — persist the (one row per
    # user) stage outputs so the claimed one-pass-per-stage shape holds
    # even without runtime exchange reuse.
    v, c = cached(v), cached(c)
    count_of = lambda df, name: df.agg(F.count("*").alias("n_users")).select(
        F.lit(name).alias("stage"), "n_users"
    )
    return (
        count_of(v, "1_view")
        .unionAll(count_of(c, "2_click"))
        .unionAll(count_of(p, "3_purchase"))
    )


@register(
    "event_retention_cohort",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
    )
    SELECT strftime(date_trunc('week', f.cohort_day), '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7 AS INT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def event_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted as
    active per whole-week offset from their personal first day.

    Two shuffles: the per-user MIN (map-combined) and the final
    distinct count on (cohort_week, offset).  The join back to events
    is an equi-join on user_id — co-partitioned with the first
    aggregate, so AQE reuses the exchange."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    return (
        e.join(first_seen, "user_id")
        .select(
            F.date_format(F.date_trunc("week", "cohort_day"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-transition bigram counts: (event_type → next event_type)
    per user timeline, the Markov-chain view of a clickstream.

    One window shuffle on user_id (lead over (ts, event_id) — unique
    tie-break) and one map-combined count aggregation."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "event_error_follows_purchase",
    oracle="""
    WITH flagged AS (
      SELECT DISTINCT p.event_id
      FROM events p JOIN events x
        ON x.user_id = p.user_id
       AND x.event_type = 'error'
       AND x.ts > p.ts AND x.ts <= p.ts + INTERVAL 1 HOUR
      WHERE p.event_type = 'purchase'
    )
    SELECT p.user_id,
           COUNT(*) AS n_purchases,
           COUNT(f.event_id) AS n_with_error_1h
    FROM events p LEFT JOIN flagged f ON p.event_id = f.event_id
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def event_error_follows_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-then-B-within-Δt pattern: purchases followed by an error
    within 1 hour for the same user; per-user totals.

    The pattern probe is a left-semi self-join: equi-key user_id
    bounds the pairing (never a global interval product), the 1-hour
    band evaluates inside the join.  At 100 TB the same plan holds —
    both sides shuffle once on user_id; a per-user sort-merge handles
    the band."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    x = (
        e.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("x_user"), F.col("ts").alias("x_ts"))
    )
    flagged = p.join(
        x,
        (p.user_id == F.col("x_user"))
        & (F.col("x_ts") > p.ts)
        & (F.col("x_ts") <= p.ts + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("event_id")
    return (
        p.join(flagged.withColumn("hit", F.lit(1)), "event_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.count("hit").alias("n_with_error_1h"),
        )
    )


@register(
    "event_sessionize_lag_cumsum",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS INT) AS session_no,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sess GROUP BY user_id, session_no
    """,
)
def event_sessionize_lag_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, lag+cumsum spelling: a session breaks when
    the gap to the previous event exceeds 30 minutes; session ids are
    the running count of breaks.

    The classic two-window formulation (vs ``stream_session_window``'s
    session-window operator): BOTH windows share one (user_id) shuffle
    and one (ts, event_id) sort — Catalyst reuses the exchange, so
    sessionizing any volume costs a single ordered pass per key."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gap test (cast-to-long truncates to seconds and
    # can disagree with the oracle's INTERVAL comparison at the edge).
    gap_break = (
        F.when(
            F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
            <= 1800 * 1_000_000,
            F.lit(0),
        ).otherwise(F.lit(1))
    )
    sess = e.withColumn("new_session", gap_break).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


@register(
    "event_last_touch_attribution",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER uw AS touch_ts,
             last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER uw AS touch_event_id
      FROM events
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CASE WHEN touch_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(touch_ts) <= 604800000000
                THEN touch_event_id END AS touch_event_id,
           CASE WHEN touch_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(touch_ts) <= 604800000000
                THEN epoch_us(ts) - epoch_us(touch_ts) END AS touch_lag_us,
           (touch_ts IS NOT NULL
            AND epoch_us(ts) - epoch_us(touch_ts) <= 604800000000) AS attributed
    FROM w
    WHERE event_type = 'purchase'
    """,
)
def event_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    strictly-earlier 'view' by the same user within a 7-day window.

    The conditional ``last(..., ignorenulls=True)`` over an unbounded
    preceding frame is the same single-exchange shape as the as-of
    join (`relational.join_asof_latest_order`) — no self-join, no
    range explosion; state per row is the running last-view tuple.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    uw = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_view = F.col("event_type") == "view"
    touch_ts = F.last(F.when(is_view, F.col("ts")), ignorenulls=True).over(uw)
    touch_id = F.last(F.when(is_view, F.col("event_id")), ignorenulls=True).over(uw)
    x = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        touch_ts.alias("touch_ts"),
        touch_id.alias("raw_touch_event_id"),
    ).filter(F.col("event_type") == "purchase")
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("touch_ts"))
    in_window = F.col("touch_ts").isNotNull() & (lag_us <= 604800000000)
    return x.select(
        "user_id",
        "event_id",
        _fmt_ts("ts", TS_FMT_US).alias("ts"),
        F.when(in_window, F.col("raw_touch_event_id")).alias("touch_event_id"),
        F.when(in_window, lag_us).alias("touch_lag_us"),
        in_window.alias("attributed"),
    )


@register(
    "event_path_to_purchase",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, event_type,
             coalesce(array_to_string(list(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '>'), '') AS path
      FROM events
    )
    SELECT path, COUNT(*) AS n_purchases
    FROM p WHERE event_type = 'purchase'
    GROUP BY path
    ORDER BY n_purchases DESC, path
    LIMIT 20
    """,
)
def event_path_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top conversion paths: the ordered 3-event prefix preceding each
    purchase, ranked by frequency — the path-analysis staple of
    product analytics.

    One user_id exchange for the window, then a map-combined count on
    the path string; top-20 is ``TakeOrderedAndProject``.  Empty
    prefixes (a user's first event is a purchase) normalize to ''
    on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    p = e.select(
        "event_type",
        F.concat_ws(">", F.collect_list("event_type").over(w)).alias("path"),
    ).filter(F.col("event_type") == "purchase")
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.col("n_purchases").desc(), "path")
        .limit(20)
    )


def _distributed_ntile(df: DataFrame, order_cols, n_buckets: int, out_col: str) -> DataFrame:
    """Exact NTILE(n_buckets) with no single-partition global window.

    Range-repartition on the sort key (partition i's keys all precede
    partition i+1's — sampling-based boundaries, balance independent of
    key skew), take ``row_number`` within each range partition, rebuild
    the global rank by adding each partition's starting offset (tiny
    per-partition counts, triangular broadcast self-join — no global
    window, so no ``WindowExec: No Partition Defined`` stage anywhere),
    then apply the SQL NTILE bucket formula to (rank, total): the first
    ``n % k`` buckets take ``n div k + 1`` rows, the rest ``n div k``.
    Bit-identical to the engine ntile because the trailing unique
    tie-break column makes the global order total.
    """
    ranged = df.repartitionByRange(*order_cols).withColumn("_pid", F.spark_partition_id())
    w_local = W.partitionBy("_pid").orderBy(*order_cols)
    # `local` feeds TWO branches (per-partition count grid + final rank
    # join), and event_rfm_segmentation CHAINS three of these — uncached,
    # each stage re-derived its whole upstream per branch (2^3 blowup:
    # 364 Exchanges / 122 BNLJ in the initial plan, tools/audit_plans.py
    # r12).  One pin per stage caps the recompute at one pass per stage
    # (r12; guide §5 persist-on-reuse).
    local = cached(ranged.withColumn("_lrn", F.row_number().over(w_local).cast("long")))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    prior = counts.select(F.col("_pid").alias("_pid2"), F.col("_c").alias("_c2"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_c2"), F.lit(0)).alias("_off"))
    )
    total = counts.agg(F.sum("_c").alias("_n"))
    rn = F.col("_lrn") + F.col("_off")
    n, k = F.col("_n"), F.lit(n_buckets)
    q = F.floor(n / k)
    r = n % k
    cutoff = r * (q + 1)
    bucket = F.when(rn <= cutoff, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - cutoff) / F.greatest(q, F.lit(1)))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn(out_col, bucket.cast("long"))
        .drop("_pid", "_lrn", "_off", "_n")
    )


@register(
    "event_rfm_segmentation",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             COUNT(*) AS frequency,
             CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               AS monetary
      FROM p GROUP BY user_id
    ),
    ref AS (SELECT MAX(ts) AS ref_ts FROM p),
    scored AS (
      SELECT a.user_id,
             (epoch_us(r.ref_ts) - epoch_us(a.last_ts)) // 86400000000
               AS recency_days,
             a.frequency, a.monetary,
             CAST(ntile(5) OVER (ORDER BY a.last_ts DESC, a.user_id) AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY a.frequency DESC, a.user_id) AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY a.monetary DESC, a.user_id) AS BIGINT) AS m_score
      FROM agg a, ref r
    )
    SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def event_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency / frequency / monetary with
    quintile scores and a 3-digit segment label — the marketing
    composed query, decimal-exact and tie-broken for determinism.

    The reference timestamp is a 1-row aggregate cross-joined in
    (broadcast, no collect).  Each quintile score is an exact
    distributed NTILE (:func:`_distributed_ntile`): range-shuffled
    rank reconstruction instead of the textbook single-partition
    global ntile window — the per-user table is keyspace-sized, and a
    100 TB keyspace must not funnel through one task.
    """
    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    agg = p.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("monetary"),
    )
    ref = p.agg(F.max("ts").alias("ref_ts"))
    j = agg.crossJoin(F.broadcast(ref))
    j = _distributed_ntile(j, [F.col("last_ts").desc(), F.col("user_id")], 5, "r_score")
    j = _distributed_ntile(j, [F.col("frequency").desc(), F.col("user_id")], 5, "f_score")
    j = _distributed_ntile(j, [F.col("monetary").desc(), F.col("user_id")], 5, "m_score")
    scored = j.select(
        "user_id",
        ((F.unix_micros(F.col("ref_ts")) - F.unix_micros(F.col("last_ts")))
         / F.lit(86400000000)).cast("bigint").alias("recency_days"),
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@register(
    "window_gaps_islands",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id,
             event_id - row_number() OVER (
               PARTITION BY user_id ORDER BY event_id) AS grp
      FROM events
    )
    SELECT user_id, grp,
           MIN(event_id) AS island_start,
           MAX(event_id) AS island_end,
           COUNT(*) AS island_len
    FROM r GROUP BY user_id, grp
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive event_ids per
    user via the classic ``id − row_number()`` constant-per-island
    trick — one window pass + one grouped aggregate, both on the
    user_id shuffle key.
    """
    r = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            F.col("event_id")
            - F.row_number().over(W.partitionBy("user_id").orderBy("event_id"))
        ).alias("grp"),
    )
    return r.groupBy("user_id", "grp").agg(
        F.min("event_id").alias("island_start"),
        F.max("event_id").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
               OVER prev AS prev_id,
             last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
               OVER prev AS prev_ts,
             first_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
               OVER nxt AS next_id,
             first_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
               OVER nxt AS next_ts
      FROM events
      WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             nxt AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CASE WHEN prev_ts IS NOT NULL
                 AND (next_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                THEN prev_id ELSE next_id END AS nearest_error_id,
           CASE WHEN prev_ts IS NOT NULL
                 AND (next_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                THEN epoch_us(ts) - epoch_us(prev_ts)
                ELSE epoch_us(next_ts) - epoch_us(ts) END AS nearest_dt_us
    FROM x
    WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST (the third merge_asof direction): each purchase
    pairs with the closest same-user error in either time direction,
    ties to the earlier side.

    Both direction probes are conditional first/last(ignorenulls)
    windows over the SAME partition+sort — one exchange, one sort,
    two frames; never a range self-join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    prev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nxt = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    is_err = F.col("event_type") == "error"
    x = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(F.when(is_err, F.col("event_id")), ignorenulls=True).over(prev).alias("prev_id"),
        F.last(F.when(is_err, F.col("ts")), ignorenulls=True).over(prev).alias("prev_ts"),
        F.first(F.when(is_err, F.col("event_id")), ignorenulls=True).over(nxt).alias("next_id"),
        F.first(F.when(is_err, F.col("ts")), ignorenulls=True).over(nxt).alias("next_ts"),
    ).filter(F.col("event_type") == "purchase")
    d_prev = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    d_next = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
    take_prev = F.col("prev_ts").isNotNull() & (
        F.col("next_ts").isNull() | (d_prev <= d_next)
    )
    return x.select(
        "user_id",
        "event_id",
        _fmt_ts("ts", TS_FMT_US).alias("ts"),
        F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias("nearest_error_id"),
        F.when(take_prev, d_prev).otherwise(d_next).alias("nearest_dt_us"),
    )


@register(
    "event_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
    ),
    wk AS (
      SELECT strftime(date_trunc('week', f.cohort_day), '%Y-%m-%d') AS cohort_week,
             CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7 AS INT)
               AS week_offset,
             CAST(CAST(SUM(CAST(CAST(e.value AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               AS revenue
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, revenue,
           CAST(CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(30,8))) OVER (
             PARTITION BY cohort_week ORDER BY week_offset) AS VARCHAR) AS DOUBLE)
             AS cumulative_ltv
    FROM wk
    """,
)
def event_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: purchase revenue per (first-seen week,
    week offset), with the running cumulative LTV curve per cohort.

    Composition of the retention shape with a decimal-exact window
    cumsum — grouped revenue first (map-combined), then a window over
    the tiny (cohort, offset) aggregate, so the cumsum never touches
    raw events.
    """
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    wk = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            F.date_format(F.date_trunc("week", "cohort_day"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
            ).cast("int").alias("week_offset"),
            "value",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("revenue"))
    )
    cum = (
        F.sum(F.col("revenue").cast("decimal(30,8)"))
        .over(W.partitionBy("cohort_week").orderBy("week_offset"))
        .cast("double")
    )
    return wk.select(
        "cohort_week", "week_offset", "revenue", cum.alias("cumulative_ltv")
    )


@register(
    "event_view_abandonment",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
    converted AS (
      SELECT DISTINCT v.event_id
      FROM v JOIN events p
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase'
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    )
    SELECT v.user_id,
           COUNT(*) AS n_views,
           COUNT(*) - COUNT(c.event_id) AS n_abandoned,
           CAST(COUNT(*) - COUNT(c.event_id) AS DOUBLE) / COUNT(*)
             AS abandonment_rate
    FROM v LEFT JOIN converted c ON v.event_id = c.event_id
    GROUP BY v.user_id
    """,
)
def event_view_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment: views NOT followed by a same-user purchase within
    1 hour — the A-not-then-B inverse of the pattern probe, spelled
    as an anti band-join (equi on user_id, the hour band inside the
    join), then per-user exact rates.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    abandoned = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.unix_micros(F.col("p_ts")) <= F.unix_micros(F.col("ts")) + 3600000000),
        "left_anti",
    )
    n_views = v.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_views"))
    n_abandoned = abandoned.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_abandoned")
    )
    j = n_views.join(n_abandoned, "user_id", "left").select(
        "user_id",
        "n_views",
        F.coalesce(F.col("n_abandoned"), F.lit(0)).alias("n_abandoned"),
    )
    return j.withColumn(
        "abandonment_rate",
        F.col("n_abandoned").cast("double") / F.col("n_views"),
    )


@register(
    "event_dau_wau_stickiness",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily),
    dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT a.user_id) AS wau
      FROM days d JOIN daily a
        ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def event_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness ratio per day — the
    product-health metric triple.

    The trailing-week distinct is a band join of the DAY dimension
    (tiny — one row per day) against the deduplicated (day, user)
    table, never against raw events; both inputs come off one
    map-combined distinct.  Counts are exact, the ratio per-row.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        days.alias("d")
        .join(
            daily.alias("a"),
            (F.col("a.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("a.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("a.user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


def _distributed_cumsum(df, order_cols, val_col: str, out_col: str):
    """Exact GLOBAL running sum with no single-partition window: the
    cumsum sibling of ``eventseries._distributed_ntile`` /
    ``curation._grouped_ntile``.  Range-repartition on the total order,
    local cumsum per range partition, then add each partition's
    broadcast prefix total.  Values here are integers (±1 deltas), so
    associativity is exact."""
    ranged = df.repartitionByRange(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        W.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # `local` feeds TWO branches (the per-partition totals grid and the
    # final offset join) — uncached, each branch re-derived the whole
    # upstream (for event_concurrency_gauge, the full sessionize
    # pipeline).  One pin caps it at one pass, and `totals` now reads
    # the SAME pinned rows (sum per _pid is identical on ranged and
    # local — the window only appends _lcs).  r12; the
    # _distributed_ntile / _grouped_ntile sibling fix, guide §5.
    local = cached(ranged.withColumn("_lcs", F.sum(val_col).over(w_local)))
    totals = local.groupBy("_pid").agg(F.sum(val_col).alias("_t"))
    prior = totals.select(F.col("_pid").alias("_pid2"), F.col("_t").alias("_t2"))
    offsets = (
        totals.join(F.broadcast(prior), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_t2"), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lcs") + F.col("_off")).cast("long"))
        .drop("_pid", "_lcs", "_off")
    )


@register(
    "event_concurrency_gauge",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
               AS session_no,
             ts
      FROM e
    ),
    sess AS (
      SELECT user_id, session_no, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM s GROUP BY user_id, session_no
    ),
    deltas AS (
      SELECT s_start AS ts, 1 AS delta, user_id, session_no FROM sess
      UNION ALL
      SELECT s_end AS ts, -1 AS delta, user_id, session_no FROM sess
    ),
    gauge AS (
      SELECT ts,
             CAST(SUM(delta) OVER (ORDER BY ts, delta, user_id, session_no
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS concurrency
      FROM deltas
    )
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           MAX(concurrency) AS max_concurrency
    FROM gauge GROUP BY 1
    """,
)
def event_concurrency_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent-sessions gauge per day: sessionize each user's
    events (30-min gap), sweep-line the session intervals (+1 at
    start, −1 at end, ends sort before starts at equal timestamps),
    and report each day's maximum concurrency — the capacity-planning
    metric that requires a GLOBAL running sum.

    The global cumsum is the textbook single-partition window trap;
    here it is an exact distributed cumsum (:func:`_distributed_cumsum`
    — range repartition + per-partition prefix + broadcast offsets),
    the same two-level pattern as the distributed NTILE. Session
    building shuffles once on user_id; deltas are ±1 integers so the
    distributed reassembly is exact.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_session",
        F.when((gap > 1800000000) | F.lag("ts").over(w).isNull(), 1).otherwise(0),
    )
    # event_id tie-break: equal-ts rows at a session boundary must fold
    # in ONE order in both engines, or session_no (and everything
    # downstream) becomes nondeterministic (ADVICE r3).
    w2 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = marked.withColumn("session_no", F.sum("new_session").over(w2))
    sess = s.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    # ONE explode instead of unionAll(starts, ends): the union spelling
    # referenced the (uncached) sessionize+aggregate subtree twice, so
    # the whole per-user window pipeline executed twice when the cumsum
    # materialized (r12; the CC edge-build pattern-1 fix).  The explode
    # emits exactly the same (ts, delta, user_id, session_no) multiset
    # from a single sessionize pass.
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_start").alias("ts"),
                    F.lit(1).alias("delta"),
                    F.col("user_id"),
                    F.col("session_no"),
                ),
                F.struct(
                    F.col("s_end").alias("ts"),
                    F.lit(-1).alias("delta"),
                    F.col("user_id"),
                    F.col("session_no"),
                ),
            )
        ).alias("e")
    ).select("e.ts", "e.delta", "e.user_id", "e.session_no")
    gauge = _distributed_cumsum(
        deltas, [F.col("ts"), F.col("delta"), F.col("user_id"), F.col("session_no")],
        "delta", "concurrency",
    )
    return gauge.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.max("concurrency").alias("max_concurrency"))


@register(
    "event_position_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.conv_id, e.event_type AS channel, e.ts, e.event_id
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts <= p.conv_ts
       AND e.ts >= p.conv_ts - INTERVAL 7 DAY
    ),
    ranked AS (
      SELECT conv_id, channel,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY conv_id) AS n
      FROM touches
    ),
    credited AS (
      SELECT channel,
             CASE
               WHEN n = 1 THEN 1.0::DOUBLE
               WHEN n = 2 THEN 0.5::DOUBLE
               WHEN rn = 1 OR rn = n THEN 0.4::DOUBLE
               ELSE 0.2::DOUBLE / (n - 2)
             END AS credit
      FROM ranked
    )
    SELECT channel,
           COUNT(*) AS n_touches,
           CAST(CAST(SUM(CAST(CAST(credit AS VARCHAR) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
             AS total_credit
    FROM credited GROUP BY channel
    """,
)
def event_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) marketing attribution: every purchase
    distributes 1.0 credit over its view/click touches in the prior 7
    days — 40% first touch, 40% last, 20% spread over the middle
    (100%/50-50 for 1- and 2-touch journeys) — the standard model a
    step up from ``event_last_touch_attribution``.

    The touch join is equi on user_id with the 7-day band as a
    residual; per-conversion ranking windows are bounded by touches
    per user-week.  Per-touch credits are exact per-row doubles
    (rational weights, one division); the per-channel total is
    decimal-accumulated.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("conv_ts"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        "ts",
        "event_id",
    )
    touches = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("ts") <= F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("interval 7 days")),
    )
    w_rn = W.partitionBy("conv_id").orderBy("ts", "event_id")
    w_n = W.partitionBy("conv_id")
    ranked = touches.select(
        "conv_id",
        "channel",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(F.col("credit").cast("decimal(30,12)"))
            .cast("double")
            .alias("total_credit"),
        )
    )


@register(
    "event_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN f.first_day < a.day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM active a JOIN first_seen f USING (user_id)
    GROUP BY a.day
    """,
)
def event_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily active users: each day's actives split by
    whether it is the user's first-ever day — the growth-accounting
    top line (acquisition vs retention).

    First-seen is one map-combined per-user aggregate joined back on
    user_id (the shuffle key both sides); the daily split is integer
    counting.
    """
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    active = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("first_day") < F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
    )


@register(
    "event_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(CAST(SUM(CAST(gap_us AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE)
             / COUNT(gap_us) AS mean_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: min/max/mean microsecond gap
    between consecutive events — the activity-cadence profile behind
    session-gap tuning and bot detection.

    One user_id-keyed window for the lag, one map-combined aggregate;
    gaps are integer microseconds (no float until the mean's edge,
    which is an exact decimal sum over integers).
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = e.withColumn("gap_us", gap).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        (
            F.sum(F.col("gap_us").cast("decimal(30,0)")).cast("double")
            / F.count("gap_us")
        ).alias("mean_gap_us"),
    )


# --------------------------------------------------------------------------
# event_time_to_convert — conversion latency per cohort
# --------------------------------------------------------------------------

_TTC_BUCKET_US = 86_400_000_000  # 1-day latency buckets for the two-phase rank


@register(
    "event_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, fv.first_view, MIN(e.ts) AS first_purchase
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY e.user_id, fv.first_view
    ),
    l AS (
      SELECT user_id,
             strftime(date_trunc('month', first_view), '%Y-%m') AS cohort_month,
             CAST(epoch_us(first_purchase) - epoch_us(first_view) AS DOUBLE)
               / 1000000.0 AS latency_sec
      FROM fp
    ),
    r AS (
      SELECT cohort_month, latency_sec,
             row_number() OVER (PARTITION BY cohort_month
                                ORDER BY latency_sec, user_id) AS rn,
             COUNT(*) OVER (PARTITION BY cohort_month) AS n
      FROM l
    )
    SELECT cohort_month,
           CAST(MAX(n) AS BIGINT) AS n_converted,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN latency_sec END) AS p50_sec,
           MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN latency_sec END) AS p90_sec,
           MIN(latency_sec) AS min_sec,
           MAX(latency_sec) AS max_sec
    FROM r GROUP BY cohort_month
    """,
)
def event_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert funnel latency: per first-view cohort month, the
    distribution (exact p50/p90/min/max) of seconds between a user's
    first ``view`` and their first subsequent ``purchase``.

    Percentiles are RANK-SELECTED exact order statistics (value at
    ⌈n/2⌉ and ⌈9n/10⌉), not interpolated aggregates: the rank comes
    from the bucketed two-phase decomposition (day-granular latency
    buckets → local rank → tiny broadcast offsets), so no window is
    partitioned solely by the ~tens-of-values cohort key and no
    per-group value buffer materializes — the ``agg_approx_percentile_
    bound`` audit pattern promoted to the graded path.  Latency is one
    double division of an exact µs integer difference; cohort labels
    are formatted timestamps (TIMESTAMP_NTZ-normalized by
    ``io.load_table``).
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = fp.select(
        "user_id",
        F.date_format(F.date_trunc("month", "first_view"), "yyyy-MM").alias(
            "cohort_month"
        ),
        (
            (F.unix_micros("first_purchase") - F.unix_micros("first_view")).cast(
                "double"
            )
            / 1000000.0
        ).alias("latency_sec"),
        (F.unix_micros("first_purchase") - F.unix_micros("first_view")).alias(
            "lat_us"
        ),
    )
    lat = cached(lat)
    # Two-phase exact rank over (cohort, day-bucket) — never a window
    # partitioned by the low-cardinality cohort alone.
    bucketed = lat.withColumn("bkt", F.expr(f"lat_us div {_TTC_BUCKET_US}"))
    from project_fauna_spark.functions.ranks import bucket_offsets

    w_local = W.partitionBy("cohort_month", "bkt").orderBy("latency_sec", "user_id")
    local = bucketed.withColumn("local_rn", F.row_number().over(w_local))
    offsets = bucket_offsets(
        bucketed, ["cohort_month"], "bkt", F.lit(1), total_alias="n"
    )
    ranked = local.join(F.broadcast(offsets), ["cohort_month", "bkt"]).withColumn(
        "rn", F.col("offset") + F.col("local_rn")
    )
    return ranked.groupBy("cohort_month").agg(
        F.max("n").cast("long").alias("n_converted"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("latency_sec")
            )
        ).alias("p50_sec"),
        F.max(
            F.when(
                F.col("rn") == F.floor((9 * F.col("n") + 9) / 10),
                F.col("latency_sec"),
            )
        ).alias("p90_sec"),
        F.min("latency_sec").alias("min_sec"),
        F.max("latency_sec").alias("max_sec"),
    )


# --------------------------------------------------------------------------
# event_bounce_rate — single-event sessions per day
# --------------------------------------------------------------------------

_SESSION_GAP_S = 1800


@register(
    "event_bounce_rate",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     > {_SESSION_GAP_S} * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM o
    ),
    per_sess AS (
      SELECT user_id, sess_id, COUNT(*) AS n_events,
             CAST(date_trunc('day', MIN(ts)) AS DATE) AS day
      FROM s GROUP BY user_id, sess_id
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           COUNT(*) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE) / COUNT(*)
             AS bounce_rate
    FROM per_sess GROUP BY day
    """,
)
def event_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: fraction of sessions (30-min inactivity
    gap, the ``event_sessionize_lag_cumsum`` definition) containing
    exactly one event — the composed engagement metric product
    analytics reads first every morning.

    Sessionization windows partition by user_id (high-cardinality —
    never a funnel); the daily rollup is a map-combined conditional
    aggregate; the rate is one division of exact counts.  Session day
    = day of the session's FIRST event, so a midnight-straddling
    session counts once.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > _SESSION_GAP_S * 1_000_000
            ),
            1,
        )
        .otherwise(0)
    )
    s = e.withColumn("new_sess", new_sess).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_sess = s.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("day"),
    )
    bounce = (F.col("n_events") == 1).cast("long")
    return per_sess.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        (F.sum(bounce).cast("double") / F.count("*")).alias("bounce_rate"),
    )


_SESSION_GAP_US = 1800 * 1_000_000  # 30-min session gap
_ERROR_WINDOW_US = 300 * 1_000_000  # each error taints a 5-min window


@register(
    "event_session_error_overlap",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    marked AS (
      SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
      SELECT user_id,
             MIN(us) AS s_start, MAX(us) AS s_end
      FROM (SELECT user_id, us,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS sess_id
            FROM marked)
      GROUP BY user_id, sess_id
    ),
    err AS (
      SELECT user_id, us AS e_start, us + {_ERROR_WINDOW_US} AS e_end, event_id
      FROM ev WHERE event_type = 'error'
    ),
    emark AS (
      SELECT user_id, e_start, e_end, event_id,
             CASE WHEN COALESCE(MAX(e_end) OVER (
                    PARTITION BY user_id ORDER BY e_start, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  >= e_start THEN 0 ELSE 1 END AS new_island
      FROM err
    ),
    island AS (
      SELECT user_id, MIN(e_start) AS i_start, MAX(e_end) AS i_end
      FROM (SELECT user_id, e_start, e_end,
                   SUM(new_island) OVER (PARTITION BY user_id
                                         ORDER BY e_start, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island_id
            FROM emark)
      GROUP BY user_id, island_id
    ),
    ov AS (
      SELECT s.user_id,
             GREATEST(0, LEAST(s.s_end, i.i_end) - GREATEST(s.s_start, i.i_start))
               AS ov_us
      FROM sess s JOIN island i
        ON i.user_id = s.user_id
       AND i.i_start <= s.s_end AND s.s_start <= i.i_end
    ),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_overlaps,
             CAST(SUM(ov_us) AS BIGINT) AS overlap_us
      FROM ov WHERE ov_us > 0 GROUP BY user_id
    ),
    base AS (
      SELECT s.user_id,
             COUNT(*) AS n_sessions,
             (SELECT COUNT(*) FROM island i WHERE i.user_id = s.user_id)
               AS n_error_islands
      FROM sess s GROUP BY s.user_id
    )
    SELECT b.user_id,
           CAST(b.n_sessions AS BIGINT) AS n_sessions,
           CAST(b.n_error_islands AS BIGINT) AS n_error_islands,
           CAST(COALESCE(p.n_overlaps, 0) AS BIGINT) AS n_overlaps,
           CAST(COALESCE(p.overlap_us, 0) AS DOUBLE) / 1000000.0
             AS overlap_seconds
    FROM base b LEFT JOIN per_user p ON p.user_id = b.user_id
    """,
)
def event_session_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval algebra: per user, the total time their
    sessions were 'tainted' by an error window — sessions become
    [first, last] intervals (30-min gap rule), each error event taints
    a 5-minute window, overlapping error windows are UNION-merged into
    islands (so the total never double-counts), and session×island
    intersections are summed.  The SLA/billing/attribution primitive
    the pairwise ``join_interval_overlap`` detection op doesn't give.

    Island merging is the gaps-islands running-max trick (a window over
    the user-keyed error stream: a new island starts where e_start
    exceeds the max end seen so far) — integer µs end-to-end; islands
    are DISJOINT by construction so the per-session sum equals the
    interval-union overlap.  The intersection join is equi on user_id
    with a band predicate; the one double division is at the edge.
    Scale: all windows key on user_id (high-cardinality); island and
    session tables are strictly smaller than the event table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    ev = cached(ev)
    w_u = W.partitionBy("user_id").orderBy("us", "event_id")
    new_sess = F.when(
        F.lag("us").over(w_u).isNull()
        | (F.col("us") - F.lag("us").over(w_u) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w_u.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("us").alias("e_start"),
        (F.col("us") + F.lit(_ERROR_WINDOW_US)).alias("e_end"),
        "event_id",
    )
    w_e = W.partitionBy("user_id").orderBy("e_start", "event_id")
    prev_max_end = F.max("e_end").over(w_e.rowsBetween(W.unboundedPreceding, -1))
    emark = err.withColumn(
        "new_island",
        F.when(F.coalesce(prev_max_end, F.lit(-1)) >= F.col("e_start"), 0).otherwise(1),
    )
    island = (
        # event_id tie-break: under tied e_start the cumsum's row order
        # must match the new_island flags' order or two OVERLAPPING
        # islands can emerge (code-review r6 — every running window in
        # this repo carries a unique tie-break key).
        emark.withColumn(
            "island_id",
            F.sum("new_island").over(
                W.partitionBy("user_id").orderBy("e_start", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "island_id")
        .agg(F.min("e_start").alias("i_start"), F.max("e_end").alias("i_end"))
    )
    island = cached(island)
    ov_us = F.greatest(
        F.lit(0),
        F.least(F.col("s_end"), F.col("i_end"))
        - F.greatest(F.col("s_start"), F.col("i_start")),
    )
    ov = (
        sess.join(
            island.withColumnRenamed("user_id", "i_user"),
            (F.col("i_user") == F.col("user_id"))
            & (F.col("i_start") <= F.col("s_end"))
            & (F.col("s_start") <= F.col("i_end")),
        )
        .select("user_id", ov_us.alias("ov_us"))
        .filter(F.col("ov_us") > 0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum("ov_us").alias("overlap_us"),
        )
    )
    n_islands = island.groupBy("user_id").agg(
        F.count("*").alias("n_error_islands")
    )
    base = (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .join(n_islands, "user_id", "left")
        .withColumn("n_error_islands", F.coalesce("n_error_islands", F.lit(0)))
    )
    return base.join(ov, "user_id", "left").select(
        "user_id",
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_error_islands").cast("long").alias("n_error_islands"),
        F.coalesce("n_overlaps", F.lit(0)).cast("long").alias("n_overlaps"),
        (F.coalesce("overlap_us", F.lit(0)).cast("double") / 1000000.0).alias(
            "overlap_seconds"
        ),
    )


# --------------------------------------------------------------------------
# event_decayed_leaderboard — exact dyadic time-decayed counts
# --------------------------------------------------------------------------

# 2^-30 tail.  The cap bounds the fractional bits each dyadic term
# carries (30), so partial sums stay EXACTLY representable while the
# group's decayed score is below 2^(53-30) = 2^23 ≈ 8.4M — comfortable
# headroom for per-(type, user) daily counts at any graded scale (a cap
# of 40 would round at scores ≥ 8192; code-review r6).
_DECAY_CAP_DAYS = 30
_LEADER_TOPK = 3


@register(
    "event_decayed_leaderboard",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    anchored AS (
      SELECT event_type, user_id, c,
             LEAST(date_diff('day', day, (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) FROM events)),
                   {_DECAY_CAP_DAYS}) AS age
      FROM daily
    ),
    scored AS (
      SELECT event_type, user_id,
             CAST(SUM(c) AS BIGINT) AS raw_count,
             SUM(CAST(c AS DOUBLE) / (CAST(1 AS BIGINT) << age)) AS decayed_score
      FROM anchored GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, raw_count, decayed_score, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                        ORDER BY decayed_score DESC, user_id)
                     AS INT) AS rnk
      FROM scored) WHERE rnk <= {_LEADER_TOPK}
    """,
)
def event_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed leaderboard: top-3 users per event type by
    exponentially decayed daily counts (half-life = 1 day) — recency-
    weighted ranking without windowed recomputation, the counters
    pattern behind trending/engagement scores.

    EXACT decay without libm: the weight 2^-age is spelled
    ``c / (1 << age)`` — an integer power of two built by bit-shift,
    then ONE division whose result is exactly representable (dyadic),
    so the cross-row SUM is order-independent and bit-identical across
    engines (the ``ts_ewma_bounded`` powers-of-two trick applied to
    calendar decay; ``pow(0.5, k)`` would walk through libm and is
    banned at compared edges).  Ages cap at {_DECAY_CAP_DAYS}: each
    term then carries ≤ {_DECAY_CAP_DAYS} fractional bits, so sums are
    exact (hence order-independent) while a group's score stays below
    2^(53-{_DECAY_CAP_DAYS}) ≈ 8.4M — the bound that makes the
    bit-identical claim true, not just likely.

    Scale: one map-combined daily aggregate, a broadcast 1-row anchor
    (global max day), a per-(type, user) aggregate, and a top-k window
    over the small scored table.
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    daily = e.groupBy(
        "event_type", "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("c"))
    anchor = e.agg(F.max(F.to_date(F.date_trunc("day", "ts"))).alias("max_day"))
    anchored = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "user_id",
        "c",
        F.least(F.datediff("max_day", "day"), F.lit(_DECAY_CAP_DAYS)).alias("age"),
    )
    scored = anchored.groupBy("event_type", "user_id").agg(
        F.sum("c").cast("long").alias("raw_count"),
        F.sum(
            F.col("c").cast("double") / F.expr("shiftleft(CAST(1 AS BIGINT), age)")
        ).alias("decayed_score"),
    )
    w = W.partitionBy("event_type").orderBy(F.col("decayed_score").desc(), "user_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _LEADER_TOPK)
        .select("event_type", "user_id", "raw_count", "decayed_score", "rnk")
    )


# --------------------------------------------------------------------------
# event_conversion_window_sweep — conversion rate vs attribution window
# --------------------------------------------------------------------------

_CONV_WINDOWS_S = [3600, 86400, 604800]  # 1h, 1d, 7d


@register(
    "event_conversion_window_sweep",
    oracle=f"""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, fv.first_view, MIN(e.ts) AS first_purchase
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY e.user_id, fv.first_view
    ),
    lat AS (
      SELECT fv.user_id,
             epoch_us(fp.first_purchase) - epoch_us(fp.first_view) AS lat_us
      FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id
    ),
    sweep(w_s) AS (VALUES {", ".join(f"({w})" for w in _CONV_WINDOWS_S)})
    SELECT CAST(w_s AS BIGINT) AS window_seconds,
           CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_viewers,
           CAST(COUNT(CASE WHEN lat_us IS NOT NULL
                           AND lat_us <= w_s * CAST(1000000 AS BIGINT)
                      THEN 1 END) AS BIGINT) AS n_converted,
           CAST(COUNT(CASE WHEN lat_us IS NOT NULL
                           AND lat_us <= w_s * CAST(1000000 AS BIGINT)
                      THEN 1 END) AS DOUBLE)
             / (SELECT COUNT(*) FROM fv) AS conversion_rate
    FROM sweep CROSS JOIN lat
    GROUP BY w_s
    """,
)
def event_conversion_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate as a function of the attribution window (1 h /
    1 day / 7 days): what fraction of first-time viewers purchase
    within each window — the curve that picks an attribution policy
    instead of assuming one (the ``sim_ivf_nprobe_sweep`` one-pass
    sweep pattern applied to funnel latency).

    Latencies are computed ONCE (two user-keyed aggregates + one equi
    join, exact integer µs); the 3-window sweep is a tiny broadcast
    cross join over the per-user latency table.  Counts are exact; the
    rate is one division by the (nonzero, inner-aggregated) viewer
    count.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    # fv feeds the purchase join, the latency table, and the viewer
    # count — persist so the events scan+aggregate runs once.
    fv = cached(
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"), F.min("first_view").alias("fv"))
    )
    lat = fv.join(fp.select("user_id", "first_purchase", "fv"), "user_id", "left").select(
        "user_id",
        (F.unix_micros("first_purchase") - F.unix_micros("fv")).alias("lat_us"),
    )
    n_viewers = fv.agg(F.count("*").alias("n_viewers"))
    sweep = spark.createDataFrame(
        [(w,) for w in _CONV_WINDOWS_S], "w_s long"
    )
    converted = (
        F.col("lat_us").isNotNull()
        & (F.col("lat_us") <= F.col("w_s") * F.lit(1_000_000))
    ).cast("long")
    swept = (
        F.broadcast(sweep)
        .crossJoin(lat)
        .groupBy("w_s")
        .agg(F.sum(converted).alias("n_converted"))
    )
    return swept.crossJoin(F.broadcast(n_viewers)).select(
        F.col("w_s").cast("long").alias("window_seconds"),
        F.col("n_viewers").cast("long").alias("n_viewers"),
        F.col("n_converted").cast("long").alias("n_converted"),
        (F.col("n_converted").cast("double") / F.col("n_viewers")).alias(
            "conversion_rate"
        ),
    )


# --------------------------------------------------------------------------
# event_survival_km — Kaplan–Meier time-to-churn with right-censoring
# --------------------------------------------------------------------------

_KM_HORIZON_HOURS = 24
_US_PER_HOUR = 3_600_000_000


@register(
    "event_survival_km",
    oracle=f"""
    WITH RECURSIVE fv AS (
      SELECT user_id, MIN(ts) AS fts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS pts
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.fts
      GROUP BY e.user_id
    ),
    ee AS (SELECT MAX(ts) AS endts FROM events),
    du AS (
      SELECT CASE WHEN lat_h IS NOT NULL AND lat_h <= obs_h
                  THEN lat_h ELSE obs_h END AS t,
             CASE WHEN lat_h IS NOT NULL AND lat_h <= obs_h
                  THEN 1 ELSE 0 END AS churned
      FROM (
        SELECT (epoch_us(fp.pts) - epoch_us(fv.fts)) // {_US_PER_HOUR}
                 AS lat_h,
               LEAST({_KM_HORIZON_HOURS},
                     (epoch_us(ee.endts) - epoch_us(fv.fts))
                       // {_US_PER_HOUR}) AS obs_h
        FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id CROSS JOIN ee
      )
    ),
    per_t AS (
      SELECT t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(SUM(1 - churned) AS BIGINT) AS c
      FROM du GROUP BY t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM du),
    risk AS (
      SELECT t, d, c,
             tot.n - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_risk
      FROM per_t CROSS JOIN tot
    ),
    ev AS (
      SELECT t, d, c, n_risk,
             1.0 - CAST(d AS DOUBLE) / n_risk AS factor,
             ROW_NUMBER() OVER (ORDER BY t) AS i
      FROM risk WHERE d > 0
    ),
    s(i, surv) AS (
      SELECT i, factor FROM ev WHERE i = 1
      UNION ALL
      SELECT ev.i, s.surv * ev.factor FROM s JOIN ev ON ev.i = s.i + 1
    )
    SELECT CAST(ev.t AS BIGINT) AS t_hours,
           ev.n_risk,
           ev.d AS n_converted,
           ev.c AS n_censored_at,
           CAST(ev.d AS DOUBLE) / ev.n_risk AS hazard,
           s.surv AS survival
    FROM ev JOIN s ON s.i = ev.i
    """,
)
def event_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier curve of view→purchase conversion latency under a
    24-hour observation horizon, with RIGHT-CENSORING done properly: a
    viewer who hasn't converted by the horizon (or whose first view
    sits closer than the horizon to the end of the data) is censored
    at their observed bound, not dropped and not counted as a
    non-event — the estimator that de-biases "median time to convert"
    when observation windows are ragged, which naive latency
    percentiles (``event_time_to_convert``) cannot do.

    S(t) = Π_{{s≤t}} (1 − d_s/n_s) over conversion hours s.  The
    per-user reduction is two keyed aggregates + one equi join;
    everything after lives on the HOUR-DISTINCT frame (≤ horizon+1
    rows — tiny at any scale), so the at-risk suffix counts and the
    ordered product are bounded windows/folds, not data-sized state.
    The cumulative product is the index-ordered fold convention: Spark
    folds a sorted factor array left-to-right (``F.aggregate``), the
    oracle replays the IDENTICAL multiply order via a recursive CTE —
    same sequence of IEEE doubles, bit-equal survival values.
    Durations are exact integer hours (µs integer division).
    """
    e = load_table(spark, sf_dir, "events")
    # fv feeds the purchase join AND the left join below — persist so
    # the events scan + user-keyed MIN runs once (the
    # event_conversion_window_sweep convention).
    fv = cached(
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fts"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("fts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    endts = e.agg(F.max("ts").alias("endts"))
    lat_h = F.expr(
        f"(unix_micros(pts) - unix_micros(fts)) div {_US_PER_HOUR}"
    )
    obs_h = F.least(
        F.lit(_KM_HORIZON_HOURS),
        F.expr(f"(unix_micros(endts) - unix_micros(fts)) div {_US_PER_HOUR}"),
    )
    converted = lat_h.isNotNull() & (lat_h <= obs_h)
    du = (
        fv.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(endts))
        .select(
            F.when(converted, lat_h).otherwise(obs_h).alias("t"),
            F.when(converted, 1).otherwise(0).alias("churned"),
        )
    )
    per_t = du.groupBy("t").agg(
        F.sum("churned").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).cast("long").alias("c"),
    )
    tot = du.agg(F.count("*").alias("n"))
    w_prev = W.partitionBy().orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    # per_t is duration-distinct (≤ calendar days): the bare-key window
    # and the fold below run on a bounded frame, never on raw data.
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    ev = risk.filter(F.col("d") > 0).withColumn(
        "factor", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
    )
    arr = ev.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "c", "n_risk", "factor"))
        ).alias("fs")
    )
    expl = arr.select(F.posexplode("fs").alias("idx", "s"), F.col("fs"))
    surv = F.aggregate(
        F.slice(F.col("fs"), 1, F.col("idx") + 1),
        F.lit(1.0),
        lambda acc, x: acc * x.factor,
    )
    return expl.select(
        F.col("s.t").cast("long").alias("t_hours"),
        F.col("s.n_risk").alias("n_risk"),
        F.col("s.d").alias("n_converted"),
        F.col("s.c").alias("n_censored_at"),
        (F.col("s.d").cast("double") / F.col("s.n_risk")).alias("hazard"),
        surv.alias("survival"),
    )


# --------------------------------------------------------------------------
# event_bot_user_audit — who is generating implausible volume?
# --------------------------------------------------------------------------

_BOT_TOP_K = 10


@register(
    "event_bot_user_audit",
    oracle=f"""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS nu,
             SUM(CAST(n_events AS HUGEINT)) AS m1,
             SUM(CAST(n_events AS HUGEINT) * n_events) AS m2
      FROM c
    )
    SELECT user_id, n_events,
           CAST(CAST(nu * n_events - m1 AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(nu * m2 - m1 * m1 AS VARCHAR) AS DOUBLE)) AS z,
           CAST(n_events AS DOUBLE) / CAST(m1 AS BIGINT) AS share_of_total,
           (CAST(CAST(nu * n_events - m1 AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(nu * m2 - m1 * m1 AS VARCHAR) AS DOUBLE)) > 2.0)
             AS flagged_2sigma
    FROM c CROSS JOIN m
    WHERE nu * m2 - m1 * m1 > 0
    ORDER BY n_events DESC, user_id
    LIMIT {_BOT_TOP_K}
    """,
)
def event_bot_user_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-outlier (bot/scraper) audit: the top-{10} users by event
    volume with their standardized z-score against the all-users
    volume distribution, their share of total traffic, and a 2σ flag —
    the abuse-detection shortlist that feeds rate-limiting and the
    "exclude bots before computing engagement metrics" filter
    (``dq_key_skew_profile`` finds hot JOIN keys; this scores hot
    USERS statistically).

    Per-user counts are one keyed aggregate; the population moments
    accumulate exactly in decimal(38,0)/HUGEINT, and z is the single
    division ``(n·c − Σc)/√(n·Σc² − (Σc)²)`` of identical integers —
    the ``dq_seasonal_adjusted_anomaly`` contract — so the flag
    boolean and the ranking are cross-engine stable (user_id
    tie-break).  The edge is sort+limit (TakeOrdered).
    """
    c = cached(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    m = c.agg(
        F.count("*").alias("nu"),
        F.sum(dec19(F.col("n_events"))).alias("m1"),
        F.sum(dec19(F.col("n_events")) * dec19(F.col("n_events"))).alias("m2"),
    )
    nu_d = F.col("nu").cast("decimal(38,0)")
    var_n = nu_d * F.col("m2") - F.col("m1") * F.col("m1")
    z = (nu_d * dec19(F.col("n_events")) - F.col("m1")).cast(
        "double"
    ) / F.sqrt(var_n.cast("double"))
    return (
        c.crossJoin(F.broadcast(m))
        .filter(var_n > 0)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            z.alias("z"),
            (
                F.col("n_events").cast("double")
                / F.col("m1").cast("long")
            ).alias("share_of_total"),
            (z > 2.0).alias("flagged_2sigma"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(_BOT_TOP_K)
    )


# --------------------------------------------------------------------------
# event_audience_overlap — which behaviors share an audience?
# --------------------------------------------------------------------------


@register(
    "event_audience_overlap",
    oracle="""
    WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
    s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
    i AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT sa.event_type AS type_a, sb.event_type AS type_b,
           sa.n AS users_a, sb.n AS users_b,
           COALESCE(i.c, 0) AS n_common,
           CAST(COALESCE(i.c, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(i.c, 0) AS DOUBLE) AS jaccard,
           CAST(COALESCE(i.c, 0) AS DOUBLE)
             / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
    FROM s sa
    JOIN s sb ON sa.event_type < sb.event_type
    LEFT JOIN i ON i.ta = sa.event_type AND i.tb = sb.event_type
    """,
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: for every
    unordered type pair, the two audience sizes, the shared-user count,
    and Jaccard / containment of the user sets — the "do purchasers
    also view?" audience-venn that drives funnel design and feature
    cross-sell analysis.  The full matrix is emitted, zero-overlap
    pairs included.

    Shape: one map-combined distinct over (event_type, user_id), then
    an inverted-index equi self-join on ``user_id`` (the
    ``graph_common_neighbors`` convention — NEVER all-pairs over
    users: per-user fan-out is bounded by deg² ≤ |types|²).  The
    type-size matrix and the intersection table are broadcast —
    both are |types|-sized.  Jaccard and containment are ONE IEEE
    division of exact integers each, so bit-equal cross-engine with
    no decimal routing.
    """
    e = cached(
        load_table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    )
    s = e.groupBy("event_type").agg(F.count("*").alias("n"))
    inter = (
        e.select(F.col("event_type").alias("ta"), "user_id")
        .join(e.select(F.col("event_type").alias("tb"), "user_id"), "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("c"))
    )
    sa = s.select(F.col("event_type").alias("type_a"), F.col("n").alias("users_a"))
    sb = s.select(F.col("event_type").alias("type_b"), F.col("n").alias("users_b"))
    nc = F.coalesce(F.col("c"), F.lit(0)).cast("long")
    return (
        sa.join(F.broadcast(sb), F.col("type_a") < F.col("type_b"))
        .join(
            F.broadcast(inter),
            (F.col("type_a") == F.col("ta")) & (F.col("type_b") == F.col("tb")),
            "left",
        )
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            nc.alias("n_common"),
            (
                nc.cast("double")
                / (F.col("users_a") + F.col("users_b") - nc).cast("double")
            ).alias("jaccard"),
            (
                nc.cast("double")
                / F.least("users_a", "users_b").cast("double")
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# event_growth_accounting — new / retained / resurrected / churned
# --------------------------------------------------------------------------


@register(
    "event_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
      FROM events
    ),
    c AS (
      SELECT user_id, week,
             LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev
      FROM uw
    ),
    agg AS (
      SELECT week,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN prev = week - 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < week - 7
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM c GROUP BY week
    )
    SELECT week, n_active, n_new, n_retained, n_resurrected,
           LAG(n_active) OVER (ORDER BY week) - n_retained AS n_churned,
           CASE WHEN LAG(n_active) OVER (ORDER BY week) - n_retained > 0
                THEN CAST(n_new + n_resurrected AS DOUBLE)
                     / CAST(LAG(n_active) OVER (ORDER BY week) - n_retained
                            AS DOUBLE)
           END AS quick_ratio
    FROM agg
    """,
)
def event_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital framework): every
    active user each week is exactly one of NEW (first week ever),
    RETAINED (also active the week before) or RESURRECTED (active
    before, but not last week); CHURNED is last week's actives minus
    this week's retained, and the quick ratio (new + resurrected) /
    churned says whether growth outruns leakage.
    ``event_new_vs_returning`` splits daily actives two ways; this is
    the full four-state weekly ledger with conservation guarantees
    (new+retained+resurrected = active; churned closes the balance).

    One distinct (user, week) pass, one user-keyed window for
    first-week/previous-week, then a weeks-sized aggregate; the final
    churn lag runs on the tiny weekly frame.  All counts exact; the
    quick ratio is ONE IEEE division of exact integers, NULL when
    nobody churned.  Weeks with a gap in the calendar are handled by
    VALUE comparison (prev = week − 7 days), never by row adjacency.
    """
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", F.to_date("ts"))).alias("week"),
        )
        .distinct()
    )
    c = uw.select(
        "user_id",
        "week",
        F.lag("week").over(W.partitionBy("user_id").orderBy("week")).alias("prev"),
    )
    agg = c.groupBy("week").agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("prev") == F.date_sub(F.col("week"), 7), 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("prev") < F.date_sub(F.col("week"), 7)),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    churned = F.lag("n_active").over(W.orderBy("week")) - F.col("n_retained")
    return agg.select(
        "week",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        churned.alias("n_churned"),
        F.when(
            churned > 0,
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / churned.cast("double"),
        ).alias("quick_ratio"),
    )


# --------------------------------------------------------------------------
# event_velocity_burst — rate-limit / fraud velocity check
# --------------------------------------------------------------------------

_BURST_WINDOW_US = 60_000_000 - 1  # trailing 60 s, inclusive frame


@register(
    "event_velocity_burst",
    oracle=f"""
    WITH x AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    c AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN {_BURST_WINDOW_US} PRECEDING
                                      AND CURRENT ROW) AS burst
      FROM x
    ),
    p AS (
      SELECT user_id, CAST(MAX(burst) AS BIGINT) AS peak_burst,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM c GROUP BY 1
    )
    SELECT user_id, peak_burst, n_events
    FROM p ORDER BY peak_burst DESC, user_id LIMIT 10
    """,
)
def event_velocity_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity check: each user's PEAK number of events inside any
    trailing 60-second window (exact integer-microsecond RANGE frame),
    top-10 burstiest users — the rate-limit / card-testing / scraper
    signal every abuse system computes first.
    ``event_bot_user_audit`` flags lifetime volume; a burst is the
    CONCENTRATION of that volume, which catches a 30-second script on
    an otherwise quiet account.

    The sliding count is one RANGE window keyed on user_id over exact
    ``unix_micros`` values (ties share a frame by VALUE, identically
    in both engines); state per user is bounded by the 60 s span.
    The final top-10 is a TakeOrdered with a total (peak, user_id)
    tie-break — never a global sort.
    """
    x = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    burst = F.count("*").over(
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_BURST_WINDOW_US, 0)
    )
    p = (
        x.select("user_id", burst.alias("burst"))
        .groupBy("user_id")
        .agg(
            F.max("burst").cast("long").alias("peak_burst"),
            F.count("*").alias("n_events"),
        )
    )
    return p.orderBy(F.col("peak_burst").desc(), "user_id").limit(10)


# --------------------------------------------------------------------------
# event_mix_shift_tvd — did the traffic MIX change this week?
# --------------------------------------------------------------------------


@register(
    "event_mix_shift_tvd",
    oracle="""
    WITH wt AS (
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
             event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n AS (SELECT week, CAST(SUM(c) AS BIGINT) AS nt FROM wt GROUP BY 1),
    pairs AS (
      SELECT week AS week_a, LEAD(week) OVER (ORDER BY week) AS week_b,
             nt AS na, LEAD(nt) OVER (ORDER BY week) AS nb
      FROM n
    ),
    spine AS (
      SELECT p.week_a, p.week_b, p.na, p.nb, t.event_type
      FROM pairs p CROSS JOIN (SELECT DISTINCT event_type FROM wt) t
      WHERE p.week_b IS NOT NULL
    ),
    d AS (
      SELECT s.week_a, s.week_b, s.na, s.nb, s.event_type,
             ABS(COALESCE(a.c, 0) * s.nb - COALESCE(b.c, 0) * s.na) AS num_t
      FROM spine s
      LEFT JOIN wt a ON a.week = s.week_a AND a.event_type = s.event_type
      LEFT JOIN wt b ON b.week = s.week_b AND b.event_type = s.event_type
    )
    SELECT week_a, week_b,
           CAST(CAST(SUM(num_t) AS BIGINT) AS DOUBLE)
             / CAST(2 * na * nb AS DOUBLE) AS mix_tvd,
           MAX(struct_pack(n := num_t, t := event_type)).t AS top_mover_type,
           CAST(MAX(struct_pack(n := num_t, t := event_type)).n AS DOUBLE)
             / CAST(na * nb AS DOUBLE) AS top_mover_share_diff
    FROM d GROUP BY week_a, week_b, na, nb
    """,
)
def event_mix_shift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week TRAFFIC-MIX drift: the exact total-variation
    distance between consecutive weeks' event-type distributions, plus
    the type that moved the most and by how many share points — the
    production mix-shift alarm ("purchases collapsed to 2 % of
    traffic") that a volume monitor like ``dq_control_chart`` cannot
    see because TOTAL volume may be flat
    (``dq_distribution_drift`` compares fixed corpus halves once; this
    is the rolling weekly pairwise monitor).

    Same log-free exactness as ``text_tvd_language_drift``:
    TVD = Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b) over the type spine —
    all-integer numerators, ONE division per pair; the top mover is a
    lexicographic struct argmax (deterministic ties).  Scale: ONE
    map-combined (week, type) aggregate over raw events; every
    subsequent frame is weeks×types-sized.
    """
    wt = cached(
        load_table(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("week", F.to_date("ts"))).alias("week"),
            "event_type",
        )
        .groupBy("week", "event_type")
        .agg(F.count("*").alias("c"))
    )
    n = wt.groupBy("week").agg(F.sum("c").alias("nt"))
    ow = W.orderBy("week")
    pairs = n.select(
        F.col("week").alias("week_a"),
        F.lead("week").over(ow).alias("week_b"),
        F.col("nt").alias("na"),
        F.lead("nt").over(ow).alias("nb"),
    ).filter(F.col("week_b").isNotNull())
    spine = pairs.crossJoin(wt.select("event_type").distinct())
    a = wt.select(
        F.col("week").alias("wa"),
        F.col("event_type").alias("ta"),
        F.col("c").alias("ca"),
    )
    b = wt.select(
        F.col("week").alias("wb"),
        F.col("event_type").alias("tb"),
        F.col("c").alias("cb"),
    )
    d = (
        spine.join(
            a,
            (F.col("week_a") == F.col("wa")) & (F.col("event_type") == F.col("ta")),
            "left",
        )
        .join(
            b,
            (F.col("week_b") == F.col("wb")) & (F.col("event_type") == F.col("tb")),
            "left",
        )
        .select(
            "week_a",
            "week_b",
            "na",
            "nb",
            "event_type",
            F.abs(
                F.coalesce(F.col("ca"), F.lit(0)) * F.col("nb")
                - F.coalesce(F.col("cb"), F.lit(0)) * F.col("na")
            ).alias("num_t"),
        )
    )
    mover = F.max(F.struct(F.col("num_t").alias("n"), F.col("event_type").alias("t")))
    return (
        d.groupBy("week_a", "week_b", "na", "nb")
        .agg(
            F.sum("num_t").alias("s"),
            mover.alias("m"),
        )
        .select(
            "week_a",
            "week_b",
            (
                F.col("s").cast("long").cast("double")
                / (F.lit(2) * F.col("na") * F.col("nb")).cast("double")
            ).alias("mix_tvd"),
            F.col("m.t").alias("top_mover_type"),
            (
                F.col("m.n").cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("top_mover_share_diff"),
        )
    )


# --------------------------------------------------------------------------
# event_time_decay_attribution — the third canonical multi-touch model
# --------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


@register(
    "event_time_decay_attribution",
    # Weights 2^-age_days for age 0..7 are exact dyadic rationals
    # (spelled 128 >> age over a 128 denominator — integer bit-shift,
    # no pow/libm), and each purchase's weight SUM is an exact multiple
    # of 1/128, so every per-touch share is ONE IEEE division of exact
    # dyadics.  The cross-row credit sum re-enters decimal (dsum).
    oracle=f"""
    WITH v AS (SELECT user_id, CAST(ts AS DATE) AS vday FROM events
               WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(ts AS DATE) AS pday
          FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT p.purchase_id, v.vday,
             CAST(128 // (1 << date_diff('day', v.vday, p.pday)) AS BIGINT)
               AS w128
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.vday <= p.pday
       AND date_diff('day', v.vday, p.pday) <= {_ATTR_WINDOW_DAYS}
    ),
    tot AS (SELECT purchase_id, CAST(SUM(w128) AS BIGINT) AS tw
            FROM t GROUP BY 1),
    sh AS (
      SELECT t.vday,
             CAST(t.w128 AS DOUBLE) / CAST(tot.tw AS DOUBLE) AS share
      FROM t JOIN tot USING (purchase_id)
    )
    SELECT vday AS view_day,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           {sql_dsum('share', 30, 12)} AS credit
    FROM sh GROUP BY vday
    """,
)
def event_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every view within 7 days
    before a purchase earns weight 2^(−age_days), normalized per
    purchase so credit is CONSERVED (each attributable purchase hands
    out exactly 1.0), then rolled up by view day — the third canonical
    model beside ``event_last_touch_attribution`` (winner-take-all)
    and ``event_position_attribution`` (U-shaped 40/20/40), the one
    marketers reach for when recency matters but the last click
    shouldn't take everything.

    Float discipline: the dyadic weight is the INTEGER ``128 >> age``
    over a fixed 128 denominator (no pow), each share is one IEEE
    division of exact integers, and the only cross-row float sum —
    the day's credit — accumulates in decimal at scale 12 (shares are
    ≤ 1; VARCHAR-routed in the oracle).  Scale: the touch join is
    user-keyed and banded to 7 days; the totals table is
    purchase-keyed (broadcastable at dashboard scale, co-keyed join
    otherwise).
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.to_date("ts").alias("vday")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.to_date("ts").alias("pday"),
    )
    age = F.datediff(F.col("pday"), F.col("vday"))
    t = cached(
        p.join(
            v,
            (p.user_id == v.user_id)
            & (F.col("vday") <= F.col("pday"))
            & (age <= _ATTR_WINDOW_DAYS),
        ).select(
            "purchase_id",
            "vday",
            # shiftleft with a COLUMN bit count needs the SQL spelling
            # (the Python helper only takes a literal int).
            F.expr(
                "CAST(128 DIV shiftleft(1, datediff(pday, vday)) AS LONG)"
            ).alias("w128"),
        )
    )
    tot = t.groupBy("purchase_id").agg(F.sum("w128").alias("tw"))
    sh = t.join(tot, "purchase_id").select(
        "vday",
        (F.col("w128").cast("double") / F.col("tw").cast("double")).alias("share"),
    )
    return sh.groupBy(F.col("vday").alias("view_day")).agg(
        F.count("*").alias("n_touches"),
        F.sum(F.col("share").cast("decimal(30,12)")).cast("double").alias("credit"),
    )


# --------------------------------------------------------------------------
# event_streak_histogram — how long do users stay daily-active?
# --------------------------------------------------------------------------


@register(
    "event_streak_histogram",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    anch AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS anchor
      FROM ud
    ),
    runs AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM anch GROUP BY user_id, anchor
    ),
    best AS (
      SELECT user_id, MAX(run_len) AS max_streak FROM runs GROUP BY user_id
    )
    SELECT CAST(max_streak AS BIGINT) AS max_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM best GROUP BY max_streak
    """,
)
def event_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-streak distribution: each user's LONGEST run of
    consecutive active days (the day − row_number gaps-and-islands
    anchor), histogrammed over users — the habit-formation readout
    ("how many users ever hit a 7-day streak?") that powers streak
    badges and retention targets (``window_gaps_islands`` runs the
    same trick on event-id sequences; this is its calendar-day,
    per-user, distribution-level application).

    All integer: distinct (user, day), one user-keyed window, two
    map-combined aggregates, then a histogram over the tiny
    streak-length domain.  Deterministic with no ties to break —
    the output is a distribution, not a leaderboard.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    anch = ud.select(
        "user_id", F.date_sub(F.col("day"), rn).alias("anchor")
    )
    runs = anch.groupBy("user_id", "anchor").agg(F.count("*").alias("run_len"))
    best = runs.groupBy("user_id").agg(F.max("run_len").alias("max_streak"))
    return best.groupBy(
        F.col("max_streak").cast("long").alias("max_streak_days")
    ).agg(F.count("*").alias("n_users"))


# --------------------------------------------------------------------------
# event_habit_hour — when is each user's habitual hour?
# --------------------------------------------------------------------------


@register(
    "event_habit_hour",
    oracle="""
    WITH uh AS (
      SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM uh GROUP BY 1),
    modal AS (
      SELECT uh.user_id,
             MAX(struct_pack(c := uh.c, nh := -uh.h)).nh * -1 AS modal_hour,
             MAX(struct_pack(c := uh.c, nh := -uh.h)).c AS modal_c
      FROM uh GROUP BY uh.user_id
    )
    SELECT m.modal_hour,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(CAST(CAST(CAST(m.modal_c AS DOUBLE) / t.n AS VARCHAR)
                              AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mean_concentration
    FROM modal m JOIN tot t USING (user_id)
    GROUP BY m.modal_hour
    """,
)
def event_habit_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Habitual-hour profile: each user's MODAL activity hour (the
    struct-argmax with a smallest-hour tie-break) and how concentrated
    their activity is in it, rolled up as a distribution over users —
    the send-time-optimization / staffing input that the global
    ``ts_dow_hour_heatmap`` hides, because an even aggregate curve can
    be many sharply-peaked users in different hours.

    Modal hour is an order-independent lexicographic struct MAX; each
    user's concentration is ONE division of exact integers; the mean
    concentration per modal hour re-enters decimal (the only
    cross-row float sum).  Scale: one (user, hour) aggregate, one
    user-keyed argmax, a ≤24-row result.
    """
    uh = cached(
        load_table(spark, sf_dir, "events")
        .select("user_id", F.hour("ts").cast("long").alias("h"))
        .groupBy("user_id", "h")
        .agg(F.count("*").alias("c"))
    )
    tot = uh.groupBy("user_id").agg(F.sum("c").alias("n"))
    best = F.max(
        F.struct(F.col("c").alias("c"), (-F.col("h")).alias("nh"))
    )
    modal = uh.groupBy("user_id").agg(best.alias("b")).select(
        "user_id",
        (F.col("b.nh") * -1).alias("modal_hour"),
        F.col("b.c").alias("modal_c"),
    )
    share = F.col("modal_c").cast("double") / F.col("n")
    return (
        modal.join(tot, "user_id")
        .select("modal_hour", share.alias("share"))
        .groupBy("modal_hour")
        .agg(
            F.count("*").alias("n_users"),
            (
                F.sum(F.col("share").cast("decimal(30,12)")).cast("double")
                / F.count("*")
            ).alias("mean_concentration"),
        )
    )
