"""Semi-structured data + advanced aggregate/generator operators.

Maps, structs, null-safe comparison joins, order-statistic and argmax
aggregates, outer/positional explodes — the remaining §2b surface that
real pipelines lean on for nested/JSON-shaped data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.ranks import bucket_offsets
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import sql_h32
from project_fauna_spark.registry import register, sql_dsum


@register(
    "semi_map_functions",
    oracle="""
    WITH m AS (
      SELECT event_id,
             MAP {'type': event_type, 'k': CAST(json_extract(props, '$.k') AS VARCHAR)} AS attrs
      FROM events
    )
    SELECT event_id,
           CAST(cardinality(attrs) AS INT) AS n_keys,
           attrs['type'][1] AS attr_type,
           CAST(attrs['k'][1] AS BIGINT) AS attr_k,
           array_to_string(list_sort(map_keys(attrs)), '|') AS keys_sorted
    FROM m
    """,
)
def semi_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction, size, lookup, key listing.

    ``keys_sorted`` is joined to a string — top-level array columns are
    banned at the graded edge (driver canonicalizer, round-2 breakage).
    """
    e = load_table(spark, sf_dir, "events")
    attrs = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), F.get_json_object("props", "$.k"),
    )
    return e.select(
        "event_id",
        F.size(attrs).alias("n_keys"),
        attrs["type"].alias("attr_type"),
        attrs["k"].cast("long").alias("attr_k"),
        F.array_join(F.array_sort(F.map_keys(attrs)), "|").alias("keys_sorted"),
    )


@register(
    "semi_struct_nesting",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             {'cust': {'key': o_custkey, 'status': o_orderstatus},
              'year': CAST(year(o_orderdate) AS INT)} AS order_info,
             o_totalprice
      FROM orders
    )
    SELECT o_orderkey,
           to_json(order_info) AS order_info_json,
           order_info.cust.key AS cust_key_out,
           order_info.year AS year_out,
           o_totalprice AS price_out
    FROM s
    """,
)
def semi_struct_nesting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct build, field access, JSON serialization.

    The struct round-trips through ``to_json`` at the compared edge
    (nested values are ints/strings only — compact-JSON doubles
    serialize differently across engines)."""
    o = load_table(spark, sf_dir, "orders")
    info = F.struct(
        F.struct(F.col("o_custkey").alias("key"), F.col("o_orderstatus").alias("status")).alias(
            "cust"
        ),
        F.year("o_orderdate").alias("year"),
    )
    return o.select(
        "o_orderkey",
        F.to_json(info).alias("order_info_json"),
        info["cust"]["key"].alias("cust_key_out"),
        info["year"].alias("year_out"),
        F.col("o_totalprice").alias("price_out"),
    )


@register(
    "semi_null_safe_join",
    oracle="""
    WITH a AS (SELECT event_id, CASE WHEN event_id % 5 = 0 THEN NULL
                                     ELSE CAST(event_id % 7 AS BIGINT) END AS k
               FROM events WHERE event_id < 200),
         b AS (SELECT event_id, CASE WHEN event_id % 3 = 0 THEN NULL
                                     ELSE CAST(event_id % 7 AS BIGINT) END AS k
               FROM events WHERE event_id >= 200 AND event_id < 400)
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.k AS k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def semi_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>``): NULL keys match each other —
    unlike plain equi joins, where NULL never matches."""
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("id_a"),
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("event_id") % 7).alias("ka"),
    )
    b = e.filter((F.col("event_id") >= 200) & (F.col("event_id") < 400)).select(
        F.col("event_id").alias("id_b"),
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("event_id") % 7).alias("kb"),
    )
    return a.join(b, a.ka.eqNullSafe(b.kb)).select("id_a", "id_b", F.col("ka").alias("k"))


@register(
    "semi_argmax_aggregates",
    oracle="""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rx,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rm
      FROM events
    )
    SELECT event_type,
           max(CASE WHEN rx = 1 THEN event_id END) AS max_value_event,
           max(CASE WHEN rm = 1 THEN event_id END) AS min_value_event,
           max(value) AS max_value,
           median(value) AS median_value
    FROM ranked GROUP BY event_type
    """,
)
def semi_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax) with tie-proof composite keys + median.

    Bare ``max_by(id, value)`` resolves value ties engine-specifically
    (real at scale: sf0.1 has ~25k tied (type, value) pairs) —
    maximizing the (value, id) STRUCT lexicographically makes the
    winner unique.  The oracle spells the same semantics as ranked
    windows (DuckDB's arg_max can't take composite keys).
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max_by("event_id", F.struct("value", "event_id")).alias("max_value_event"),
        F.min_by("event_id", F.struct("value", "event_id")).alias("min_value_event"),
        F.max("value").alias("max_value"),
        F.median("value").alias("median_value"),
    )


@register(
    "semi_mode_deterministic",
    oracle="""
    SELECT event_type, user_id AS mode_user, n FROM (
      SELECT event_type, user_id, COUNT(*) AS n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY COUNT(*) DESC, user_id) AS rn
      FROM events GROUP BY event_type, user_id
    ) WHERE rn = 1
    """,
)
def semi_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with a deterministic tiebreak (count desc, then key) —
    the reproducible spelling of ``mode()``; built-in mode() breaks
    ties engine-specifically."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"), "n")
    )


@register(
    "semi_percentile_approx",
    oracle="""
    SELECT event_type, COUNT(value) AS n_values,
           TRUE AS p50_in_bounds, TRUE AS p95_in_bounds, TRUE AS p99_in_bounds
    FROM events GROUP BY event_type
    """,
)
def semi_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK-sketch) — the scale path for quantiles;
    exact quantiles of 100 TB need a full sort.

    The raw estimates are engine-specific, so the graded edge carries
    deterministic BOUND assertions instead, checked in RANK space:
    approx_percentile(q, accuracy=10⁴) guarantees the returned
    element's rank lies within N/10⁴ of q·N, so the estimate's rank
    interval [#(value < est)+1, #(value ≤ est)] must intersect
    q·N ∓ (N/10⁴ + 2) (the +2 absorbs floor/ceil and N-vs-N−1 rank
    conventions).  Rank-space is the honest spelling at every N — the
    previous value-space bound (estimate between the exact q∓10⁻³
    quantiles) silently assumed the order-statistic gap < 10⁻³ in
    quantile space, which fails below N ≈ 2·10³ (found by the r10
    full-registry sf0.001 sweep: 7 of 15 booleans false on ~200-row
    groups with a correct estimator).  It also needed exact
    percentiles — the full per-group sort this query exists to avoid;
    the rank check is a broadcast join of the 5-row estimate table
    back over events + map-combinable conditional counts.  The
    oracle's literal TRUEs turn any estimator regression into a hash
    mismatch — same pattern as ``agg_approx_count_distinct``.
    """
    e = load_table(spark, sf_dir, "events")
    qs = [0.5, 0.95, 0.99]
    # count('value') (non-null), NOT count('*'): the rank counts and the
    # sketch both ignore NULLs, so q·N must live in non-null space too
    # (ADVICE r10 — latent until a corpus generation has NULL values).
    # cached(): ests feeds both the broadcast rank-count join and the
    # final join; without a persist the events scan + sketch agg run
    # twice per invocation (ADVICE r10).
    ests = cached(
        e.groupBy("event_type").agg(
            F.percentile_approx("value", qs, 10000).alias("_p"),
            F.count("value").alias("n_values"),
        )
    )
    j = e.select("event_type", "value").join(F.broadcast(ests), "event_type")
    # coalesce(sum, 0): an all-NULL group makes every (value < NULL)
    # comparison NULL, so the sums come back NULL, not 0 (ADVICE r11 —
    # the oracle still emits TRUE with n_values=0 for such a group).
    counts = j.groupBy("event_type").agg(
        *[
            F.coalesce(
                F.sum((F.col("value") < F.col("_p")[i]).cast("long")), F.lit(0)
            ).alias(f"_lt{i}")
            for i in range(len(qs))
        ],
        *[
            F.coalesce(
                F.sum((F.col("value") <= F.col("_p")[i]).cast("long")), F.lit(0)
            ).alias(f"_le{i}")
            for i in range(len(qs))
        ],
    )
    n = F.col("n_values").cast("double")
    err = n / F.lit(10000.0) + F.lit(2.0)
    return ests.join(counts, "event_type").select(
        "event_type",
        "n_values",
        *[
            # n_values == 0 → the rank bound is vacuous (there is no
            # estimate to check): short-circuit to TRUE, matching the
            # oracle's literal TRUE for a group with no non-null values.
            F.when(F.col("n_values") == 0, F.lit(True))
            .otherwise(
                ((F.col(f"_lt{i}") + F.lit(1)).cast("double") <= q * n + err)
                & (F.col(f"_le{i}").cast("double") >= q * n - err)
            )
            .alias(f"p{int(q * 100)}_in_bounds")
            for i, q in enumerate(qs)
        ],
    )


@register(
    "semi_posexplode_outer",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE (string_split(text, ' '))[1:3] END AS first3
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, u.pos, u.word FROM (
      SELECT doc_id,
             unnest(CASE WHEN first3 IS NULL OR len(first3) = 0
                         THEN [{'pos': CAST(-1 AS INT), 'word': CAST(NULL AS VARCHAR)}]
                         ELSE list_transform(range(1, len(first3) + 1),
                                             i -> {'pos': CAST(i - 1 AS INT), 'word': first3[i]})
                    END) AS u
      FROM src
    )
    """,
)
def semi_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: positional explode that keeps NULL-array rows
    (outer) — pos normalized to -1 for the kept empty rows."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    first3 = F.when(
        F.col("doc_id") % 10 == 0, F.lit(None).cast("array<string>")
    ).otherwise(F.slice(F.split(F.col("text"), " "), 1, 3))
    return (
        d.select("doc_id", first3.alias("first3"))
        .select("doc_id", F.posexplode_outer("first3").alias("pos", "word"))
        .select("doc_id", F.coalesce(F.col("pos"), F.lit(-1)).alias("pos"), "word")
    )


@register(
    "semi_collect_sorted",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '|') AS event_seq,
           len(list(event_type ORDER BY ts, event_id)) AS n
    FROM events WHERE user_id < 20 GROUP BY user_id
    """,
)
def semi_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic collect_list: gather (sort-key, value) structs,
    array_sort, project values, join to a string — the reproducible
    ordered-collect pattern (bare collect_list order is
    shuffle-dependent; top-level arrays are banned at the graded edge)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
        ),
        lambda s: s.event_type,
    )
    return e.groupBy("user_id").agg(
        F.array_join(seq, "|").alias("event_seq"),
        F.size(seq).cast("long").alias("n"),
    )


@register(
    "scalar_string_fns2",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_brand, 'Brand#10') AS BIGINT) AS brand_dist,
           split_part(p_type, ' ', 1) AS type_first,
           split_part(p_type, ' ', -1) AS type_last,
           translate(p_name, 'aeiou', 'AEIOU') AS name_vowels_up,
           repeat(p_brand, 2) AS brand_twice,
           reverse(p_name) AS name_rev,
           CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
           left(p_name, 5) AS name_l5,
           right(p_name, 5) AS name_r5,
           contains(p_type, 'an') AS has_an,
           starts_with(p_brand, 'Brand#1') AS is_b1x,
           ends_with(p_type, 'd') AS ends_d
    FROM part
    """,
)
def scalar_string_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery 2: edit distance, split_part (incl. negative
    index), translate, repeat/reverse, position, left/right,
    contains/startswith/endswith."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", F.lit("Brand#10")).cast("long").alias("brand_dist"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(-1)).alias("type_last"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_vowels_up"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.substring("p_name", 1, 5).alias("name_l5"),
        F.substring(F.col("p_name"), -5, 5).alias("name_r5"),
        F.contains(F.col("p_type"), F.lit("an")).alias("has_an"),
        F.startswith(F.col("p_brand"), F.lit("Brand#1")).alias("is_b1x"),
        F.endswith(F.col("p_type"), F.lit("d")).alias("ends_d"),
    )


@register(
    "scalar_null_semantics",
    oracle="""
    WITH src AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v,
             CASE WHEN event_id % 4 = 0 THEN NULL ELSE user_id END AS u
      FROM events WHERE event_id < 1000
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(v) AS n_v_nonnull,
           COUNT(DISTINCT u) AS n_u_distinct,
           CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_v,
           CAST(SUM(CASE WHEN v IS NULL AND u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both_null,
           CAST(SUM(CAST(CAST(COALESCE(v, 0.0) AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_v_coalesced,
           BOOL_AND(v IS NULL OR v >= 0) AS all_nonneg_or_null,
           BOOL_OR(v IS NULL) AS any_null
    FROM src
    """,
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: count(*) vs count(col), null-skipping
    aggregates, coalesce, three-valued-logic bool aggregates."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    src = e.select(
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value")).alias("v"),
        F.when(F.col("event_id") % 4 == 0, None).otherwise(F.col("user_id")).alias("u"),
    )
    v, u = F.col("v"), F.col("u")
    return src.agg(
        F.count("*").alias("n_rows"),
        F.count(v).alias("n_v_nonnull"),
        F.countDistinct(u).alias("n_u_distinct"),
        F.sum(v.cast("decimal(30,8)")).cast("double").alias("sum_v"),
        F.sum(F.when(v.isNull() & u.isNull(), 1).otherwise(0)).alias("n_both_null"),
        F.sum(F.coalesce(v, F.lit(0.0)).cast("decimal(30,8)")).cast("double").alias("sum_v_coalesced"),
        F.bool_and(v.isNull() | (v >= 0)).alias("all_nonneg_or_null"),
        F.bool_or(v.isNull()).alias("any_null"),
    )


@register(
    "window_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) OVER w AS DOUBLE) AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per-user trailing 1-hour rollups —
    the rolling-feature shape for event/feature-store pipelines."""
    e = load_table(spark, sf_dir, "events")
    # Order by MICROSECONDS, not floor-seconds: a truncated ordering
    # key flips membership for events in the (1h, 1h+1s) boundary band.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(30,8)")).over(w).cast("double").alias("sum_last_hour"),
    )


@register(
    "sample_bernoulli",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substring(md5('bern:' || CAST(l_orderkey AS VARCHAR) || ':'
                        || CAST(l_linenumber AS VARCHAR)), 1, 4) < '199a'
    """,
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash Bernoulli sample (p = 6554/65536 ≈ 10%), no shuffle.

    Spark's native ``df.sample(seed=...)`` draws per-partition RNG
    streams, so the selected ROWS change whenever partitioning changes
    (file splits, AQE, cluster size) — useless for reproducible corpus
    subsets at 100 TB.  Hashing the row key instead (first 16 bits of
    md5 under a sampling salt vs a threshold) gives the same sample on
    any engine, any layout — and an exact DuckDB oracle.
    """
    l = load_table(spark, sf_dir, "lineitem")
    hk = F.md5(
        F.concat_ws(":", F.lit("bern"), F.col("l_orderkey"), F.col("l_linenumber"))
    )
    return l.filter(F.substring(hk, 1, 4) < "199a").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# fraction → first-16-bits-of-md5 hex threshold (floor(f·65536) as %04x)
_STRATA = {"view": "0ccd", "click": "3333", "purchase": None, "signup": None, "error": "8000"}


@register(
    "sample_stratified",
    oracle="""
    SELECT event_type, COUNT(*) AS n_sampled
    FROM events
    WHERE CASE event_type
            WHEN 'view'  THEN substring(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 4) < '0ccd'
            WHEN 'click' THEN substring(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 4) < '3333'
            WHEN 'error' THEN substring(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 4) < '8000'
            ELSE TRUE END
    GROUP BY event_type
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample via per-stratum content-hash thresholds — the
    class-balance primitive for training-data curation (rare classes
    kept at 100%, dominant classes downsampled).

    Same determinism argument as ``sample_bernoulli``: ``sampleBy``'s
    RNG is partition-layout-dependent; hashing ``event_id`` fixes the
    sample across engines and cluster shapes, so the per-stratum counts
    are exact — not expectations.
    """
    e = load_table(spark, sf_dir, "events")
    hk = F.substring(F.md5(F.concat_ws(":", F.lit("strat"), F.col("event_id"))), 1, 4)
    cond = F.lit(True)
    for etype, thr in _STRATA.items():
        if thr is not None:
            cond = F.when(F.col("event_type") == etype, hk < thr).otherwise(cond)
    return e.filter(cond).groupBy("event_type").agg(F.count("*").alias("n_sampled"))


@register(
    "window_running_distinct",
    oracle="""
    SELECT event_id, event_type,
           CAST(count(DISTINCT user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
             AS distinct_users_so_far
    FROM events
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-count per window.

    Spark has no COUNT(DISTINCT) window function — the idiomatic
    spelling is size(collect_set() OVER w), which keeps the distinct
    set in window state (bounded by group cardinality; at 100 TB use
    approx sketches per bucket instead)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).alias("distinct_users_so_far"),
    )


@register(
    "scalar_date_fns2",
    oracle="""
    SELECT event_id,
           CAST(quarter(ts) AS INT) AS q,
           CAST(hour(ts) AS INT) AS h,
           CAST(minute(ts) AS INT) AS mi,
           CAST(second(ts) AS INT) AS s,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
           strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(ts AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m
    FROM events WHERE event_id < 2000
    """,
)
def scalar_date_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery 2: quarter/hour/minute/second extraction, epoch
    seconds, last_day, add_months (events dates are mid-month, so the
    engines' month-end clamping conventions never engage)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ts = F.col("ts")
    return e.select(
        "event_id",
        F.quarter(ts).alias("q"),
        F.hour(ts).alias("h"),
        F.minute(ts).alias("mi"),
        F.second(ts).alias("s"),
        F.unix_timestamp(F.date_trunc("second", ts)).alias("epoch_s"),
        F.date_format(F.last_day(ts.cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(ts.cast("date"), 2), "yyyy-MM-dd").alias("plus2m"),
    )


@register(
    "cdc_scd2_intervals",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'), '9999-12-31')
             AS valid_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 effective dating: each change record gets
    [valid_from, valid_to) from its own date and the NEXT change's
    date (lead), open-ended for the current row — the standard CDC →
    dimension-history build, one window pass."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "cdc_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key (CDC compaction): keep each key's newest
    row by (ts, id) — WindowGroupLimit makes this a partial top-1
    before the shuffle, the scalable log-compaction plan."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
    )


@register(
    "semi_map_hof",
    oracle="""
    WITH src AS (
      SELECT event_id, event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_id < 3000
    )
    SELECT event_id,
           'k2=' || CAST(k * 2 AS VARCHAR) || '|' ||
           'type=' || upper(event_type) AS entries_sorted,
           2 AS n_entries
    FROM src
    """,
)
def semi_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: transform_values, map_filter,
    map_concat — compared via sorted entry lists (DuckDB has no map
    HOFs, so the oracle constructs the expected entries directly).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    base = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("drop_me"), F.lit(None).cast("string"),
    )
    extra = F.create_map(
        F.lit("k2"), (F.get_json_object("props", "$.k").cast("long") * 2).cast("string")
    )
    m = F.map_concat(
        F.map_filter(
            F.transform_values(base, lambda k, v: F.upper(v)), lambda k, v: v.isNotNull()
        ),
        extra,
    )
    entries = F.array_sort(
        F.transform(F.map_entries(m), lambda s: F.concat_ws("=", s.key, s.value))
    )
    return e.select(
        "event_id",
        F.array_join(entries, "|").alias("entries_sorted"),
        F.size(m).alias("n_entries"),
    )


@register(
    "set_union_missing_columns",
    oracle="""
    SELECT o_orderkey AS id, o_totalprice AS amount, 'order' AS src,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey < 500
    UNION ALL
    SELECT event_id AS id, value AS amount, 'event' AS src,
           CAST(NULL AS VARCHAR) AS status
    FROM events WHERE event_id < 500
    """,
)
def set_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: unionByName(allowMissingColumns=True)
    fills absent columns with NULL — the append path when upstream
    schemas drift."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_totalprice").alias("amount"),
            F.lit("order").alias("src"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select(
            F.col("event_id").alias("id"),
            F.col("value").alias("amount"),
            F.lit("event").alias("src"),
        )
    )
    return o.unionByName(e, allowMissingColumns=True)


@register(
    "sample_reservoir_hash",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group 'reservoir' sample: order by a salted
    content hash, keep the first k — uniform-in-distribution like a
    reservoir sampler, but reproducible across engines AND runs
    (unlike `sample_bernoulli`'s engine-specific RNG, this one is
    oracle-checked exactly).

    Scale: one window shuffle on the group key; WindowGroupLimit
    pushes the k-filter below the sort, so each partition keeps only
    its k smallest hashes — per-group state is O(k), never the group."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "cdc_tombstone_compaction",
    oracle="""
    SELECT user_id, event_type AS last_op, value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction WITH tombstones: each key's latest record
    wins, and keys whose latest record is a delete marker (here:
    ``event_type = 'error'``) vanish from the compacted state.

    Same WindowGroupLimit top-1 plan as ``cdc_latest_per_key`` — the
    tombstone filter applies AFTER picking the latest record, which is
    the semantic difference from filtering deletes up front (a
    re-created key must survive, a last-deleted key must not)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


# --------------------------------------------------------------------------
# sample_systematic_stride — every Nth row in hash order
# --------------------------------------------------------------------------

_STRIDE = 100
_SYS_BUCKETS_SHIFT = 24  # bucket = h >> 24: 256 range-ordered buckets


def _systematic_oracle() -> str:
    hv = sql_h32("CAST(o_orderkey AS VARCHAR)", "sys:")
    return f"""
    WITH h AS (SELECT o_orderkey, {hv} AS hv FROM orders),
    r AS (
      SELECT o_orderkey, hv,
             row_number() OVER (ORDER BY hv, o_orderkey) AS rnk
      FROM h
    )
    SELECT CAST(rnk AS BIGINT) AS sample_rank, o_orderkey, hv AS hash_key
    FROM r WHERE (rnk - 1) % {_STRIDE} = 0
    """


@register("sample_systematic_stride", oracle=_systematic_oracle())
def sample_systematic_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-100 sample in PORTABLE hash order: rank every
    order by its salted 32-bit md5 hash (ties broken by key) and keep
    ranks 1, 101, 201, … — the evenly-spaced deterministic sample that
    (unlike ``sample_bernoulli``) has EXACTLY ⌈n/100⌉ rows and zero
    clumping, and (unlike ``sample_reservoir_hash``) preserves a
    reproducible global ordering any engine can replay.

    The global rank never funnels: rows bucket by the hash's top 8
    bits (range-ordered, so bucket boundaries respect the sort),
    rank locally within their bucket, and add broadcast per-bucket
    offsets from ``functions/ranks.bucket_offsets`` — the oracle uses
    the equivalent single-window spelling.  Scale: the only wide
    exchange is the 256-way bucket shuffle; the offsets table is 256
    rows.
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    h = cached(
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            _h32(F.col("o_orderkey").cast("string"), "sys:").alias("hv"),
        )
        .withColumn("bucket", F.shiftright(F.col("hv"), _SYS_BUCKETS_SHIFT))
    )
    local = F.row_number().over(
        W.partitionBy("bucket").orderBy("hv", "o_orderkey")
    )
    ranked = h.select("o_orderkey", "hv", "bucket", local.alias("lrnk"))
    offs = bucket_offsets(h, [], "bucket", F.lit(1))
    return (
        ranked.join(F.broadcast(offs.select("bucket", "offset")), "bucket")
        .select(
            (F.col("offset") + F.col("lrnk")).alias("sample_rank"),
            "o_orderkey",
            F.col("hv").alias("hash_key"),
        )
        .filter((F.col("sample_rank") - 1) % _STRIDE == 0)
    )


# --------------------------------------------------------------------------
# cdc_snapshot_diff — what changed between two as-of states?
# --------------------------------------------------------------------------

_SNAP_T1 = "1998-06-30"
_SNAP_T2 = "1999-06-30"


@register(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH log AS (
      SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS version
      FROM orders
    ),
    s1 AS (
      SELECT key, MAX(struct_pack(t := ts, v := version)).v AS v
      FROM log WHERE ts <= DATE '{_SNAP_T1}' GROUP BY key
    ),
    s2 AS (
      SELECT key, MAX(struct_pack(t := ts, v := version)).v AS v
      FROM log WHERE ts <= DATE '{_SNAP_T2}' GROUP BY key
    ),
    d AS (
      SELECT s1.key AS k1, s2.key AS k2,
             s1.v AS v1, s2.v AS v2
      FROM s1 FULL OUTER JOIN s2 ON s1.key = s2.key
    )
    SELECT '{_SNAP_T1}' AS t1, '{_SNAP_T2}' AS t2,
           CAST(COUNT(k1) AS BIGINT) AS n_keys_t1,
           CAST(COUNT(k2) AS BIGINT) AS n_keys_t2,
           CAST(SUM(CASE WHEN k1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
                          AND v1 <> v2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CASE WHEN k1 IS NOT NULL AND v1 = v2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM d
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot diff of a CDC-materialized state: treat
    each customer's order stream as their change log (the
    ``cdc_scd2_intervals`` convention), materialize the latest-version
    state as of two dates a year apart, and report
    added / changed / unchanged key counts — the reconciliation every
    warehouse runs after a backfill ("did the re-sync move exactly
    the keys it should have?").  ``mv_incremental_merge`` applies a
    delta; this VERIFIES one.

    Each as-of state is one filtered max-struct aggregate (latest by
    (date, version) — order-independent, map-combined); the diff is a
    single key-keyed full outer join.  No deletes exist in this log
    (append-only), so removed-keys is structurally zero and omitted —
    ``cdc_tombstone_compaction`` owns the delete path.
    """
    log = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("version"),
    )
    latest = F.max(
        F.struct(F.col("ts").alias("t"), F.col("version").alias("v"))
    )["v"]

    def state(cutoff: str, alias: str) -> DataFrame:
        return (
            log.filter(F.col("ts") <= F.lit(cutoff).cast("date"))
            .groupBy("key")
            .agg(latest.alias(alias))
        )

    s1 = state(_SNAP_T1, "v1").withColumnRenamed("key", "k1")
    s2 = state(_SNAP_T2, "v2").withColumnRenamed("key", "k2")
    d = s1.join(s2, s1.k1 == s2.k2, "full_outer")
    agg = d.agg(
        F.count("k1").alias("n_keys_t1"),
        F.count("k2").alias("n_keys_t2"),
        F.sum(F.when(F.col("k1").isNull(), 1).otherwise(0)).alias("n_added"),
        F.sum(
            F.when(
                F.col("k1").isNotNull()
                & F.col("k2").isNotNull()
                & (F.col("v1") != F.col("v2")),
                1,
            ).otherwise(0)
        ).alias("n_changed"),
        F.sum(
            F.when(F.col("k1").isNotNull() & (F.col("v1") == F.col("v2")), 1).otherwise(
                0
            )
        ).alias("n_unchanged"),
    )
    return agg.select(
        F.lit(_SNAP_T1).alias("t1"),
        F.lit(_SNAP_T2).alias("t2"),
        "n_keys_t1",
        "n_keys_t2",
        "n_added",
        "n_changed",
        "n_unchanged",
    )


# --------------------------------------------------------------------------
# sample_estimate_accuracy — can you trust the 10 % sample?
# --------------------------------------------------------------------------


def _sample_accuracy_oracle() -> str:
    h = sql_h32("CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)", "acc:")
    return f"""
    WITH t AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             l_extendedprice * (1 - l_discount) AS rev,
             {h} % 10 = 0 AS sampled
      FROM lineitem
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             CAST(SUM(qty) AS BIGINT) AS exact_qty,
             CAST(10 * SUM(CASE WHEN sampled THEN qty ELSE 0 END) AS BIGINT)
               AS est_qty,
             {sql_dsum('rev', 30, 8)} AS exact_rev,
             10 * {sql_dsum('CASE WHEN sampled THEN rev ELSE 0 END', 30, 8)}
               AS est_rev
      FROM t
    )
    SELECT n_rows, n_sampled, exact_qty, est_qty,
           CAST(est_qty AS DOUBLE) / CAST(exact_qty AS DOUBLE) - 1
             AS qty_rel_error,
           exact_rev, est_rev,
           est_rev / exact_rev - 1 AS rev_rel_error
    FROM a
    """


@register("sample_estimate_accuracy", oracle=_sample_accuracy_oracle())
def sample_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest sampling-error audit: a deterministic 1-in-10 hash
    sample of lineitem, its scaled-up quantity and revenue estimates,
    and the ACTUAL relative errors against the exact totals — the
    number that tells an analyst whether "run it on the sample" is
    safe for this metric (``sample_bernoulli`` produces samples; this
    closes the loop by MEASURING what a sample-based estimate would
    have gotten wrong, which is how sampling rates get chosen).

    The sample membership is the portable md5 fold of the full line
    key, so both engines (and every rerun) sample identical rows;
    est = 10× the sampled sum stays exact (integer / decimal), and
    each relative error is ONE division of bit-equal edges.  Scale:
    one map-combined aggregate computes exact AND sampled accumulators
    together — the audit costs the same scan the estimate does.
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )
    t = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("rev"),
        (_h32(key, "acc:") % 10 == 0).alias("sampled"),
    )
    drev = F.col("rev").cast("decimal(30,8)")
    a = t.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0)).cast("long").alias(
            "n_sampled"
        ),
        F.sum("qty").alias("exact_qty"),
        (F.lit(10) * F.sum(F.when(F.col("sampled"), F.col("qty")).otherwise(0)))
        .cast("long")
        .alias("est_qty"),
        F.sum(drev).cast("double").alias("exact_rev"),
        (
            F.lit(10)
            * F.sum(F.when(F.col("sampled"), drev).otherwise(F.lit(0).cast("decimal(30,8)"))).cast(
                "double"
            )
        ).alias("est_rev"),
    )
    return a.select(
        "n_rows",
        "n_sampled",
        "exact_qty",
        "est_qty",
        (
            F.col("est_qty").cast("double") / F.col("exact_qty").cast("double")
            - 1
        ).alias("qty_rel_error"),
        "exact_rev",
        "est_rev",
        (F.col("est_rev") / F.col("exact_rev") - 1).alias("rev_rel_error"),
    )


@register(
    "sample_pps_systematic",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER () AS t
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST((25 * cum) // t AS BIGINT) AS pick_index
    FROM d
    WHERE (25 * cum) // t > (25 * (cum - n_chars)) // t
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling (Madow): lay the docs on the cumulative
    n_chars line in doc_id order and pick the doc containing each of
    the K=25 equally-spaced points — inclusion probability exactly
    proportional to document length, ONE pass, no RNG.  A doc is picked
    iff ⌊K·cum/T⌋ increments across its weight interval; pure int64
    arithmetic, so Spark and DuckDB agree bit-for-bit (this is why the
    weighted sampler is spelled PPS-systematic and not
    Efraimidis-Spirakis u^(1/w) keys — a top-K cut on libm pow/ln
    doubles is a cross-engine float decision boundary).

    Scale: the cumulative sum is the repo's two-phase bucketed cumsum
    (bucket = doc_id div 256; raw-data window carries its bucket key,
    offsets come from the broadcast ``bucket_offsets`` table whose own
    window runs over the bounded per-bucket aggregate) — never a
    single-task global window.  Int64 headroom: K·T overflows only
    past T ≈ 3.7e17 total chars (~370 PB of text at 1 B/char); past
    that, widen to DECIMAL(38,0).  K=25 spaced points over ~100 TB is
    one output row per ~4 TB — K in practice scales with the target
    sample, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    K = 25
    b = d.withColumn("bucket", F.expr("doc_id div 256"))
    offs = bucket_offsets(b, [], "bucket", F.col("n_chars"), total_alias="t")
    local = F.sum("n_chars").over(
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = b.join(F.broadcast(offs), "bucket").select(
        "doc_id",
        "lang",
        "n_chars",
        "t",
        (F.col("offset") + local).alias("cum"),
    )
    hi = F.expr(f"({K} * cum) div t")
    lo = F.expr(f"({K} * (cum - n_chars)) div t")
    return cum.filter(hi > lo).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        hi.cast("bigint").alias("pick_index"),
    )
