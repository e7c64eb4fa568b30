"""Physical-plan assertions: the plans must BE the scale-correct
plans, not merely produce correct rows.

These tests walk the plans with ``plans/lint`` (no execution beyond
planning) and pin the properties the 100 TB design depends on:
predicate pushdown into parquet, column pruning, broadcast of dims,
top-k via TakeOrderedAndProject, window-group-limit pushdown, and the
absence of Python evaluation in pure-expression operators.
"""

from __future__ import annotations

import re

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import (
    GLOBAL_WINDOW_ALLOWED,
    global_windows,
    is_python,
    kind,
    kinds,
    names,
    nodes,
    plan_of,
    seq,
    sf_scaling,
)

SF = "/root/testdata/sf0.01"
NESTED_LOOPS = {"CartesianProductExec", "BroadcastNestedLoopJoinExec"}


def physical(spark, name: str):
    return plan_of(QUERIES[name](spark, SF))


def of_kind(plan, k: str) -> list:
    return [n for n in nodes(plan) if kind(n) == k]


def join_types(plan) -> set[str]:
    return {n.joinType().toString() for n in nodes(plan) if kind(n).endswith("JoinExec")}


def data_filter_columns(plan) -> set[str]:
    """Columns the parquet scans' data filters (pushed to the reader)
    reference."""
    return {
        c
        for scan in of_kind(plan, "FileSourceScanExec")
        for f in seq(scan.dataFilters())
        for c in names(f)
    }


# The registry-wide lints each need every query's plan; building
# 396 DataFrames costs ~2.5 min per walk, so they share ONE cache of
# (analyzed, optimized, executed) plans built on first use.
_REGISTRY_PLANS: dict[str, tuple] = {}


def _registry_plans(spark) -> dict[str, tuple]:
    if _REGISTRY_PLANS:
        return _REGISTRY_PLANS
    from project_fauna_spark.cache import release_cached

    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF)
        release_cached()  # plan-only walk; don't pin caches session-wide
        qe = df._jdf.queryExecution()
        _REGISTRY_PLANS[name] = (qe.analyzed(), qe.optimizedPlan(), qe.executedPlan())
    return _REGISTRY_PLANS


def test_filter_pushdown_to_parquet(spark):
    # The shipdate range must reach the scan (row-group pruning).
    assert "l_shipdate" in data_filter_columns(physical(spark, "q_revenue_forecast"))


def test_column_pruning(spark):
    # The scan must read only the two projected columns.
    (scan,) = of_kind(physical(spark, "sort_limit_global"), "FileSourceScanExec")
    read = {a.name() for a in seq(scan.output())}
    assert {"o_orderkey", "o_totalprice"} <= read
    assert not read & {"o_orderdate", "o_orderstatus"}


def test_dim_joins_broadcast(spark):
    k = kinds(physical(spark, "join_broadcast_chain"))
    assert k["BroadcastHashJoinExec"] >= 2 and "CartesianProductExec" not in k  # nation + region


def test_global_topk_avoids_full_sort(spark):
    plan = physical(spark, "sort_limit_global")
    assert "TakeOrderedAndProjectExec" in kinds(plan)
    assert not [  # no global sort
        x
        for x in of_kind(plan, "ShuffleExchangeExec")
        if kind(x.outputPartitioning()) == "RangePartitioning"
    ]


def test_per_group_topk_uses_window_group_limit(spark):
    assert "WindowGroupLimitExec" in kinds(physical(spark, "topk_per_group"))


def test_pure_expression_ops_have_no_python(spark):
    # These are claimed UDF-free: no Python evaluation anywhere.
    for name in [
        "ref_split_friends",
        "ref_epoch_normalize",
        "text_fingerprint",
        "dedup_ngram_jaccard",
        "sim_knn_brute_cosine",
        "agg_pricing_summary",
    ]:
        assert not [kind(n) for n in nodes(physical(spark, name)) if is_python(n)], name


def test_no_rowwise_python_udf_anywhere(spark):
    """Repo invariant: NO registered query may contain a row-at-a-time
    Python UDF (BatchEvalPython).  Arrow-batched stages
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
    only sanctioned Python evaluation."""
    offenders = [
        name
        for name, (_, _, plan) in _registry_plans(spark).items()
        if "BatchEvalPythonExec" in kinds(plan)
    ]
    assert offenders == [], offenders


def test_pandas_stages_are_arrow_not_rowwise(spark):
    k = kinds(physical(spark, "udf_pandas_scalar"))
    assert "ArrowEvalPythonExec" in k and "BatchEvalPythonExec" not in k, k


def test_asof_join_is_single_shuffle_window(spark):
    # One hash partitioning exchange on the key; window over it; no join node.
    k = kinds(physical(spark, "join_asof_latest_order"))
    assert "WindowExec" in k
    assert "SortMergeJoinExec" not in k and "BroadcastHashJoinExec" not in k
    assert k["ShuffleExchangeExec"] == 1, k


def _max_pin_reads(spark, name: str) -> int:
    """Most reads of any ONE cached relation in the query's physical
    plan (pins nested inside other pins included): ``nodes`` yields a
    pin's InMemoryRelation once per scan of it."""
    pins = [n.cacheBuilder() for n in of_kind(physical(spark, name), "InMemoryRelation")]
    return max((sum(p.equals(q) for q in pins) for p in pins), default=0)


def test_corpus_clean_reuses_cached_intermediate(spark):
    """The cleaned corpus must be computed once (cache), not 3×: one
    cached relation is read by at least two consumers."""
    assert _max_pin_reads(spark, "llm_corpus_clean") >= 2


def test_dedup_self_joins_use_cache(spark):
    """Self-joined dedup intermediates must come from the cache: one
    cached relation is read by at least two consumers."""
    for name in ["dedup_ngram_jaccard", "dedup_minhash_lsh"]:
        assert _max_pin_reads(spark, name) >= 2, name


def test_q6_pushes_all_predicates(spark):
    pushed = data_filter_columns(physical(spark, "q_revenue_forecast"))
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, col


def test_round2_decorrelated_subqueries_are_joins(spark):
    """EXISTS/NOT EXISTS shapes must plan as semi/anti joins —
    never nested-loop subquery evaluation."""
    assert "LeftSemi" in join_types(physical(spark, "q_order_priority_count"))
    assert "LeftAnti" in join_types(physical(spark, "q_dormant_rich_customers"))
    assert "LeftAnti" in join_types(physical(spark, "q_supplier_part_variety"))


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The SQL-standard LATERAL LIMIT subquery must reach the same
    WindowGroupLimit physical plan as the DataFrame top-k — the whole
    point of expressing it declaratively."""
    k = kinds(physical(spark, "sql_lateral_topn"))
    assert "WindowGroupLimitExec" in k and "CartesianProductExec" not in k, k


def test_reservoir_sample_uses_window_group_limit(spark):
    assert "WindowGroupLimitExec" in kinds(physical(spark, "sample_reservoir_hash"))


def test_ohlc_is_pure_aggregate_no_window(spark):
    """Struct-ordered open/close keep OHLC an aggregate (partial+final
    SortAggregate — struct-typed min/max buffers are sort-based), never
    a window pass: one exchange on the bucket key, no per-group event
    buffering."""
    k = kinds(physical(spark, "ts_ohlc_downsample"))
    assert "SortAggregateExec" in k or "HashAggregateExec" in k
    assert not [c for c in k if c.startswith("Window")], k
    assert k["ShuffleExchangeExec"] == 1, k


def test_sessionize_windows_share_one_exchange(spark):
    """lag + running-sum + final agg must reuse a single user_id
    exchange (all three are (user_id)-compatible)."""
    k = kinds(physical(spark, "event_sessionize_lag_cumsum"))
    assert k["ShuffleExchangeExec"] == 1, k


def test_pagerank_has_no_cartesian_or_collect(spark):
    assert not NESTED_LOOPS & set(kinds(physical(spark, "graph_pagerank_trade")))


def _dpp_scans(plan) -> list:
    """Scans whose partition filters carry a dynamic pruning subquery."""
    return [
        s
        for s in of_kind(plan, "FileSourceScanExec")
        if any(kind(f) == "DynamicPruningExpression" for f in seq(s.partitionFilters()))
    ]


def test_dpp_query_prunes_fact_partitions(spark):
    """The partitioned-fact join must carry a dynamic pruning
    subquery in the fact scan's partition filters."""
    assert _dpp_scans(physical(spark, "join_dynamic_partition_pruning"))


def test_walker_reaches_dpp_subquery_scan(spark):
    """``nodes`` must follow expression subqueries, as explain prints
    them: the DPP filter's build plan, with its own dimension scan,
    hangs off the fact scan's partition filter, outside the children
    tree.  A registry-wide lint that skipped it would quietly check
    less than the text it replaced."""
    plan = physical(spark, "join_dynamic_partition_pruning")
    (fact,) = _dpp_scans(plan)
    (sub,) = seq(fact.subqueries())
    assert "FileSourceScanExec" in kinds(sub)
    walked = [kind(n) for n in nodes(plan)]
    assert kind(sub) in walked, walked
    assert walked.count("FileSourceScanExec") == 3, walked  # fact, dim, DPP build


def test_exact_substring_no_cartesian_no_python(spark):
    k = kinds(physical(spark, "dedup_exact_substring"))
    assert "FileSourceScanExec" in k
    assert not {"CartesianProductExec", "BatchEvalPythonExec"} & set(k), k


def _window_specs(plan) -> list[tuple[set, set]]:
    """(partition-spec columns, order-spec columns) of each WindowExec."""
    return [
        (
            set().union(*map(names, seq(w.partitionSpec()))),
            set().union(*map(names, seq(w.orderSpec()))),
        )
        for w in of_kind(plan, "WindowExec")
    ]


def test_window_partition_spec_detects_global_window(spark):
    """Negative control: a deliberately global ntile must read as an
    empty partitionSpec, a partitioned one as non-empty — otherwise the
    ccnet pin is vacuous."""
    from pyspark.sql import Window as W, functions as F

    df = spark.range(10).withColumn("r", F.ntile(3).over(W.orderBy("id")))
    assert [w.partitionSpec().isEmpty() for w in of_kind(plan_of(df), "WindowExec")] == [True]
    df2 = spark.range(10).withColumn(
        "r", F.ntile(3).over(W.partitionBy((F.col("id") % 2)).orderBy("id"))
    )
    assert [w.partitionSpec().isEmpty() for w in of_kind(plan_of(df2), "WindowExec")] == [False]


def test_ccnet_buckets_has_no_global_window(spark):
    """Every Window in the distributed-ntile plan must carry partition
    expressions — no single-task global window stage."""
    plan = physical(spark, "llm_ccnet_buckets")
    windows = of_kind(plan, "WindowExec")
    assert windows, "expected at least one Window node"
    assert not [w for w in windows if w.partitionSpec().isEmpty()], _window_specs(plan)


def test_market_basket_broadcasts_counts_and_takes_ordered(spark):
    k = kinds(physical(spark, "q_market_basket_lift"))
    assert "TakeOrderedAndProjectExec" in k and "BroadcastHashJoinExec" in k, k


def test_minhash_md5_band_join_is_hash_join(spark):
    assert not NESTED_LOOPS & set(kinds(physical(spark, "dedup_minhash_md5")))


def test_temporal_scd2_join_is_keyed_not_cartesian(spark):
    assert not NESTED_LOOPS & set(kinds(physical(spark, "join_temporal_scd2")))


def test_semantic_ivf_codebook_broadcasts(spark):
    k = kinds(physical(spark, "dedup_semantic_ivf"))
    assert "BroadcastNestedLoopJoinExec" in k or "BroadcastHashJoinExec" in k
    assert "CartesianProductExec" not in k


def _raw_windows_carry_bucket(spark, name, row_col, bucket_col):
    """Every window that orders by the row-level column ``row_col``
    partitions by ``bucket_col`` too; there is at least one."""
    specs = _window_specs(physical(spark, name))
    row_specs = [(part, order) for part, order in specs if row_col in order]
    assert row_specs, f"{name}: no window orders by {row_col}?"
    for part, order in row_specs:
        assert bucket_col in part, (
            f"{name}: raw-data window lost its {bucket_col} de-skew key: {part} / {order}"
        )


def test_two_phase_ranks_never_funnel_raw_data(spark):
    """Round-6 de-skew claim: the row-level rank windows (the ones that
    see the raw table) must partition by (key, bucket), never the
    low-cardinality key alone — only the tiny per-bucket offset tables
    may window on the bare key.  Pinned by asserting the spec that
    orders by the row-level sort column also carries its bucket key."""
    for case in [
        ("event_time_to_convert", "latency_sec", "bkt"),
        ("llm_microbatch_padding", "doc_id", "sub"),
        ("agg_approx_percentile_bound", "l_extendedprice", "bucket"),
        ("agg_weighted_median", "l_extendedprice", "bkt"),
    ]:
        _raw_windows_carry_bucket(spark, *case)


def test_round6_late_bucketed_windows_carry_bucket_key(spark):
    """Batches 27/28/33: raw-data adjacent-diff / rank windows must
    carry their bucket key (same de-skew rule as the two-phase ranks);
    the only bare-key windows allowed are over the tiny bucket-summary
    frame (those order by bucket, not the row column)."""
    for case in [
        ("sample_systematic_stride", "hv", "bucket"),
        ("dq_sequence_gap_audit", "key", "bucket"),
        ("ts_stream_gap_audit", "us", "bucket"),
    ]:
        _raw_windows_carry_bucket(spark, *case)


def test_round6_late_joins_never_cartesian(spark):
    for name in (
        "event_audience_overlap",
        "sim_hard_negative_mining",
        "graph_kcore_peel",
        "sim_metric_rank_agreement",
        "graph_degree_assortativity",
        "event_time_decay_attribution",
    ):
        assert "CartesianProductExec" not in kinds(physical(spark, name)), name


def test_fim_split_plan_is_shuffle_free(spark):
    """llm_fim_split_plan is pure per-row expression work — the plan
    must contain NO exchange and NO Python evaluation at all."""
    walked = list(nodes(physical(spark, "llm_fim_split_plan")))
    assert not [kind(n) for n in walked if kind(n).endswith("ExchangeExec") or is_python(n)]


def test_phash_and_signal_use_arrow_not_rowwise(spark):
    for name, marker in (
        ("mm_phash_dedup", "MapInPandasExec"),
        ("udf_grouped_agg_median", "ArrowAggregatePythonExec"),
    ):
        k = kinds(physical(spark, name))
        assert marker in k and "BatchEvalPythonExec" not in k, (name, k)


def test_no_forced_broadcast_of_sf_scaling_tables(spark):
    """Repo invariant (round-7): a forced F.broadcast() hint may only
    wrap a BOUNDED-cardinality frame (nation/region, codebooks, offset
    tables, aggregates, probe sets).  Hinting a frame that scales with
    SF (part / supplier / customer / orders / lineitem projections or
    filters) forces a build side that blows Spark's 8 GB broadcast
    ceiling at large SF and disables AQE's fallback — a hard failure at
    the 100 TB target, while buying nothing at bench scale where AQE
    would broadcast anyway.

    Heuristic: walk every registered query's ANALYZED plan; for each
    broadcast ResolvedHint, the hinted subtree is bounded iff it
    contains an Aggregate / GlobalLimit node (its output keyspace, not
    the scan, is what ships), a Deduplicate whose dedup KEYS reference
    no SF-scaling key column (distinct order-status / calendar months /
    mod-m Bloom positions are domain-bounded; a ``distinct o_custkey``
    still scales with SF and does NOT bound — ADVICE r7), or references
    no SF-scaling TPC-H base column at all.  nation/region columns are
    not markers — those tables are fixed-size by construction.
    """
    offenders = {
        name
        for name, (analyzed, _, _) in _registry_plans(spark).items()
        for node in nodes(analyzed)
        if kind(node) == "ResolvedHint"
        and "broadcast" in node.hints().toString().lower()
        and sf_scaling(node.child())
    }
    assert sorted(offenders) == [], sorted(offenders)


def test_no_global_window_over_sf_scaling_data(spark):
    """Repo invariant (round-8, VERDICT r7 item 3): a Window with an
    EMPTY partitionSpec serializes its entire input through one task —
    the classic scale-killer at 100 TB.  It is legal only when the
    window's input is provably bounded per the shared
    ``subtree_bounded`` rule: an Aggregate / GlobalLimit in the
    subtree (the window runs over a summary frame, e.g. the ≤25-row
    duration-distinct frame in event_survival_km or a bucket-offsets
    table), a Deduplicate over non-SF-scaling keys, or no SF-scaling
    TPC-H base key referenced at all (events/documents/embeddings
    frames are pre-aggregated or SF-invariant slices wherever they meet
    a bare window — pinned per-query below and by the bucketed-window
    tests).

    This converts the per-query pins (`test_ccnet_buckets_has_no_
    global_window`, docstring promises in several operator modules) into a
    registry-wide lint, the same template as
    test_no_forced_broadcast_of_sf_scaling_tables.  plans.lint.
    global_windows IS the detection logic, shared with bench.py's
    warning attribution; window_ntile's SF-invariant global slice is
    the one allowed name (GLOBAL_WINDOW_ALLOWED).
    """
    offenders = [
        name
        for name, (analyzed, _, _) in _registry_plans(spark).items()
        if name not in GLOBAL_WINDOW_ALLOWED and global_windows(analyzed)[1]
    ]
    assert offenders == [], offenders


def test_no_full_width_scans_of_wide_tables(spark):
    """Repo invariant (round-8): every parquet scan of a WIDE table
    (≥5 columns) must be column-pruned — scan output narrower than
    the table — unless the operator provably consumes every column.
    At 100 TB an unpruned lineitem scan reads ~2× the bytes of the
    typical 5-6 column analytical projection; pruning is free when the
    plan is declarative, so a full-width scan means a dropped
    projection (e.g. a ``select('*')`` passthrough before a join).

    This converts the ad-hoc end-of-round scan-width audits (CLAUDE.md
    round-8 notes) into a registry-wide lint over the cached physical
    plans: each scan's ``output()`` width against the width of the
    table named by its ``relation().location()``.

    Allowlist — operators whose semantics consume the full row:
    - link_blocked_records: Fellegi-Sunter linkage blocks on
      (p_brand, p_size) and compares p_type/p_name/p_retailprice with
      p_partkey as the pair id — all 6 of part's 6 columns.
    """
    # Widths come from the LIVE parquet schemas, not a hard-coded map:
    # the driver regenerates /root/testdata between rounds, and a table
    # that gained or lost a column would make a frozen map silently
    # under- or over-trigger (ADVICE r8).
    all_widths = {
        t: len(spark.read.parquet(f"{SF}/{t}.parquet").columns)
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    }
    widths = {t: n for t, n in all_widths.items() if n >= 5}
    allowed = {("link_blocked_records", "part")}
    offenders = set()
    for name, (_, _, plan) in _registry_plans(spark).items():
        for scan in of_kind(plan, "FileSourceScanExec"):
            root = seq(scan.relation().location().rootPaths())
            m = re.search(r"/(\w+)\.parquet", root[0].toString()) if root else None
            n = scan.output().size()
            if m and m.group(1) in widths and n >= widths[m.group(1)]:
                if (name, m.group(1)) not in allowed:
                    offenders.add((name, m.group(1), n))
    assert sorted(offenders) == [], sorted(offenders)


def test_no_cartesian_of_two_sf_scaling_frames(spark):
    """Repo invariant (round-8): a cross join (logical Cross, or Inner
    with no condition) is the all-pairs scale-killer when BOTH inputs
    scale with SF.  Legitimate crosses in this engine always have at
    least one bounded side (a 1-row scalar aggregate, a sweep/spine
    frame, a codebook) that the physical planner broadcasts.  This
    generalizes the per-query CartesianProduct pins to the whole
    registry, with the same bounded-subtree rule as the broadcast and
    global-window lints."""
    offenders = {
        name
        for name, (_, optimized, _) in _registry_plans(spark).items()
        for node in of_kind(optimized, "Join")
        if (
            node.joinType().toString() == "Cross"
            or (node.joinType().toString() == "Inner" and node.condition().isEmpty())
        )
        and sf_scaling(node.left())
        and sf_scaling(node.right())
    }
    assert sorted(offenders) == [], sorted(offenders)
