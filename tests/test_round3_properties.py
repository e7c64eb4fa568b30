"""Semantic invariants for the round-3 curation operators.

The oracle gate proves cross-engine equality; these tests prove the
operators mean what they claim — properties that would survive even if
both engines shared a bug.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.plans import QUERIES  # must precede any direct operator import
from project_fauna_spark.operators.curation import _SEM_TAU, _grouped_ntile

SF = "/root/testdata/sf0.01"


def test_exact_substring_shares_are_valid_and_symmetric(spark):
    """dup counts are bounded by gram counts; a gram flagged duplicated
    for one document must be flagged in every document containing it."""
    out = QUERIES["dedup_exact_substring"](spark, SF)
    assert out.filter(
        (F.col("n_dup_grams") > F.col("n_grams"))
        | (F.col("dup_share") < 0)
        | (F.col("dup_share") > 1)
    ).count() == 0
    # every document with >= 8 tokens appears exactly once
    d = load_table(spark, SF, "documents").filter(
        F.size(F.split("text", " ")) >= 8
    )
    assert out.count() == d.count()


def test_exact_substring_detects_injected_duplicate(spark):
    """Two documents sharing a verbatim 8-token run must both report
    at least one duplicated gram."""
    docs = load_table(spark, SF, "documents").limit(0)
    probe = docs.sparkSession.createDataFrame(
        [
            (900001, "a b c d e f g h unique1 tail1", "en", "t", 1),
            (900002, "lead2 a b c d e f g h unique2", "en", "t", 1),
            (900003, "no overlap here at all nine words pad", "en", "t", 1),
        ],
        docs.schema,
    )
    from project_fauna_spark.operators.curation import _token_grams

    g = probe.select("doc_id", F.explode(_token_grams(F.col("text"))).alias("gram"))
    c = g.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (
        g.join(c, "gram")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias("nd"))
        .collect()
    )
    by_id = {r["doc_id"]: r["nd"] for r in dup}
    assert by_id[900001] >= 1 and by_id[900002] >= 1
    assert by_id[900003] == 0


def test_grouped_ntile_matches_global_window_spelling(spark):
    """The distributed per-group NTILE is bit-identical to the plain
    ntile window over every group."""
    d = load_table(spark, SF, "documents").select("doc_id", "lang", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    got = _grouped_ntile(d, "lang", order, 5, "b")
    w = W.partitionBy("lang").orderBy(*order)
    want = d.withColumn("b", F.ntile(5).over(w).cast("long"))
    assert got.select("doc_id", "b").exceptAll(want.select("doc_id", "b")).count() == 0
    assert want.select("doc_id", "b").exceptAll(got.select("doc_id", "b")).count() == 0


def test_ccnet_buckets_are_balanced_per_lang(spark):
    """Tertile sizes within a language differ by at most one, and the
    head bucket's scores dominate the tail bucket's."""
    out = QUERIES["llm_ccnet_buckets"](spark, SF).cache()
    sizes = out.groupBy("lang", "bucket").count()
    spread = sizes.groupBy("lang").agg(
        (F.max("count") - F.min("count")).alias("d"), F.count(F.lit(1)).alias("nb")
    )
    assert spread.filter((F.col("d") > 1) | (F.col("nb") != 3)).count() == 0
    edges = out.groupBy("lang").pivot("bucket", [1, 3]).agg(
        F.min("lm_score").alias("mn"), F.max("lm_score").alias("mx")
    )
    # min score of the head tertile >= max score of the tail tertile
    assert edges.filter(F.col("1_mn") < F.col("3_mx")).count() == 0
    out.unpersist()


def test_semantic_dedup_keeps_one_representative_per_cell(spark):
    out = QUERIES["dedup_semantic_ivf"](spark, SF).cache()
    # inside the redundant pool of each cell: exactly one keep, and it
    # has the maximal cosine
    red = out.filter(F.col("cos") >= _SEM_TAU)
    per_cell = red.groupBy("cell").agg(
        F.sum(F.when(F.col("action") == "keep", 1).otherwise(0)).alias("keeps"),
        F.max("cos").alias("mx"),
        F.max(F.when(F.col("action") == "keep", F.col("cos"))).alias("kept_cos"),
    )
    assert per_cell.filter(F.col("keeps") != 1).count() == 0
    assert per_cell.filter(F.col("kept_cos") != F.col("mx")).count() == 0
    # below-threshold vectors are never dropped
    assert out.filter(
        (F.col("cos") < _SEM_TAU) & (F.col("action") != "keep")
    ).count() == 0
    # every embedding is accounted for exactly once
    assert out.count() == load_table(spark, SF, "embeddings").count()
    out.unpersist()


def test_mv_incremental_merge_equals_full_recompute(spark):
    """The partial-state merge must equal a cold one-pass aggregate."""
    merged = QUERIES["mv_incremental_merge"](spark, SF)
    o = load_table(spark, SF, "orders")
    full = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast("double").alias("total_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_record_linkage_scores_are_consistent_and_blocked(spark):
    out = QUERIES["link_blocked_records"](spark, SF).cache()
    bad = out.filter(
        F.col("score")
        != 3 * F.col("type_agree") + 2 * F.col("noun_agree") + F.col("price_close")
    )
    assert bad.count() == 0
    assert out.filter(F.col("score") < 3).count() == 0
    assert out.filter(F.col("pk_a") >= F.col("pk_b")).count() == 0
    # every surviving pair really shares brand and size (blocking is sound)
    p = load_table(spark, SF, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = (
        out.join(p.withColumnRenamed("p_partkey", "pk_a"), "pk_a")
        .withColumnRenamed("p_brand", "ba")
        .withColumnRenamed("p_size", "sa")
        .join(p.withColumnRenamed("p_partkey", "pk_b"), "pk_b")
    )
    assert joined.filter(
        (F.col("ba") != F.col("p_brand")) | (F.col("sa") != F.col("p_size"))
    ).count() == 0
    out.unpersist()


def test_benford_shares_sum_to_one_and_cover_all_digits(spark):
    rows = QUERIES["dq_benford_first_digit"](spark, SF).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["expected"] for r in rows) - 1.0) < 1e-9
    assert all(r["abs_dev"] >= 0 for r in rows)


def test_oov_rate_is_zero_iff_all_tokens_in_vocab(spark):
    out = QUERIES["llm_oov_rate"](spark, SF)
    assert out.filter((F.col("n_oov") > F.col("n_tokens")) | (F.col("oov_rate") < 0) | (F.col("oov_rate") > 1)).count() == 0
    zero = out.filter(F.col("oov_rate") == 0.0)
    assert zero.filter(F.col("n_oov") != 0).count() == 0


def test_temporal_scd2_assigns_the_active_tier(spark):
    """Every joined view falls inside its tier interval, and each view
    matches at most one interval (intervals partition time)."""
    out = QUERIES["join_temporal_scd2"](spark, SF).cache()
    assert out.filter(F.col("view_ts") < F.col("tier_since")).count() == 0
    dup = out.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    out.unpersist()


def test_doc_keywords_top3_and_scores_ranked(spark):
    out = QUERIES["text_doc_keywords"](spark, SF).cache()
    per_doc = out.groupBy("doc_id").count()
    assert per_doc.filter(F.col("count") > 3).count() == 0
    w = W.partitionBy("doc_id").orderBy("rk")
    mono = out.withColumn("prev", F.lag("score").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("score") > F.col("prev"))
    )
    assert mono.count() == 0
    out.unpersist()


def test_temperature_mix_boosts_tail_languages(spark):
    """√-share reweighting must raise every below-average language's
    weight above its raw share and lower the top language's."""
    rows = QUERIES["llm_sample_temperature_mix"](spark, SF).collect()
    # zsum is decimal(30,8)-rounded, so the normalization is exact only
    # to ~1e-8 of the true double sum
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-6
    top = max(rows, key=lambda r: r["share"])
    bot = min(rows, key=lambda r: r["share"])
    assert top["weight"] < top["share"]
    assert bot["weight"] > bot["share"]


def test_percent_of_total_sums_to_one_per_region(spark):
    out = QUERIES["window_percent_of_total"](spark, SF)
    s = out.groupBy("region").agg(F.sum("region_share").alias("s"))
    assert s.filter(F.abs(F.col("s") - 1.0) > 1e-9).count() == 0


def test_market_basket_lift_identities(spark):
    rows = QUERIES["q_market_basket_lift"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert 0 < r["support"] <= 1
        assert 0 < r["confidence"] <= 1
        assert r["brand_a"] < r["brand_b"]
        # lift = confidence / P(b): confidence * N / n_b — consistency via support
        assert r["lift"] > 0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_mmr_first_pick_is_most_relevant_and_diversity_binds(spark):
    rows = {r["rnd"]: r for r in QUERIES["sim_mmr_diversified"](spark, SF).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in rows.values()}) == 5
    # round 1 has the max relevance of all picks
    assert all(rows[1]["rel"] >= rows[r]["rel"] or r == 1 for r in rows)
    # later scores are penalized: score <= rel/2 for r >= 2 iff max-sim >= 0
    for r in range(2, 6):
        assert rows[r]["score"] <= 0.5 * rows[r]["rel"] + 1e-12 or rows[r]["score"] <= rows[r]["rel"]


def test_minhash_md5_candidates_have_high_jaccard_signal(spark):
    """Candidate pairs are symmetric-free (a<b), band counts bounded by
    the band count, and sharing all 4 bands implies a higher mean
    Jaccard than sharing just one (the LSH S-curve)."""
    out = QUERIES["dedup_minhash_md5"](spark, SF).cache()
    assert out.filter((F.col("n_bands") < 1) | (F.col("n_bands") > 4)).count() == 0
    assert out.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert out.filter((F.col("jaccard") < 0) | (F.col("jaccard") > 1)).count() == 0
    means = {
        r["n_bands"]: r["mj"]
        for r in out.groupBy("n_bands").agg(F.avg("jaccard").alias("mj")).collect()
    }
    if 1 in means and 4 in means:
        assert means[4] >= means[1]
    out.unpersist()


def test_bpe_encode_compresses_and_conserves(spark):
    """BPE tokens never exceed char count, never undercut word count,
    and the compression ratio is consistent with the counts."""
    out = QUERIES["llm_bpe_encode_corpus"](spark, SF).cache()
    assert out.filter(F.col("n_bpe_tokens") > F.col("n_chars")).count() == 0
    assert out.filter(F.col("n_bpe_tokens") < F.col("n_words")).count() == 0
    bad = out.filter(
        F.abs(
            F.col("chars_per_token")
            - F.col("n_chars").cast("double") / F.col("n_bpe_tokens")
        )
        > 0
    )
    assert bad.count() == 0
    # 3 merges must actually compress somewhere (tokens < chars overall)
    tot = out.agg(F.sum("n_bpe_tokens").alias("t"), F.sum("n_chars").alias("c")).collect()[0]
    assert tot["t"] < tot["c"]
    out.unpersist()


def test_freshness_lag_zero_for_globally_newest_type(spark):
    rows = QUERIES["dq_freshness_lag"](spark, SF).collect()
    assert min(r["lag_minutes"] for r in rows) == 0
    assert all(r["lag_minutes"] >= 0 for r in rows)
    for r in rows:
        assert r["is_stale"] == (r["lag_minutes"] > 60)


def test_semi_additive_balance_counts_each_customer_once_per_month(spark):
    out = QUERIES["q_semi_additive_snapshot"](spark, SF)
    o = load_table(spark, SF, "orders")
    per_month_customers = (
        o.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
            "o_custkey",
        )
        .distinct()
        .groupBy("month")
        .count()
    )
    j = out.join(per_month_customers, "month")
    assert j.filter(F.col("n_accounts") != F.col("count")).count() == 0


def test_ann_recall_audit_bounds_and_query_set(spark):
    rows = QUERIES["sim_ann_recall_audit"](spark, SF).collect()
    n_queries = (
        load_table(spark, SF, "embeddings").filter(F.col("vec_id") % 50 == 0).count()
    )
    assert len(rows) == n_queries
    for r in rows:
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_5"] == r["n_hits"] / 5
    # the IVF index must beat random guessing somewhere
    assert any(r["n_hits"] > 0 for r in rows)


def test_k_anonymity_k_is_the_min_group_size(spark):
    rows = QUERIES["dq_k_anonymity"](spark, SF).collect()
    k = rows[0]["k_anonymity"]
    assert all(r["k_anonymity"] == k for r in rows)
    assert min(r["group_size"] for r in rows) == k
    for r in rows:
        assert r["violates_k5"] == (r["group_size"] < 5)
    # classes partition the table
    total = sum(r["group_size"] for r in rows)
    assert total == load_table(spark, SF, "customer").count()


def test_key_skew_profile_is_top10_descending(spark):
    rows = QUERIES["dq_key_skew_profile"](spark, SF).collect()
    assert sorted(r["rk"] for r in rows) == list(range(1, 11))
    by_rank = sorted(rows, key=lambda r: r["rk"])
    ns = [r["n"] for r in by_rank]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert 0 < r["share"] < 1
        assert r["skew_ratio"] >= 1.0  # top keys are at least average


def test_standardize_audit_moments_are_sane(spark):
    rows = QUERIES["ml_standardize_audit"](spark, SF).collect()
    n_dims = len(rows)
    assert n_dims == 64
    for r in rows:
        assert r["std"] > 0
        assert 0 <= r["n_outliers_3sigma"] <= r["n"]
        assert abs(r["mean"]) < 1.0


def test_cross_modal_agreement_pairs_are_top_jaccard(spark):
    out = QUERIES["dedup_cross_modal_agreement"](spark, SF).cache()
    rows = out.collect()
    assert 0 < len(rows) <= 100
    for r in rows:
        assert 0 < r["jaccard"] <= 1
        assert -1.0 <= r["cos"] <= 1.0
        assert r["semantic_agree"] == (r["cos"] >= 0.2)
        assert r["doc_a"] < r["doc_b"]
    out.unpersist()


def test_knn_classify_eval_covers_all_queries_once(spark):
    rows = QUERIES["ml_knn_classify_eval"](spark, SF).collect()
    assert sum(r["n"] for r in rows) == 50
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n"]
        assert r["accuracy"] == r["n_correct"] / r["n"]


def test_e2e_dataset_build_token_shares_partition(spark):
    rows = QUERIES["llm_e2e_dataset_build"](spark, SF).collect()
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["n_docs"] > 0 and r["n_tokens"] >= 20 * r["n_docs"]
        assert r["total_chars"] >= 100 * r["n_docs"]


def test_token_grams_differential_python(spark):
    """_token_grams == the obvious Python sliding window, including
    edge cases around short texts and repeated tokens."""
    from project_fauna_spark.operators.curation import _token_grams

    texts = [
        "a b c d e f g h i j",
        "a a a a a a a a",
        "one two three four five six seven",  # 7 tokens -> no 8-gram
        "x " * 40,
        "solo",
        "",
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r["i"]: list(r["g"])
        for r in df.select("i", _token_grams(F.col("t")).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        ws = t.strip().split(" ") if t.strip() else [""]
        want = [" ".join(ws[j : j + 8]) for j in range(len(ws) - 7)]
        assert got[i] == want, (i, got[i][:3], want[:3])


def test_h32_matches_python_md5_fold(spark):
    """functions.wordhash.h32 == int(md5_hex[:8], 16) computed in Python."""
    import hashlib

    from project_fauna_spark.functions.wordhash import h32 as _h32

    words = ["alpha", "beta gamma", "", "ümlaut", "x" * 100]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["h"]
        for r in df.select("w", _h32(F.col("w"), "mh3:").alias("h")).collect()
    }
    for w in words:
        want = int(hashlib.md5(("mh3:" + w).encode("utf-8")).hexdigest()[:8], 16)
        assert got[w] == want, w


def test_concurrency_gauge_covers_days_and_is_positive(spark):
    rows = QUERIES["event_concurrency_gauge"](spark, SF).collect()
    assert all(r["max_concurrency"] >= 1 for r in rows)
    # peak concurrency can never exceed the number of distinct users
    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    assert max(r["max_concurrency"] for r in rows) <= n_users


def test_distributed_cumsum_matches_window_spelling(spark):
    from project_fauna_spark.operators.eventseries import _distributed_cumsum

    d = load_table(spark, SF, "events").select(
        "event_id", (F.when(F.col("event_id") % 2 == 0, 1).otherwise(-1)).alias("v")
    )
    got = _distributed_cumsum(d, [F.col("event_id")], "v", "cs")
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = d.withColumn("cs", F.sum("v").over(w).cast("long"))
    assert got.select("event_id", "cs").exceptAll(want.select("event_id", "cs")).count() == 0
    assert want.select("event_id", "cs").exceptAll(got.select("event_id", "cs")).count() == 0


def test_completeness_spine_is_contiguous(spark):
    rows = sorted(
        QUERIES["dq_completeness_by_day"](spark, SF).collect(), key=lambda r: r["day"]
    )
    import datetime

    days = [datetime.date.fromisoformat(r["day"]) for r in rows]
    assert all((b - a).days == 1 for a, b in zip(days, days[1:]))
    for r in rows:
        assert r["is_gap"] == (r["n_events"] == 0)


def test_position_attribution_conserves_credit(spark):
    """Total credit across channels equals the number of purchases
    that have at least one prior-7-day touch."""
    rows = QUERIES["event_position_attribution"](spark, SF).collect()
    total_credit = sum(r["total_credit"] for r in rows)
    e = load_table(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("conv_ts"),
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts")
    )
    with_touch = (
        p.join(
            t,
            (F.col("t_user") == F.col("p_user"))
            & (F.col("t_ts") <= F.col("conv_ts"))
            & (F.col("t_ts") >= F.col("conv_ts") - F.expr("interval 7 days")),
            "left_semi",
        ).count()
    )
    assert abs(total_credit - with_touch) < 1e-6


def test_abc_classes_partition_and_order(spark):
    out = QUERIES["q_abc_pareto_classification"](spark, SF).cache()
    # cum_share is within (0, 1]; classes follow the thresholds
    assert out.filter((F.col("cum_share") <= 0) | (F.col("cum_share") > 1.0000001)).count() == 0
    bad = out.filter(
        ((F.col("cum_share") <= 0.8) & (F.col("abc_class") != "A"))
        | ((F.col("cum_share") > 0.8) & (F.col("cum_share") <= 0.95) & (F.col("abc_class") != "B"))
        | ((F.col("cum_share") > 0.95) & (F.col("abc_class") != "C"))
    )
    assert bad.count() == 0
    # every part with lineitem revenue appears exactly once
    li = load_table(spark, SF, "lineitem").select("l_partkey").distinct()
    assert out.count() == li.count()
    # A-parts each have revenue >= any C-part (Pareto ordering)
    mins = out.groupBy("abc_class").agg(F.min("revenue").alias("mn"), F.max("revenue").alias("mx")).collect()
    by = {r["abc_class"]: r for r in mins}
    if "A" in by and "C" in by:
        assert by["A"]["mn"] >= by["C"]["mx"]
    out.unpersist()


def test_uniqueness_audit_verdicts(spark):
    rows = {r["column_name"]: r for r in QUERIES["dq_uniqueness_audit"](spark, SF).collect()}
    assert rows["o_orderkey"]["is_unique"] is True
    assert rows["o_orderstatus"]["is_unique"] is False
    for r in rows.values():
        assert r["n_distinct"] <= r["n"]
        assert r["is_unique"] == (r["n"] == r["n_distinct"])


def test_new_vs_returning_partitions_dau(spark):
    """new + returning per day == distinct active users per day, and
    the sum of new users over all days == total distinct users."""
    out = QUERIES["event_new_vs_returning"](spark, SF).cache()
    e = load_table(spark, SF, "events")
    dau = (
        e.select(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .count()
    )
    j = out.join(dau, "day")
    assert j.filter(
        F.col("new_users") + F.col("returning_users") != F.col("count")
    ).count() == 0
    total_new = out.agg(F.sum("new_users")).collect()[0][0]
    assert total_new == e.select("user_id").distinct().count()
    out.unpersist()


def test_interarrival_gaps_are_positive_and_bounded(spark):
    out = QUERIES["event_interarrival_stats"](spark, SF)
    assert out.filter(F.col("min_gap_us") < 0).count() == 0
    assert out.filter(
        (F.col("mean_gap_us") < F.col("min_gap_us"))
        | (F.col("mean_gap_us") > F.col("max_gap_us"))
    ).count() == 0


def test_seasonal_naive_backtest_is_single_row_with_sane_errors(spark):
    rows = QUERIES["ts_seasonal_naive_backtest"](spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] > 0
    assert 0 <= r["mae"] <= r["worst_abs_err"]
    assert r["mape"] >= 0
