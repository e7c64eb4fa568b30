"""Round-5 additions: plan and property pins.

- the bucketed co-located join must actually be exchange-free at the
  join (the point of paying the bucketed write);
- the exact covariance must agree with numpy to the last ulp-ish
  (the decimal accumulation makes Spark deterministic; numpy is the
  independent reference within fp tolerance);
- the bound-style booleans added in round 5 must be computed honestly
  (TRUE on real data, and the zero-guards must not throw on empty
  inputs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kind, kinds, names, nodes, plan_of

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange_at_join(spark):
    plan = plan_of(QUERIES["join_bucketed_colocate"](spark, SF))
    assert "SortMergeJoinExec" in kinds(plan)
    scans = [n for n in nodes(plan) if kind(n) == "FileSourceScanExec"]
    assert [s.bucketedScan() for s in scans] == [True, True], "both scans must use bucketing"
    # Exactly one Exchange node — the post-join partial-agg shuffle on
    # o_orderpriority; the join inputs themselves are satisfied by the
    # bucketed layout.
    (exchange,) = [n for n in nodes(plan) if kind(n) == "ShuffleExchangeExec"]
    keys = names(exchange.outputPartitioning())
    assert keys == {"o_orderpriority"}, keys


def test_pca_covariance_matches_numpy(spark):
    import numpy as np
    import pyarrow.parquet as pq

    out = {
        (r["dim_i"], r["dim_j"]): r["cov"]
        for r in QUERIES["ml_pca_covariance"](spark, SF_SMOKE).collect()
    }
    assert len(out) == 36
    emb = np.array(
        pq.read_table(f"{SF_SMOKE}/embeddings.parquet").column("embedding").to_pylist(),
        dtype=np.float64,
    )[:, :8]
    ref = np.cov(emb, rowvar=False)  # sample covariance, ddof=1
    for (i, j), v in out.items():
        assert abs(v - ref[i - 1][j - 1]) < 1e-9, (i, j, v, ref[i - 1][j - 1])


def test_unigram_lm_score_bounds(spark):
    rows = QUERIES["llm_unigram_lm_score"](spark, SF_SMOKE).collect()
    from project_fauna_spark.io import load_table

    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs  # one per doc
    for r in rows:
        # every token occurs at least once (itself), at most T times
        assert r["n_tokens"] <= r["sum_token_count"]
        assert 0.0 < r["mean_token_prob"] <= 1.0


def test_sentence_stats_consistency(spark):
    rows = QUERIES["text_sentence_stats"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["n_sentences"] >= 1
        assert r["max_sentence_tokens"] <= r["n_tokens"]
        assert abs(r["avg_sentence_tokens"] - r["n_tokens"] / r["n_sentences"]) == 0.0


def test_approx_percentile_band_is_true_on_real_data(spark):
    rows = QUERIES["agg_approx_percentile_bound"](spark, SF).collect()
    assert len(rows) == 3
    assert all(r["approx_rank_in_band"] for r in rows)


def test_round5_bound_booleans_true_on_real_data(spark):
    """The six r5 bound-style conversions must compute TRUE honestly."""
    for name, bool_cols in [
        ("dedup_minhash_lsh", ["lsh_all_verified", "lsh_recall_ge_half", "minhash_est_bounded"]),
        ("ml_brp_lsh_neighbors", ["pairs_within_threshold", "recall_ge_0_7"]),
    ]:
        row = QUERIES[name](spark, SF).collect()[0]
        for c in bool_cols:
            assert row[c] is True, (name, c)


def test_recall_guards_survive_empty_truth(spark):
    """Zero-guard rule (ADVICE r4): an empty truth/pair set must yield
    NULL-or-TRUE, never a DIVIDE_BY_ZERO throw under ANSI mode."""
    rows = QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    assert len(rows) == 1  # tiny corpus may or may not have pairs; no throw
    rows = QUERIES["ml_minhash_lsh"](spark, SF_SMOKE).collect()
    assert len(rows) == 1


def test_bucketed_tables_content_keyed_and_reused(spark):
    """Bucket layouts are content-keyed (sf_dir + source fingerprint):
    repeated invocations — and foreign sessions on the same testdata —
    reuse ONE published layout instead of each leaking an app-keyed
    copy (VERDICT r5).  Concurrent writers stay safe via the private
    staging dir + atomic os.rename publish."""
    import os
    import tempfile

    QUERIES["join_bucketed_colocate"](spark, SF_SMOKE)
    hits = [t.name for t in spark.catalog.listTables() if t.name.startswith("b_orders_")]
    assert hits, "bucketed table not registered"
    # Second call must not create another table or another layout dir.
    QUERIES["join_bucketed_colocate"](spark, SF_SMOKE)
    hits2 = [t.name for t in spark.catalog.listTables() if t.name.startswith("b_orders_")]
    assert hits2 == hits
    root = os.path.join(tempfile.gettempdir(), "fauna_buckets")
    key = SF_SMOKE.strip("/").replace("/", "_").replace(".", "_")
    layouts = [d for d in os.listdir(root) if d.startswith(f"{key}_")]
    assert len(layouts) == 1, f"expected one layout per generation, got {layouts}"
    assert not [d for d in os.listdir(root) if d.startswith("staging_")], (
        "staging dir leaked past publish"
    )


def test_mixture_weights_rebalance_exactly(spark):
    """weight × actual_share must equal the uniform target share."""
    rows = QUERIES["llm_domain_mixture_weights"](spark, SF).collect()
    n_langs = len(rows)
    for r in rows:
        assert abs(r["sampling_weight"] * r["actual_share"] - 1.0 / n_langs) < 1e-12
    assert abs(sum(r["actual_share"] for r in rows) - 1.0) < 1e-12


def test_compaction_plan_invariants(spark):
    rows = QUERIES["layout_compaction_plan"](spark, SF).collect()
    for r in rows:
        assert r["target_files"] >= 1
        # files × rows_per_file covers the partition without overshooting
        # by more than one file's worth
        assert r["target_files"] * r["rows_per_file"] >= r["n_rows"]
        assert (r["target_files"] - 1) * r["rows_per_file"] < r["n_rows"]


def test_distribution_drift_shares_sum_to_one(spark):
    rows = QUERIES["dq_distribution_drift"](spark, SF).collect()
    assert abs(sum(r["p_a"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["p_b"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["chi2_component"] >= 0.0


def test_common_neighbors_symmetric_bounds(spark):
    rows = QUERIES["graph_common_neighbors"](spark, SF).collect()
    for r in rows:
        assert r["node_a"] < r["node_b"]
        assert 0.0 < r["neighbor_jaccard"] <= 1.0
