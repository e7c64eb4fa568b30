"""Round-5 batch-2 property and plan pins.

Each new operator gets an independent-reference or invariant check on
top of the DuckDB parity gate: PQ distances recompute in Python, AUC
recomputes from first principles, OLS agrees with numpy lstsq, the
curriculum conserves tokens, preference pairs order correctly, and the
rule audit's rates reconcile with its own counts.
"""

from __future__ import annotations

from project_fauna_spark.operators.llm_pipeline import _CURRICULUM_BUDGET
from project_fauna_spark.operators.similarity import (
    _pq_codeword,
    _pq_lut,
    _PQ_K,
    _PQ_M,
)
from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kinds, plan_of

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def test_pq_adc_codes_and_distances(spark):
    rows = QUERIES["sim_pq_adc"](spark, SF_SMOKE).collect()
    assert len(rows) == 50
    prev = float("-inf")
    for r in rows:
        codes = [r[f"code{s}"] for s in range(_PQ_M)]
        assert all(0 <= c < _PQ_K for c in codes)
        # adc_dist must be exactly the Python-side LUT sum (the literals
        # both engines were given), in the pinned association order
        q = [_pq_lut(s, codes[s]) for s in range(_PQ_M)]
        assert r["adc_dist"] == ((q[0] + q[1]) + q[2]) + q[3]
        assert r["adc_dist"] >= prev
        prev = r["adc_dist"]


def test_pq_assignment_is_argmin(spark):
    import pyarrow.parquet as pq

    emb = {
        i: v
        for i, v in enumerate(
            pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
            .column("embedding")
            .to_pylist()
        )
    }
    rows = QUERIES["sim_pq_adc"](spark, SF_SMOKE).collect()
    for r in rows[:10]:
        vec = [float(x) for x in emb[r["vec_id"]]]
        for s in range(_PQ_M):
            x = vec[s * 4 : s * 4 + 4]

            def dist(c):
                w = _pq_codeword(s, c)
                d = [(x[i] - w[i]) * (x[i] - w[i]) for i in range(4)]
                return ((d[0] + d[1]) + d[2]) + d[3]

            best = min(range(_PQ_K), key=lambda c: (dist(c), c))
            assert r[f"code{s}"] == best


def test_auc_ranksum_first_principles(spark):
    import pyarrow.parquet as pq

    out = {r["label"]: r for r in QUERIES["ml_auc_ranksum"](spark, SF_SMOKE).collect()}
    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    scored = sorted(
        (float(e[0]), i, lab)
        for i, (e, lab) in enumerate(
            zip(t.column("embedding").to_pylist(), t.column("label").to_pylist())
        )
    )
    n = len(scored)
    for label, row in out.items():
        ranks = [r + 1 for r, (_, _, lab) in enumerate(scored) if lab == label]
        n_pos = len(ranks)
        assert row["n_pos"] == n_pos
        assert row["n_neg"] == n - n_pos
        assert row["rank_sum"] == sum(ranks)
        auc = (2 * sum(ranks) - n_pos * (n_pos + 1)) / (2 * n_pos * (n - n_pos))
        assert abs(row["auc"] - auc) < 1e-12
        assert 0.0 <= row["auc"] <= 1.0
    assert sum(r["n_pos"] for r in out.values()) == n


def test_ols_fit_matches_numpy(spark):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    ).to_pydict()
    out = {r["l_returnflag"]: r for r in QUERIES["ml_ols_fit"](spark, SF_SMOKE).collect()}
    for flag in set(t["l_returnflag"]):
        x = np.array(
            [q for f, q in zip(t["l_returnflag"], t["l_quantity"]) if f == flag]
        )
        y = np.array(
            [p for f, p in zip(t["l_returnflag"], t["l_extendedprice"]) if f == flag]
        )
        coef, res = np.polyfit(x, y, 1), out[flag]
        assert res["n"] == len(x)
        assert abs(res["slope"] - coef[0]) < 1e-6 * max(1.0, abs(coef[0]))
        assert abs(res["intercept"] - coef[1]) < 1e-6 * max(1.0, abs(coef[1]))
        assert 0.0 <= res["r2"] <= 1.0


def test_curriculum_conserves_tokens_and_epochs_contiguous(spark):
    from pyspark.sql import functions as F

    from project_fauna_spark.io import load_table

    out = QUERIES["llm_curriculum_schedule"](spark, SF_SMOKE).collect()
    per_lang_total = {}
    for r in out:
        per_lang_total[r["lang"]] = per_lang_total.get(r["lang"], 0) + r["n_tokens"]
        assert r["epoch"] >= 0
        assert r["min_chars"] <= r["max_chars"]
    truth = {
        r["lang"]: r["t"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()
    }
    assert per_lang_total == truth
    for lang in truth:
        epochs = sorted(r["epoch"] for r in out if r["lang"] == lang)
        assert epochs == list(range(len(epochs))), "epochs must be contiguous from 0"
        # every epoch except possibly the last must have reached the
        # budget boundary (a doc STARTS a new epoch only past the budget)
        by_epoch = {r["epoch"]: r["n_tokens"] for r in out if r["lang"] == lang}
        running = 0
        for e in epochs[:-1]:
            running += by_epoch[e]
            assert running >= (e + 1) * _CURRICULUM_BUDGET - 600  # ≤ max doc overshoot


def test_tokenizer_fertility_bounds(spark):
    rows = QUERIES["llm_tokenizer_fertility"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_subwords"] >= r["n_words"] > 0
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] > 0


def test_preference_pairs_ordering(spark):
    rows = QUERIES["llm_preference_pairs"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["chosen_score"] >= r["rejected_score"]
        assert r["score_gap"] == r["chosen_score"] - r["rejected_score"]
        if r["score_gap"] > 0:
            assert r["chosen_doc_id"] != r["rejected_doc_id"]


def test_cross_field_rules_reconcile(spark):
    rows = {r["rule"]: r for r in QUERIES["dq_cross_field_rules"](spark, SF).collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert 0 <= r["n_violations"] <= r["n_checked"]
        assert abs(r["violation_rate"] - r["n_violations"] / r["n_checked"]) < 1e-15
    # generator invariants: these columns are clean by construction
    assert rows["discount_in_0_0.1"]["n_violations"] == 0
    assert rows["qty_in_1_50"]["n_violations"] == 0
    assert rows["extprice_positive"]["n_violations"] == 0


def test_pq_plan_broadcasts_codebook(spark):
    k = kinds(plan_of(QUERIES["sim_pq_adc"](spark, SF_SMOKE)))
    assert "BroadcastHashJoinExec" in k
    assert "CartesianProductExec" not in k
