"""Round-7 properties: bound-style booleans must be HONEST.

ADVICE r6: the four bound-style oracles (dedup_minhash_lsh,
dedup_simhash64, text_hashed_tf, agg_approx_count_distinct) emit
literal TRUE for their quality booleans — the graded gate only works if
the Spark side honestly computes them, and a future edit that
short-circuits one to ``F.lit(True)`` would pass every gate silently.

Two guards per boolean:

* **perturbation** — corrupt the invariant's input (swap a band slice,
  drop a bucket, inflate the approx count) and assert the SAME
  invariant expression flips to False: the check discriminates, it is
  not a tautology;
* **plan honesty** — the registered query's OPTIMIZED plan must not
  alias a literal to the boolean column: the boolean is a computed
  expression over the data.  An honest computation can never
  constant-fold (it depends on the scan), so an ``Alias`` over a
  ``Literal`` in the optimized plan is exactly the short-circuit
  signature.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import expressions, kind, literal_aliases, plan_of

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def _optimized(spark, name: str):
    return plan_of(QUERIES[name](spark, SF_SMOKE), "optimizedPlan")


def test_bound_booleans_not_literal_in_plan(spark):
    """No bound-style boolean may be an alias over a literal in the
    optimized plan — the lit(True) short-circuit signature."""
    cases = {
        "dedup_minhash_lsh": [
            "lsh_all_verified",
            "lsh_recall_ge_half",
            "minhash_est_bounded",
        ],
        "dedup_simhash64": ["bands_recompose", "dup_text_same_fp"],
        "text_hashed_tf": ["mass_preserved", "buckets_bounded"],
        "agg_approx_count_distinct": ["approx_within_5pct"],
    }
    for name, cols in cases.items():
        folded = literal_aliases(_optimized(spark, name)) & set(cols)
        assert not folded, (
            f"{name}.{sorted(folded)} literal in the optimized plan — "
            "the boolean has been short-circuited"
        )


def test_bound_queries_compute_their_sketches(spark):
    """The sketch machinery must be present in the optimized plan —
    deleting the computation (not just the boolean) must also fail."""
    for name, markers in [
        ("dedup_simhash64", ["XxHash64", "ShiftLeft"]),
        ("text_hashed_tf", ["XxHash64", "Pmod"]),
        ("agg_approx_count_distinct", ["HyperLogLogPlusPlus"]),
        ("dedup_minhash_lsh", ["XxHash64"]),
    ]:
        fns = {kind(e) for e in expressions(_optimized(spark, name))}
        for m in markers:
            assert m in fns, f"{name}: expected {m} in optimized plan"


def test_simhash_band_swap_flips_recompose(spark):
    """Perturbation: recomposing the four 16-bit bands in a SWAPPED
    order must mismatch the fingerprint for any fp whose swapped bands
    differ — the recomposition equality is a discriminating invariant,
    not an identity."""
    fp_val = 0x0123456789ABCDEF
    df = spark.range(1).select(F.lit(fp_val).cast("long").alias("simhash"))
    mask = F.lit((1 << 16) - 1).cast("long")
    banded = df.select(
        "simhash",
        *[
            F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(mask).alias(f"band{b}")
            for b in range(4)
        ],
    )

    def recompose(order):
        out = None
        for pos, b in enumerate(order):
            term = F.shiftleft(F.col(f"band{b}"), 16 * pos)
            out = term if out is None else out.bitwiseOR(term)
        return out

    row = banded.select(
        (recompose([0, 1, 2, 3]) == F.col("simhash")).alias("honest"),
        (recompose([1, 0, 2, 3]) == F.col("simhash")).alias("swapped"),
    ).collect()[0]
    assert row["honest"] is True
    assert row["swapped"] is False


def test_simhash_dup_text_invariant_flips_on_nondeterminism(spark):
    """Perturbation: if two rows with the same text key carry DIFFERENT
    fingerprints (a determinism regression), min==max over the key
    window must flip to False."""
    rows = [(1, 100, 7), (2, 100, 7), (3, 200, 7), (4, 200, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text_key long, simhash long")
    wt = W.partitionBy("text_key")
    out = {
        r["doc_id"]: r["ok"]
        for r in df.select(
            "doc_id",
            (F.min("simhash").over(wt) == F.max("simhash").over(wt)).alias("ok"),
        ).collect()
    }
    assert out[1] is True and out[2] is True  # deterministic group
    assert out[3] is False and out[4] is False  # corrupted group


def test_hashed_tf_dropped_bucket_flips_mass(spark):
    """Perturbation: dropping one bucket's count breaks L1-mass
    preservation — bucket_mass == n_tokens must flip to False."""
    df = spark.createDataFrame(
        [(1, 10, 10), (2, 10, 7)],  # doc 2 "lost" a 3-count bucket
        "doc_id long, n_tokens long, bucket_mass long",
    )
    out = {
        r["doc_id"]: r["mass_preserved"]
        for r in df.select(
            "doc_id", (F.col("bucket_mass") == F.col("n_tokens")).alias("mass_preserved")
        ).collect()
    }
    assert out[1] is True and out[2] is False


def test_hashed_tf_bucket_overflow_flips_bound(spark):
    """Perturbation: reporting more occupied buckets than
    min(256, distinct terms) must flip buckets_bounded."""
    df = spark.createDataFrame(
        [(1, 5, 5), (2, 5, 6)], "doc_id long, max_buckets long, n_buckets long"
    )
    out = {
        r["doc_id"]: r["ok"]
        for r in df.select(
            "doc_id", (F.col("n_buckets") <= F.col("max_buckets")).alias("ok")
        ).collect()
    }
    assert out[1] is True and out[2] is False


def test_approx_count_inflation_flips_bound(spark):
    """Perturbation: inflating the HLL estimate by 10% must flip the
    5% error-bound boolean (the exact invariant expression from
    agg_approx_count_distinct)."""
    df = spark.createDataFrame(
        [(1, 1000, 1004), (2, 1000, 1100)], "g long, exact_users long, _approx long"
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")).cast("double")
    out = {
        r["g"]: r["ok"]
        for r in df.select(
            "g",
            (err <= 0.05 * F.col("exact_users").cast("double")).alias("ok"),
        ).collect()
    }
    assert out[1] is True and out[2] is False


def test_minhash_est_bound_flips_on_signature_corruption(spark):
    """Perturbation: a corrupted signature whose match-fraction
    estimate is off by more than 0.5 must flip minhash_est_bounded
    (same expression shape as dedup_minhash_lsh: |est − jaccard| ≤ 0.5)."""
    # est 1.0 vs exact jaccard 0.4 → |diff| 0.6 > 0.5 → False
    df = spark.createDataFrame(
        [(1, 0.55, 0.5), (2, 1.0, 0.4)], "pair long, est double, jac double"
    )
    out = {
        r["pair"]: r["ok"]
        for r in df.select(
            "pair", (F.abs(F.col("est") - F.col("jac")) <= 0.5).alias("ok")
        ).collect()
    }
    assert out[1] is True and out[2] is False


def test_bound_booleans_true_on_real_data_r7(spark):
    """All bound-style booleans hold on real data at sf0.01 (the moved
    home copies, post-rotation)."""
    for name, bool_cols in [
        ("dedup_simhash64", ["bands_recompose", "dup_text_same_fp"]),
        ("text_hashed_tf", ["mass_preserved", "buckets_bounded"]),
        ("agg_approx_count_distinct", ["approx_within_5pct"]),
    ]:
        from project_fauna_spark.cache import release_cached

        rows = QUERIES[name](spark, SF).collect()
        release_cached()
        assert rows, name
        for r in rows:
            for c in bool_cols:
                assert r[c] is True, (name, c)


def test_lsh_verify_boolean_flips_on_filter_regression(spark):
    """Perturbation (ADVICE r7): lsh_all_verified must be derived from
    an expression INDEPENDENT of the survivor filter's, so a filter
    regression (e.g. threshold accidentally lowered) flips the graded
    boolean instead of being filtered into tautology.  Replays the
    dedup_minhash_lsh shape: filter on the intersect-route jaccard at
    a BROKEN 0.3 threshold, verify with the union-route re-derivation
    at the contract's 0.5."""
    df = spark.createDataFrame(
        [(1, 10, 10, 8), (2, 10, 10, 5)],  # jac 8/12≈0.67, 5/15≈0.33
        "pair long, na int, nb int, ninter int",
    )
    jac = F.col("ninter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ninter")
    )
    n_union = F.col("na") + F.col("nb") - F.col("ninter")
    jac_check = (F.col("na") + F.col("nb") - n_union).cast("double") / n_union
    surv = df.select("pair", jac.alias("jaccard"), jac_check.alias("jaccard_check"))
    broken = surv.filter(F.col("jaccard") >= 0.3)  # regression: 0.5 -> 0.3
    out = broken.agg(
        F.coalesce(F.min(F.col("jaccard_check") >= 0.5), F.lit(True)).alias("ok")
    ).collect()[0]["ok"]
    assert out is False, "independent verify failed to catch the broken filter"
    correct = surv.filter(F.col("jaccard") >= 0.5)
    out2 = correct.agg(
        F.coalesce(F.min(F.col("jaccard_check") >= 0.5), F.lit(True)).alias("ok")
    ).collect()[0]["ok"]
    assert out2 is True
