"""Round-10 properties: the rank-space percentile bound must be honest.

semi_percentile_approx's booleans are literal TRUE in the oracle, so
the graded gate only works if the Spark side honestly computes them
(the test_round7_properties contract, extended here to the query this
round rewrote).  The r10 rewrite moved the bound from value space
(estimate between exact q∓10⁻³ quantiles — false below N ≈ 2·10³
where order-statistic gaps exceed 10⁻³) to rank space (the estimate's
rank interval must intersect q·N ∓ (N/10⁴ + 2)), which must hold at
EVERY scale factor including the ~200-row sf0.001 groups that exposed
the old bound.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import expressions, kind, literal_aliases, plan_of

SF_SMOKE = "/root/testdata/sf0.001"


def _rows(spark, sf):
    from project_fauna_spark.cache import release_cached

    rows = QUERIES["semi_percentile_approx"](spark, sf).collect()
    release_cached()
    return rows


def test_percentile_bound_true_at_every_sf(spark):
    """The rank-space bound holds on real data at sf0.001 — the regime
    where the old value-space bound was honestly (and wrongly) False —
    and at sf0.01."""
    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        rows = _rows(spark, sf)
        assert rows, sf
        for r in rows:
            for c in ("p50_in_bounds", "p95_in_bounds", "p99_in_bounds"):
                assert r[c] is True, (sf, r["event_type"], c)


def test_percentile_bound_not_literal_in_plan(spark):
    """Plan honesty: no boolean column may be a constant-folded alias
    over a literal, and the sketch must actually be computed."""
    plan = plan_of(QUERIES["semi_percentile_approx"](spark, SF_SMOKE), "optimizedPlan")
    cols = {"p50_in_bounds", "p95_in_bounds", "p99_in_bounds"}
    assert not literal_aliases(plan) & cols
    assert "ApproximatePercentile" in {kind(e) for e in expressions(plan)}


def test_percentile_bound_flips_on_estimator_corruption(spark):
    """Perturbation: feeding the rank check a corrupted estimate (the
    group MAX for q=0.5) must flip p50's bound to False for any group
    whose median is not its max — the check discriminates, it is not a
    tautology."""
    from project_fauna_spark.io import load_table

    e = load_table(spark, SF_SMOKE, "events")
    # Corrupted "estimator": claims the max is the median.
    ests = e.groupBy("event_type").agg(
        F.max("value").alias("_bad_p50"), F.count("*").alias("n")
    )
    j = e.select("event_type", "value").join(F.broadcast(ests), "event_type")
    counts = j.groupBy("event_type").agg(
        F.sum((F.col("value") < F.col("_bad_p50")).cast("long")).alias("lt"),
        F.sum((F.col("value") <= F.col("_bad_p50")).cast("long")).alias("le"),
    )
    n = F.col("n").cast("double")
    err = n / F.lit(10000.0) + F.lit(2.0)
    ok = ((F.col("lt") + F.lit(1)).cast("double") <= 0.5 * n + err) & (
        F.col("le").cast("double") >= 0.5 * n - err
    )
    rows = ests.join(counts, "event_type").select("event_type", ok.alias("ok")).collect()
    assert rows and all(r["ok"] is False for r in rows), rows
