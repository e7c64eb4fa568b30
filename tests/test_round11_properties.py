"""Round-11 properties: NULL-space consistency and single-execution of
the percentile bound, plus a registry-wide lint that no bound-style
sketch oracle ever reverts to the value-space/exact-percentile spelling
(the r10 bug class — VERDICT r10 item 4).
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kinds, plan_of

SF_SMOKE = "/root/testdata/sf0.001"


def _release():
    from project_fauna_spark.cache import release_cached

    release_cached()


def test_percentile_bound_null_space_consistency(spark, tmp_path):
    """Inject NULL event values: n_values and the q·N arithmetic must
    both live in NON-NULL space (ADVICE r10 — count('value'), not
    count('*')), so the booleans stay True and n_values drops to the
    non-null count even when a third of the rows are NULL."""
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    nulled = src.withColumn(
        "value",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value")),
    )
    d = tmp_path / "nulled"
    d.mkdir()
    nulled.coalesce(1).write.parquet(str(d / "events.parquet"))
    try:
        rows = QUERIES["semi_percentile_approx"](spark, str(d)).collect()
    finally:
        _release()
    assert rows
    expect = {
        r["event_type"]: r["n"]
        for r in nulled.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_values"] == expect[r["event_type"]], r["event_type"]
        for c in ("p50_in_bounds", "p95_in_bounds", "p99_in_bounds"):
            assert r[c] is True, (r["event_type"], c)


def test_percentile_ests_computed_once(spark):
    """The 5-row sketch table feeds two joins; it must be persisted so
    the events scan + percentile_approx aggregation run once per
    invocation (ADVICE r10).  The optimized plan must read it from
    InMemoryRelation at both consumers."""
    df = QUERIES["semi_percentile_approx"](spark, SF_SMOKE)
    try:
        k = kinds(plan_of(df, "optimizedPlan"))
    finally:
        _release()
    assert k["InMemoryRelation"] >= 2, k


def test_no_value_space_quantile_slack_bound():
    """Registry lint (VERDICT r10 item 4): any operator that grades a
    percentile_approx sketch with a bound-style boolean must spell the
    bound in RANK space — concretely, its source must never call the
    exact sort-based ``percentile(`` aggregate (the value-space
    spelling silently assumes order-statistic gaps < the slack, false
    at small N, and drags in the full per-group sort the sketch exists
    to avoid)."""
    import ast
    import re
    import textwrap

    def _calls_exact_percentile(src: str) -> bool:
        tree = ast.parse(textwrap.dedent(src))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "percentile":
                return True  # F.percentile(...) — the exact aggregate
            if isinstance(f, ast.Attribute) and f.attr == "expr" and node.args:
                a = node.args[0]
                texts = []
                if isinstance(a, ast.Constant) and isinstance(a.value, str):
                    texts = [a.value]
                elif isinstance(a, ast.JoinedStr):
                    texts = [
                        v.value
                        for v in a.values
                        if isinstance(v, ast.Constant) and isinstance(v.value, str)
                    ]
                for t in texts:
                    if re.search(r"(?<![\w.])percentile\s*\(", t):
                        return True
        return False

    flagged = []
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):  # pragma: no cover
            continue
        if "percentile_approx" not in src:
            continue
        if "_in_bounds" not in src and "_in_band" not in src:
            continue
        if _calls_exact_percentile(src):
            flagged.append(name)
    assert not flagged, (
        f"value-space quantile bound (exact percentile on a bound path): {flagged}"
    )
