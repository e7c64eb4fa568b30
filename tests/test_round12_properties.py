"""Round-12 properties (ADVICE r11):

- ``semi_percentile_approx`` on a group whose values are ALL NULL must
  emit (n_values=0, TRUE, TRUE, TRUE) like the oracle's literal TRUEs —
  not NULL booleans (the sums over zero non-null comparisons are NULL
  without an explicit coalesce).
- ``dq_psi_drift`` must exclude NULL-ts rows from BOTH halves on BOTH
  engines (Spark's ``(ts >= cut).cast('int')`` silently NULLs them out
  of the sums; a ``CASE ... ELSE 0`` oracle would call them baseline).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kinds, plan_of
from project_fauna_spark.plans.registry import ORACLE

SF_SMOKE = "/root/testdata/sf0.001"

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _release():
    from project_fauna_spark.cache import release_cached

    release_cached()


def _write_events_variant(spark, tmp_path, mutate):
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    out = tmp_path / "variant"
    out.mkdir()
    mutate(src).coalesce(1).write.parquet(str(out / "events.parquet"))
    return str(out)


def test_percentile_bound_all_null_event_type(spark, tmp_path):
    """ADVICE r11: one event_type with EVERY value NULL → the sketch is
    NULL, the rank-count sums are NULL-without-coalesce; the graded row
    must still be (n_values=0, TRUE×3), matching the oracle's literal
    TRUEs, and the other groups must be untouched."""
    types = [
        r[0]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type")
        .distinct()
        .collect()
    ]
    victim = sorted(types)[0]
    d = _write_events_variant(
        spark,
        tmp_path,
        lambda df: df.withColumn(
            "value",
            F.when(F.col("event_type") == victim, F.lit(None)).otherwise(
                F.col("value")
            ),
        ),
    )
    try:
        rows = QUERIES["semi_percentile_approx"](spark, d).collect()
    finally:
        _release()
    by_type = {r["event_type"]: r for r in rows}
    assert victim in by_type
    v = by_type[victim]
    assert v["n_values"] == 0
    for c in ("p50_in_bounds", "p95_in_bounds", "p99_in_bounds"):
        assert v[c] is True, (victim, c, v[c])
    for t, r in by_type.items():
        if t == victim:
            continue
        assert r["n_values"] > 0
        for c in ("p50_in_bounds", "p95_in_bounds", "p99_in_bounds"):
            assert r[c] is True, (t, c)


def _typed(rows):
    out = []
    for r in sorted(rows, key=lambda r: r[0]):
        vals = []
        for v in r:
            vals.append(f"{v:.9g}" if isinstance(v, float) else v)
        out.append(tuple(vals))
    return out


def test_psi_null_ts_both_engines_agree(spark, tmp_path):
    """ADVICE r11: inject NULL ts into ~1/5 of events and run BOTH the
    Spark operator and the registered DuckDB oracle on the same nulled
    parquet — typed rows must match (the pre-fix asymmetry put NULL-ts
    rows in the oracle's baseline but in neither Spark half), and must
    equal the drop-the-rows spelling (pins the exclusion semantics)."""
    d = _write_events_variant(
        spark,
        tmp_path,
        lambda df: df.withColumn(
            "ts",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("ts")),
        ),
    )
    try:
        got = _typed(QUERIES["dq_psi_drift"](spark, d).collect())
    finally:
        _release()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
        )
        want = _typed(con.execute(ORACLE["dq_psi_drift"]).fetchall())
    finally:
        con.close()
    assert got == want
    drop_root = tmp_path / "drop"
    drop_root.mkdir()
    dropped = _write_events_variant(
        spark,
        drop_root,
        lambda df: df.filter(F.col("event_id") % 5 != 0),
    )
    try:
        via_drop = _typed(QUERIES["dq_psi_drift"](spark, dropped).collect())
    finally:
        _release()
    assert got == via_drop


def _kinds(spark, name):
    return kinds(plan_of(QUERIES[name](spark, SF_SMOKE)))


def test_char_entropy_is_map_only(spark):
    """text_char_entropy is a pure projection: zero shuffles, zero
    joins, no Python — one codegen'd pass over the text column."""
    k = _kinds(spark, "text_char_entropy")
    assert not [c for c in k if "Exchange" in c or "Join" in c or "Python" in c], k


def test_calibration_ece_plan_shape(spark):
    """ml_calibration_ece: map-combined partial aggregate over the
    bins, broadcast-only joins for the two 1-row scalars, no Python."""
    k = _kinds(spark, "ml_calibration_ece")
    assert "BatchEvalPythonExec" not in k
    assert "HashAggregateExec" in k
    assert "CartesianProductExec" not in k  # 1-row sides broadcast


def test_round12_additions_repeat_invocation_stable(spark):
    """Same query object invoked twice must return identical typed
    rows (the standing battery's stability bar, applied to the two
    r12 additions at the suite's SF)."""
    for name in ("text_char_entropy", "ml_calibration_ece"):
        a = _typed([tuple(r) for r in QUERIES[name](spark, SF_SMOKE).collect()])
        b = _typed([tuple(r) for r in QUERIES[name](spark, SF_SMOKE).collect()])
        assert a == b, name
