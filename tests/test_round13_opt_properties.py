"""Round-13 OPTIMIZATION-round focused tests (operator internals that
changed for performance; results must be provably unchanged):

- ``llm_dedup_survivorship_report`` no longer pins the corpus-TEXT
  ``exact_kept`` frame: ``n_after_exact`` is derived as
  ``COUNT(DISTINCT text)`` plus an explicit NULL-text-group term (the
  exact int64 identity with ``COUNT(*) OF GROUP BY text``), the single
  remaining pin is the ints-only exploded shingle index, and the
  candidate self-join gained a result-preserving length-ratio prune
  (``jaccard >= 0.5`` forces ``n_a <= 2*n_b AND n_b <= 2*n_a`` because
  ``n_inter <= min(n_a, n_b)``; bounds inclusive since equality can
  land exactly on 0.5).
- ``llm_decontaminate`` no longer pins the corpus-sized exploded
  shingle index: the eval/train split (``doc_id % 10``) is pushed
  below the explode, so the two sides PARTITION the corpus and
  streaming them does the same 1x shingle work with no pin at all.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kind, kinds, names, nodes, plan_of, tree
from project_fauna_spark.registry import ORACLE

SF_SMOKE = "/root/testdata/sf0.001"


def _release():
    from project_fauna_spark.cache import release_cached

    release_cached()


def _typed(rows):
    return sorted(tuple(r) for r in rows)


def test_survivorship_null_text_group_both_engines(spark, tmp_path):
    """Inject NULL text into ~1/7 of documents and run BOTH the Spark
    operator and the registered DuckDB oracle on the same nulled
    parquet: the oracle's ``COUNT(*) FROM (GROUP BY text)`` keeps one
    NULL group that ``COUNT(DISTINCT text)`` would drop — the rewrite's
    explicit ``count(*) > count(text)`` term must restore it exactly."""
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = tmp_path / "variant"
    out.mkdir()
    src.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("text")),
    ).coalesce(1).write.parquet(str(out / "documents.parquet"))
    try:
        got = _typed(QUERIES["llm_dedup_survivorship_report"](spark, str(out)).collect())
    finally:
        _release()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet/*.parquet'"
        )
        want = _typed(con.execute(ORACLE["llm_dedup_survivorship_report"]).fetchall())
    finally:
        con.close()
    assert got == want


def _pins(df) -> list:
    """One InMemoryRelation per distinct cached frame in ``df``'s
    physical plan, pins nested inside other pins included (a pin read
    by several consumers is scanned once per read, all sharing one
    cache builder)."""
    pins = []
    for rel in nodes(plan_of(df)):
        if kind(rel) == "InMemoryRelation" and not any(
            rel.cacheBuilder().equals(p.cacheBuilder()) for p in pins
        ):
            pins.append(rel)
    return pins


def _output_names(node) -> list[str]:
    out = node.output()
    return [out.apply(i).name() for i in range(out.size())]


def test_survivorship_single_pin_is_ints_only(spark):
    """Exactly one cached frame (the exploded shingle index), and it
    must not carry the corpus text column — the r12 corpus-TEXT pin is
    the scale defect this round removed."""
    df = QUERIES["llm_dedup_survivorship_report"](spark, SF_SMOKE)
    try:
        pins = _pins(df)
        assert len(pins) == 1, [_output_names(p) for p in pins]
        assert "text" not in _output_names(pins[0]), _output_names(pins[0])
    finally:
        _release()


def test_survivorship_ratio_prune_in_join_condition(spark):
    """The length-ratio prune must sit IN the self-join (pre-
    aggregation), not as a post-filter: the candidate-pair shuffle is
    what it exists to shrink."""
    df = QUERIES["llm_dedup_survivorship_report"](spark, SF_SMOKE)
    conditions = [
        j.condition().get()
        for j in nodes(plan_of(df, "optimizedPlan"))
        if kind(j) == "Join" and j.condition().isDefined()
    ]
    _release()
    assert any(
        "LessThanOrEqual" in {kind(e) for e in tree(c)} and "doc_id" in names(c)
        for c in conditions
    ), [c.toString() for c in conditions]


def test_decontaminate_no_pin_split_below_explode(spark):
    """No cached frame anywhere (the corpus-sized explode pin is gone)
    and the eval/train modulo filters must sit in filters over BOTH
    parquet scans (pushed below the explode), so each side shingles
    only its own partition of the corpus."""
    plan = plan_of(QUERIES["llm_decontaminate"](spark, SF_SMOKE))
    _release()
    k = kinds(plan)
    assert "InMemoryRelation" not in k and "InMemoryTableScanExec" not in k, k
    assert k["FileSourceScanExec"] == 2, k
    mod10 = [
        f
        for f in nodes(plan)
        if kind(f) == "FilterExec"
        and kind(f.child()) == "FileSourceScanExec"
        and any(
            kind(e) == "Remainder" and kind(e.right()) == "Literal" and e.right().value() == 10
            for e in tree(f.condition())
        )
    ]
    assert len(mod10) == 2, k


def test_decontaminate_repeat_invocation_stable(spark):
    """Two invocations in one session must produce identical sorted
    rows (the bench / grading-loop shape) now that each side streams
    its own shingle build instead of slicing a shared pin."""
    a = _typed(QUERIES["llm_decontaminate"](spark, SF_SMOKE).collect())
    _release()
    b = _typed(QUERIES["llm_decontaminate"](spark, SF_SMOKE).collect())
    _release()
    assert a == b
