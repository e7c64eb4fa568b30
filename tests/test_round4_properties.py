"""Round-4 behavior tests: hot-shingle df cap, tracked cache."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_fauna_spark.plans.lint import kind, kinds, names, nodes, plan_of, seq


def test_drop_hot_shingles_removes_only_hot_hashes(spark):
    """A hash appearing in > MAX_SHINGLE_DF docs leaves the index; every
    other (doc_id, h) row survives untouched."""
    from project_fauna_spark.functions.shingles import MAX_SHINGLE_DF, drop_hot_shingles

    hot_df = MAX_SHINGLE_DF + 5
    rows = [(i, 3, 999) for i in range(hot_df)]  # one hot hash: df = K+5
    rows += [(i, 3, 888) for i in range(MAX_SHINGLE_DF)]  # boundary: df = K stays
    rows += [(i, 3, 1000 + i) for i in range(50)]  # 50 rare hashes: df = 1
    ex = spark.createDataFrame(rows, "doc_id long, n int, h long")
    kept = drop_hot_shingles(ex).collect()
    assert all(r.h != 999 for r in kept)
    assert sum(1 for r in kept if r.h == 888) == MAX_SHINGLE_DF  # df == K kept
    assert sorted({r.h for r in kept} - {888}) == [1000 + i for i in range(50)]


def test_ngram_jaccard_unaffected_by_inert_cap(spark):
    """At sf0.001 every shingle df is far below the cap, so the capped
    plan must reproduce the uncapped exact result (the cap engages only
    on genuine stop-phrases at production scale)."""
    from project_fauna_spark.operators.dedup import dedup_ngram_jaccard
    from project_fauna_spark.functions.shingles import shingles
    from project_fauna_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    # Uncapped brute-force reference over full string shingle sets.
    d = load_table(spark, sf, "documents").select(
        "doc_id", shingles(F.col("text")).alias("sgl")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sgl").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sgl").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == want


def test_release_cached_unpersists_tracked_frames(spark):
    from project_fauna_spark.cache import _TRACKED, cached, release_cached

    release_cached()
    df = cached(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    n = release_cached()
    assert n >= 1
    assert not df.storageLevel.useMemory
    assert not _TRACKED


def _physical(spark, name):
    from project_fauna_spark.plans import QUERIES

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    return plan_of(df)


def test_df_cap_is_broadcast_anti_join(spark):
    """The hot-shingle removal must not reshuffle the index: the df>K
    set joins in as a broadcast LeftAnti."""
    plan = _physical(spark, "dedup_ngram_jaccard")
    assert ("LeftAnti", "BuildRight") in {
        (n.joinType().toString(), n.buildSide().toString())
        for n in nodes(plan)
        if kind(n) == "BroadcastHashJoinExec"
    }
    assert "CartesianProductExec" not in kinds(plan)


def test_contamination_broadcasts_eval_grams(spark):
    k = kinds(_physical(spark, "llm_contamination_overlap"))
    assert "BroadcastHashJoinExec" in k
    assert "CartesianProductExec" not in k


def test_cluster_representative_no_cartesian_no_python(spark):
    k = kinds(_physical(spark, "dedup_cluster_representative"))
    assert "CartesianProductExec" not in k
    assert "BatchEvalPythonExec" not in k


def test_incremental_dedup_shuffles_digests_only(spark):
    """The join key is the 16-byte md5 digest; text must be pruned out
    before any exchange: every hash exchange partitions on the digest
    (or doc_id), and no exchange row carries the text column."""
    plan = _physical(spark, "dedup_incremental_base_vs_new")
    assert "CartesianProductExec" not in kinds(plan)
    exchanges = [n for n in nodes(plan) if kind(n) == "ShuffleExchangeExec"]
    assert exchanges
    for x in exchanges:
        assert "text" not in {a.name() for a in seq(x.output())}
        part = x.outputPartitioning()
        if kind(part) == "HashPartitioning":
            key = seq(part.expressions())[0]
            assert kind(key) == "AttributeReference" and key.name() in ("dg", "doc_id"), key


def test_no_complex_types_at_graded_edges(spark):
    """The driver's canonicalizer cannot hash top-level array/map cells
    (r2: agg_percentile_exact casualty) — every ORACLED query must emit
    only atomic top-level columns.  Schema-only check, no execution."""
    from pyspark.sql import types as T

    from project_fauna_spark.plans import ORACLE, QUERIES

    flagged = {}
    for name in ORACLE:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            flagged[name] = bad
    assert not flagged, flagged


def test_partitioned_read_prunes_partitions(spark):
    """The lang filter must land in PartitionFilters (directory pruning),
    not as a post-scan data filter."""
    scans = [
        n
        for n in nodes(_physical(spark, "ingest_partitioned_pruning"))
        if kind(n) == "FileSourceScanExec"
    ]
    pruned = {c for s in scans for f in seq(s.partitionFilters()) for c in names(f)}
    assert "lang" in pruned, pruned
