"""Storage-format round-trips: the engine's tables survive ORC and
partitioned-parquet rewrites bit-for-bit.

(JSON/CSV schema-on-read ingest is covered by the ingest_* registry
queries; this file covers the columnar write side.)
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.plans.lint import kind, names, nodes, plan_of, seq

SF = "/root/testdata/sf0.01"


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_orc_roundtrip_preserves_rows(spark):
    src = load_table(spark, SF, "customer")
    with tempfile.TemporaryDirectory() as d:
        src.write.mode("overwrite").orc(d)
        back = spark.read.orc(d)
        assert back.schema == src.schema
        assert _sorted_rows(back) == _sorted_rows(src)


def test_partitioned_parquet_roundtrip_and_pruning(spark):
    src = load_table(spark, SF, "documents")
    with tempfile.TemporaryDirectory() as d:
        src.write.mode("overwrite").partitionBy("lang").parquet(d)
        back = spark.read.parquet(d)
        # partition column round-trips (as the partition directory value)
        assert _sorted_rows(
            back.select("doc_id", "lang", "text")
        ) == _sorted_rows(src.select("doc_id", "lang", "text"))
        # a lang filter must prune partitions: a scan partition filter
        plan = plan_of(back.filter(F.col("lang") == "en"))
        pruned = {
            c
            for n in nodes(plan)
            if kind(n) == "FileSourceScanExec"
            for f in seq(n.partitionFilters())
            for c in names(f)
        }
        assert pruned == {"lang"}, pruned


def test_clustered_write_yields_disjoint_file_ranges(spark):
    """write_clustered_parquet: each output file covers a narrow,
    non-overlapping range of the cluster key — the property row-group
    pruning depends on."""
    import glob
    import pyarrow.parquet as pq
    from project_fauna_spark.sinks.files import write_clustered_parquet

    src = load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as d:
        write_clustered_parquet(src, d, ["o_custkey"], n_files=4)
        ranges = []
        for f in glob.glob(f"{d}/*.parquet"):
            t = pq.read_table(f, columns=["o_custkey"])["o_custkey"]
            if len(t):
                ranges.append((min(t.to_pylist()), max(t.to_pylist())))
        assert len(ranges) >= 3
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2  # disjoint (range partitioner boundaries)
        # and the read back is lossless
        back = spark.read.parquet(d)
        assert back.count() == src.count()
