"""A session from ``get_spark`` compiles each generated class once.

Spark keeps Janino-compiled classes in an LRU cache whose size is the
static conf ``spark.sql.codegen.cache.maxEntries`` (default 100).  When
one pass of queries generates more classes than that, the LRU evicts
every class before the next pass asks for it, and every repeat pass
recompiles all of them.
"""

from __future__ import annotations

from project_fauna_spark.cache import release_cached
from project_fauna_spark.plans import QUERIES
from tests.conftest import SF_SMOKE

# The three grading queries that generate the most classes.
NAMES = ("dedup_containment", "llm_ccnet_buckets", "llm_pack_shards")
STAGE_ID_IN_CLASS_NAME = "spark.sql.codegen.useIdInClassName"


def test_repeat_pass_compiles_no_generated_class(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1384"
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # A whole-stage class is named after its codegen stage id, and AQE
    # numbers stages in the order their inputs finish, so the same code
    # can come back under a new name and miss any cache.  Leave the id
    # out of the name so that only cache misses count here.
    with_id = spark.conf.get(STAGE_ID_IN_CLASS_NAME)
    spark.conf.set(STAGE_ID_IN_CLASS_NAME, "false")
    compiles = []
    try:
        for _ in range(3):
            before = metric.getCount()
            for name in NAMES:
                release_cached()
                QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            compiles.append(metric.getCount() - before)
    finally:
        release_cached()
        spark.conf.set(STAGE_ID_IN_CLASS_NAME, with_id)
    assert compiles[2] == 0, compiles
