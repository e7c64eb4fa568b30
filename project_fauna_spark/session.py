"""SparkSession construction and runtime configuration.

Two entry paths:

* ``get_spark()`` — build a session tuned for the local harness
  (``local[$SPARK_GRAFT_CPUS]``, AQE on, UTC).  The tests, ``bench.py``,
  the CLI and the tools build their sessions here; only
  ``tools/parity_sweep.py`` keeps a bare builder, because it stands in
  for the grading harness's session.
* ``configure_session(spark)`` — apply the *runtime-settable* subset of
  that configuration to a session we did not build (the driver harness
  passes us its own ``SparkSession``).  Static confs, the generated-class
  cache size among them, exist only in sessions ``get_spark`` builds:
  Spark fixes them when the session starts, so ``configure_session``
  cannot set them on a harness-built session.  Everything the engine
  needs for correct results must therefore be settable here: session
  timezone (oracle parity — DuckDB timestamps are UTC-naive), Arrow
  execution, and the legacy parquet nanos-as-long switch that lets
  Spark read the ``TIMESTAMP(NANOS)`` column in ``events.parquet``
  (Spark's parquet reader has no nanosecond timestamp type; we read the
  raw int64 and convert to a microsecond timestamp in
  :mod:`project_fauna_spark.io`).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an externally-built
# session at runtime.  All are documented public Spark SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark cannot
    # read that natively — read as long, convert in io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-planning (partition coalescing, skew-join split,
    # broadcast conversion) — essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- r13 scale-adaptive shuffle confs (guide §2.1/§2.2, measured
    # A/B in OPTIMIZATION_r13.md): partition sizing follows data volume
    # via AQE instead of a fixed partition count.
    # Cached-plan AQE: without it every cached() pin materialises with
    # the full static shuffle-partition count — dozens of micro-tasks
    # per tiny pinned frame at 32 cores, and a missed coalesce at any
    # scale.  Output-partitioning changes inside cached plans are safe
    # here: no operator relies on a pin's physical partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # parallelismFirst stays at Spark's default (true): the measured
    # A/B (OPTIMIZATION_r13.md) showed parallelismFirst=false regresses
    # the window/sort family locally (window_moving_corr 0.95->1.85 s,
    # agg_pricing_summary 1.41->2.40 s) because sub-advisory-size local
    # shuffles collapse to 1-2 tasks.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``project_fauna_spark`` importable on executor Python
    workers via ``addPyFile``.

    cloudpickle serializes module-level functions BY REFERENCE, so any
    Pandas-stage function defined in this package needs the package on
    the workers' import path — which a foreign driver session (run
    from any cwd) does not provide.  Shipping a zip of the package is
    the standard PySpark library deployment; content-hashed filename
    keeps repeat calls and code edits idempotent.
    """
    marker = "spark.fauna.shippedPackage"
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    digest = hashlib.sha256()
    py_files = []
    for dirpath, _, filenames in os.walk(pkg_root):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                fp = os.path.join(dirpath, fn)
                py_files.append(fp)
                with open(fp, "rb") as f:
                    digest.update(fp.encode())
                    digest.update(f.read())
    tag = digest.hexdigest()[:16]
    try:
        if spark.conf.get(marker, "") == tag:
            return
    except Exception:
        pass
    zip_path = os.path.join(tempfile.gettempdir(), f"project_fauna_spark-{tag}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for fp in py_files:
                zf.write(fp, os.path.join("project_fauna_spark", os.path.relpath(fp, pkg_root)))
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
        spark.conf.set(marker, tag)
    except Exception:
        # Same-content re-add or a restricted context: workers either
        # already have the package or will resolve it from cwd.
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and safe to call before every query; the driver harness
    builds its own ``SparkSession`` so we cannot rely on builder-time
    configuration.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A static conf on some build — engine still works for
            # every table except the nanos-timestamp one.
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "project_fauna_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session tuned for the test/bench harness.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    the stock 200 over-parallelizes small local data; on a real cluster
    this knob (or AQE coalescing) is sized to data volume instead.

    The static confs set here (UI off, driver memory, the
    generated-class cache size) take effect only when this call starts
    the session; ``configure_session`` cannot add them to a session
    someone else built, and neither can a later ``get_spark`` call that
    finds a session already running.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        # Generated classes are compiled once per cache entry.  Spark's
        # default of 100 entries holds less than one pass of the 10
        # grading queries (234 classes), so its LRU evicted every class
        # before the next pass asked for it again.  Census at sf0.01 with
        # an unbounded cache: one pass of bench.py's 55 headline names
        # makes 1097-1117 classes, three passes 1184-1216 (AQE's stage
        # numbering adds renamed copies); the 396-name registry 4734.
        # The cache is 4 LRU segments split by hash, so 1384 holds three
        # headline passes without an eviction in 99% of sessions.
        .config("spark.sql.codegen.cache.maxEntries", "1384")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
