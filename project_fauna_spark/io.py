"""Table loaders for the harness parquet tables.

All scans go through ``spark.read.parquet`` so Catalyst predicate
pushdown / column pruning / partition pruning apply.  The only
normalization done here is type repair for columns Spark's parquet
reader cannot represent natively (nanosecond timestamps → microsecond
``TimestampType``); everything else is schema-on-read.

At 100 TB these loaders are unchanged: parquet scans parallelize by
row-group, and since we never call ``.cache()``/``.collect()`` here the
load is a zero-cost plan node until an action runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from project_fauna_spark.session import configure_session

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns whose physical encoding has varied across testdata
# generations: TIMESTAMP(NANOS) (read as int64 ns via
# spark.sql.legacy.parquet.nanosAsLong) or naive TIMESTAMP(MICROS)
# (read as TIMESTAMP_NTZ).  Either way the engine-facing type is a
# session-UTC ``TimestampType`` — downstream operators (unix_micros,
# watermarks, range frames) rely on it.  The synthetic data is
# µs-granular, so `div 1000` on the ns encoding is lossless, and the
# NTZ→TZ cast is value-preserving because the session zone is UTC.
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def repair_ts(df: DataFrame, col: str) -> DataFrame:
    """``df`` with timestamp column ``col`` as a session-UTC
    ``TimestampType``, whichever encoding the reader resolved it to
    (batch or streaming): ``bigint`` nanoseconds or ``timestamp_ntz``."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one harness table, repairing nanosecond timestamp columns."""
    configure_session(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NANOS_TS_COLS.get(name, []):
        df = repair_ts(df, col)
    return df


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines ingest with declared schema (PERMISSIVE corrupt-row
    tolerance — reference S4 semantics: a bad record degrades to a row
    with nulls + the raw text in ``_corrupt_record``, never a failure).

    Always pass a schema at scale: inference is an extra full scan.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema + ", _corrupt_record STRING")
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, schema: str, header: bool = True) -> DataFrame:
    """CSV ingest with declared schema + PERMISSIVE bad-row tolerance."""
    return (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
