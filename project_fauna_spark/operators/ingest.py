"""Ingest-format operators: JSON/CSV round-trips and schema'd JSON
parsing — the non-parquet scan surface (SURVEY.md §2b scans).

Each round-trip query derives a deterministic file from a harness
table inside the query, writes it under a content-keyed /tmp path,
reads it back through the engine's schema-on-read ingest, and returns
the parsed rows; the oracle reproduces the expected output straight
from the base table, so the comparison certifies the whole
write→parse→project path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.io import load_table, read_csv, read_json
from project_fauna_spark.registry import register


def _roundtrip_dir(sf_dir: str, tag: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"fauna_ingest_{tag}_{key}")


@register(
    "ingest_jsonlines_roundtrip",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events WHERE event_id < 500
    """,
)
def ingest_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events slice → JSON-lines on disk → schema'd read → projection.

    Covers: JSON sink serialization, JSON-lines source with declared
    schema + PERMISSIVE mode, nested-string re-parse.
    """
    out = _roundtrip_dir(sf_dir, "json")
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    e.select("event_id", "event_type", "props").coalesce(1).write.mode("overwrite").json(out)
    back = read_json(spark, out, "event_id LONG, event_type STRING, props STRING")
    return back.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@register(
    "ingest_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey < 1000
    """,
)
def ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders slice → CSV with header → schema'd read.

    Doubles survive the text round-trip exactly: Spark writes the
    shortest round-trip decimal representation and parses it back to
    the identical binary double.
    """
    out = _roundtrip_dir(sf_dir, "csv")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").coalesce(1).write.mode(
        "overwrite"
    ).option("header", "true").csv(out)
    return read_csv(spark, out, "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")


@register(
    "ingest_from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           (json_extract_string(props, '$.k') IS NOT NULL) AS parsed_ok
    FROM events
    """,
)
def ingest_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with a declared struct schema (vs path extraction):
    the typed parse used when downstream wants real columns, not
    strings."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k LONG")
    return e.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["k"].isNotNull().alias("parsed_ok"),
    )


@register(
    "ingest_xml_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey < 500
    """,
)
def ingest_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer slice → XML on disk → schema'd XML read (Spark 4
    native ``format("xml")``).

    Covers the remaining text-format corner of the scan surface
    (parquet/ORC/JSON/CSV elsewhere).  Doubles survive because Spark
    writes shortest-round-trip decimals and parses them back to the
    identical binary — same argument as the CSV round-trip.
    """
    out = _roundtrip_dir(sf_dir, "xml")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    c.select("c_custkey", "c_name", "c_acctbal").coalesce(1).write.mode(
        "overwrite"
    ).option("rootTag", "customers").option("rowTag", "customer").format("xml").save(out)
    return (
        spark.read.schema("c_custkey LONG, c_name STRING, c_acctbal DOUBLE")
        .option("rowTag", "customer")
        .format("xml")
        .load(out)
    )


@register(
    "ingest_orc_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey < 500
    """,
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer slice → ORC on disk → self-describing columnar read.

    ORC carries its schema and encodes doubles losslessly, so the
    round-trip is bit-exact; covers the ORC source/sink pair of the
    scan surface (parquet, CSV, JSON, XML, ORC).
    """
    out = _roundtrip_dir(sf_dir, "orc")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    c.select("c_custkey", "c_name", "c_acctbal").coalesce(1).write.mode(
        "overwrite"
    ).orc(out)
    return spark.read.orc(out)


@register(
    "ingest_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey < 300
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey >= 300 AND o_orderkey < 600
    """,
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    different column sets (an old-schema batch and a new-schema batch)
    are unified by ``mergeSchema`` into one frame with NULLs where a
    batch lacks a column — the lake-ingest pattern for tables whose
    schema widened over time.

    ``mergeSchema`` costs one footer read per file (not a data scan);
    at 100 TB you pin the merged schema in a metastore instead, but
    the read path under test is identical.
    """
    out = _roundtrip_dir(sf_dir, "evolve")
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey", "o_orderstatus"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "b1"))
    o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 600)).select(
        "o_orderkey", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "b2"))
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(out)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "ingest_partitioned_pruning",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE lang IN ('en', 'de')
    """,
)
def ingest_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write → pruned read: documents written
    ``partitionBy(lang)``, then read back with a partition-column
    filter — the layout that turns a lang-sliced scan from full-corpus
    I/O into touching exactly the matching directories (PartitionFilters
    in the scan node, pinned by test_round4_properties).

    At 100 TB the partitioned write is the difference between a
    language slice costing |corpus| and costing |slice|; writer-side,
    ``partitionBy`` shuffles nothing by itself (each task writes its
    partitions' files — pair with a repartition(lang) upstream when
    low-cardinality output files matter).
    """
    # Path is keyed by (sf_dir, Spark application id): two concurrent
    # sessions on the same testdata (pytest + foreign-session sweep)
    # must never overwrite a directory the other is mid-read (ADVICE
    # r4); same-session re-runs still reuse/overwrite their own copy.
    key = sf_dir.strip("/").replace("/", "_")
    app_id = spark.sparkContext.applicationId
    out = os.path.join(tempfile.gettempdir(), f"fauna_part_lang_{key}_{app_id}")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    d.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "de"))
    # lang comes back as the partition directory column; re-select to
    # pin column order and types to the oracle.
    return back.select("doc_id", F.col("lang").cast("string").alias("lang"), "n_chars")


# --------------------------------------------------------------------------
# ingest_csv_malformed_audit — PERMISSIVE-mode corrupt-record accounting
# --------------------------------------------------------------------------

# Deterministic fixture: 40 good rows + 6 malformed lines covering the
# failure modes (short row, unparseable id, unparseable double, extra
# field, single field, short+bad).  num = i + 0.25 is dyadic, so the
# good-row sum (780 + 40·0.25 = 790.0) is exact and order-independent.
_CSV_GOOD = [(i, f"row{i}", f"{i}.25") for i in range(40)]
_CSV_BAD = [
    "100,onlytwo",
    "x,badid,3.5",
    "101,name,notanum",
    "102,name,4.5,extra",
    "bad",
    "y,z",
]
_CSV_SUM_GOOD = 790.0


def _malformed_csv_path(sf_dir: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"fauna_ingest_malformed_{key}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "data.csv")
    lines = ["id,name,num"]
    # interleave a bad line after every 8th good row, deterministically
    bad = list(_CSV_BAD)
    for i, (a, b, c) in enumerate(_CSV_GOOD):
        lines.append(f"{a},{b},{c}")
        if i % 8 == 7 and bad:
            lines.append(bad.pop(0))
    lines.extend(bad)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return d


@register(
    "ingest_csv_malformed_audit",
    oracle=f"""
    SELECT CAST({len(_CSV_GOOD) + len(_CSV_BAD)} AS BIGINT) AS n_rows,
           CAST({len(_CSV_GOOD)} AS BIGINT) AS n_good,
           CAST({len(_CSV_BAD)} AS BIGINT) AS n_corrupt,
           CAST({len(_CSV_BAD)} AS DOUBLE)
             / {len(_CSV_GOOD) + len(_CSV_BAD)} AS corrupt_frac,
           CAST('{_CSV_SUM_GOOD!r}' AS DOUBLE) AS sum_num_good
    """,
)
def ingest_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode dirty-CSV audit: read a fixture containing
    every classic malformation (short row, unparseable key,
    unparseable double, extra field, single token) with a declared
    schema + ``columnNameOfCorruptRecord``, and report the
    good/corrupt split and the numeric sum over CLEAN rows only — the
    quarantine accounting an ingestion pipeline emits before anyone
    trusts a feed (``ingest_csv_roundtrip`` proves lossless happy-path
    I/O; this proves the unhappy path is COUNTED, not silently
    dropped or crashed on).

    The fixture is generated from module constants, so the oracle is
    the closed-form expected audit row — the query's job is to make
    Spark's PERMISSIVE semantics reproduce it (probed: every
    malformation populates the corrupt column while still parsing the
    salvageable fields).  The clean-row sum is dyadic (k + 0.25) and
    therefore exact under any addition order.  The corrupt-column
    frame is cached before aggregation (Spark disallows queries over
    only the corrupt column on the lazy plan).  Scale: schema'd
    DataFrameReader with PERMISSIVE is the production path for
    multi-TB text feeds; the audit is one map-combined aggregate.
    """
    d = _malformed_csv_path(sf_dir)
    df = cached(
        spark.read.schema("id LONG, name STRING, num DOUBLE, _corrupt_record STRING")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(d)
    )
    is_bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(~is_bad, 1)).cast("long").alias("n_good"),
        F.count(F.when(is_bad, 1)).cast("long").alias("n_corrupt"),
        (F.count(F.when(is_bad, 1)).cast("double") / F.count("*")).alias(
            "corrupt_frac"
        ),
        F.sum(F.when(~is_bad, F.col("num"))).alias("sum_num_good"),
    )


# --------------------------------------------------------------------------
# ingest_fixed_width_parse — the mainframe/COBOL-era text layout
# --------------------------------------------------------------------------

_FW_KEY_W = 10  # zero-padded order key
_FW_STATUS_W = 1  # single-char status
_FW_PRICE_W = 24  # space-padded shortest-repr double


@register(
    "ingest_fixed_width_parse",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey < 1000
    """,
)
def ingest_fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text round-trip — the layout mainframe extracts and
    bank settlement files still arrive in: render an orders slice as
    35-char records (10-char zero-padded key, 1-char status, 24-char
    space-padded price), write real ``.txt`` files, read them back
    with ``spark.read.text`` and carve columns by SUBSTRING offsets —
    no delimiter anywhere, the schema lives entirely in the byte
    positions (the capability ``ingest_csv_roundtrip`` can't cover:
    there IS no separator to split on).

    Losslessness is by construction: Spark's double→string cast emits
    the shortest round-trip representation, so trim+cast restores the
    identical bits, and the zero-padded key strips back to the same
    long — the oracle reads the ORIGINAL rows, so any render/parse
    drift hash-fails.  Scale: the parse is three substrings per row,
    whole-stage codegen'd; fixed-width files split by line like any
    text source, so a 100 TB drop parallelizes per HDFS block.
    """
    out = _roundtrip_dir(sf_dir, "fixedwidth")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), _FW_KEY_W, "0"),
        F.col("o_orderstatus"),
        F.lpad(F.col("o_totalprice").cast("string"), _FW_PRICE_W, " "),
    )
    o.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.select(
        F.substring("value", 1, _FW_KEY_W).cast("long").alias("o_orderkey"),
        F.substring("value", _FW_KEY_W + 1, _FW_STATUS_W).alias("o_orderstatus"),
        F.trim(
            F.substring("value", _FW_KEY_W + _FW_STATUS_W + 1, _FW_PRICE_W)
        )
        .cast("double")
        .alias("o_totalprice"),
    )
