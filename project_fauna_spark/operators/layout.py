"""Physical-layout and sketch operators (round 3).

* ``layout_zorder_stats`` — Z-order (Morton) clustering of a fact
  table on two dimensions plus the per-bucket min/max statistics a
  data-skipping reader consumes: the layout-optimization story for
  multi-dimensional predicates at 100 TB (Delta/Iceberg ``ZORDER BY``,
  parquet footer min/max pruning).
* ``sketch_cms_heavy_hitters`` — count-min sketch frequency estimation
  over the event stream, compared against exact heavy-hitter counts.
  The sketch table is a fixed 4×256 grid of map-combinable counters, so
  at any scale the shuffle carries ≤1024 cells per partition, not the
  key universe.
* ``dedup_simhash_md5`` — SimHash near-dup candidates on a 16-bit
  md5-derived fingerprint: the oracle-checkable twin of
  ``dedup.dedup_simhash64`` (whose xxhash64 exists only in Spark).

All three are pure integer math (bit interleaving; md5-hex digit
hashing), so cross-engine parity is exact by construction.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.io import load_table
from project_fauna_spark.plans.registry import register

_ZBITS = 10  # 10 bits per dimension → 20-bit Morton code
_ZBUCKET_SHIFT = 14  # 2^20 codes / 2^14 = 64 buckets ("files")


def _morton(x: Column, y: Column, bits: int = _ZBITS) -> Column:
    """Interleave the low ``bits`` of x (even positions) and y (odd):
    the classic Z-order curve, as one codegen'd integer expression."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def _sql_morton(x: str, y: str, bits: int = _ZBITS) -> str:
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


@register(
    "layout_zorder_stats",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
             CAST((l_suppkey * 131 + l_linenumber) % 1024 AS BIGINT) AS y
      FROM lineitem
    ),
    z AS (
      SELECT x, y, ({_sql_morton('x', 'y')}) >> {_ZBUCKET_SHIFT} AS bucket
      FROM pts
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           NOT (MAX(x) >= 100 AND MIN(x) <= 163) AS prune_x,
           NOT (MAX(y) >= 400 AND MIN(y) <= 463) AS prune_y
    FROM z GROUP BY bucket
    """,
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics: map each lineitem row to a 20-bit
    Morton code over (partkey, suppkey) low bits, group the curve into
    64 equal code-range buckets (stand-ins for files), and emit the
    per-bucket min/max column ranges plus the pruning verdict for one
    probe predicate per dimension.

    This is exactly what ``OPTIMIZE ... ZORDER BY (a, b)`` buys at
    100 TB: because the Morton curve localizes BOTH dimensions, a
    64-value range predicate on either column overlaps only ~1/8 of
    the buckets (vs 100% of them for the non-clustered dimension of a
    lexicographic sort), and the reader skips the rest on footer
    min/max alone.  The query itself is one map-combined hash
    aggregation over a codegen'd integer expression — no shuffle wider
    than 64 groups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_partkey") % 1024).cast("long").alias("x"),
        ((F.col("l_suppkey") * 131 + F.col("l_linenumber")) % 1024)
        .cast("long")
        .alias("y"),
    )
    z = pts.select(
        "x", "y", F.shiftright(_morton(F.col("x"), F.col("y")), _ZBUCKET_SHIFT).alias("bucket")
    )
    stats = z.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    return stats.select(
        "bucket",
        "n",
        "min_x",
        "max_x",
        "min_y",
        "max_y",
        (~((F.col("max_x") >= 100) & (F.col("min_x") <= 163))).alias("prune_x"),
        (~((F.col("max_y") >= 400) & (F.col("min_y") <= 463))).alias("prune_y"),
    )


_CMS_DEPTH = 4
_HEXDIGITS = "0123456789abcdef"


def _cms_bucket(key: Column, j: int) -> Column:
    """Row-j CMS bucket of a key: first two hex chars of a salted md5,
    mapped to 0..255 via digit positions (portable — no hex→int cast
    needed on either engine)."""
    h = F.md5(F.concat(F.lit(f"cms{j}:"), key))
    hi = F.instr(F.lit(_HEXDIGITS), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit(_HEXDIGITS), F.substring(h, 2, 1)) - 1
    return (hi * 16 + lo).cast("int")


def _sql_cms_bucket(key: str, j: int) -> str:
    h = f"md5('cms{j}:' || {key})"
    return (
        f"CAST((strpos('{_HEXDIGITS}', substring({h}, 1, 1)) - 1) * 16"
        f" + (strpos('{_HEXDIGITS}', substring({h}, 2, 1)) - 1) AS INT)"
    )


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH keyed AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
    ),
    cells AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS j, {_sql_cms_bucket('k', j)} AS bucket, COUNT(*) AS c "
          f"FROM keyed GROUP BY 1, 2"
          for j in range(_CMS_DEPTH)
      )}
    ),
    exact AS (
      SELECT k, COUNT(*) AS exact_n FROM keyed GROUP BY k
      ORDER BY exact_n DESC, k LIMIT 20
    ),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT k, exact_n, {j} AS j, {_sql_cms_bucket('k', j)} AS bucket FROM exact"
          for j in range(_CMS_DEPTH)
      )}
    )
    SELECT CAST(p.k AS BIGINT) AS user_id, p.exact_n,
           MIN(c.c) AS cms_est,
           MIN(c.c) >= p.exact_n AS never_underestimates
    FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.k, p.exact_n
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: estimate event counts per user from a fixed
    4×256 counter grid, then compare against the exact counts of the
    top-20 heaviest users (the sketch's one-sided error guarantee —
    never an underestimate — is emitted as a checked column).

    Scale shape: the sketch build explodes each row into 4 (row,
    bucket) cells and map-combines them, so the shuffle after partial
    aggregation is ≤1024 rows per task REGARDLESS of the key
    cardinality — this is why CMS (not exact counting) is the
    streaming/distributed frequency primitive at 100 TB.  The exact
    side here exists only to verify the estimates; the probe join
    touches 80 broadcast rows.  Bucket hashing is md5-hex digit math,
    identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    cell_frames = [
        ev.groupBy(_cms_bucket(F.col("k"), j).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(j).alias("j"), "bucket", "c")
        for j in range(_CMS_DEPTH)
    ]
    cells = functools.reduce(lambda a, b: a.unionAll(b), cell_frames)
    # r12: pin the 20-row exact top-k — the 4 per-row probe projections
    # below each referenced it, so the unpinned spelling ran the full
    # exact groupBy + top-20 over events FOUR times (guide §5).
    exact = cached(
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "k")
        .limit(20)
    )
    probe_frames = [
        exact.select("k", "exact_n", F.lit(j).alias("j"), _cms_bucket(F.col("k"), j).alias("bucket"))
        for j in range(_CMS_DEPTH)
    ]
    probes = functools.reduce(lambda a, b: a.unionAll(b), probe_frames)
    return (
        F.broadcast(probes)
        .join(cells, ["j", "bucket"])
        .groupBy("k", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            F.col("k").cast("long").alias("user_id"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
        )
    )


def _h16(word: Column) -> Column:
    """Portable 16-bit word hash: first 4 hex digits of md5, mapped via
    digit positions (no hex→int cast on either engine)."""
    h = F.md5(word)
    val = F.lit(0)
    for pos in range(4):
        d = F.instr(F.lit(_HEXDIGITS), F.substring(h, pos + 1, 1)) - 1
        val = val * 16 + d
    return val.cast("long")


def _sql_h16(word: str) -> str:
    h = f"md5({word})"
    terms = [
        f"(strpos('{_HEXDIGITS}', substring({h}, {pos + 1}, 1)) - 1) * {16 ** (3 - pos)}"
        for pos in range(4)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "dedup_simhash_md5",
    oracle=f"""
    WITH wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY doc_id, word
    ),
    hashed AS (SELECT doc_id, {_sql_h16('word')} AS h, cnt FROM wc),
    votes AS (
      SELECT doc_id,
             {", ".join(
                 f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS v{i}"
                 for i in range(16)
             )}
      FROM hashed GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             CAST({" + ".join(
                 f"(CASE WHEN v{i} > 0 THEN 1 ELSE 0 END) * {1 << i}" for i in range(16)
             )} AS BIGINT) AS simhash
      FROM votes
    ),
    banded AS (
      SELECT doc_id, simhash, simhash >> 8 AS band_hi, simhash & 255 AS band_lo
      FROM fp
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.doc_id < b.doc_id
     AND (a.band_hi = b.band_hi OR a.band_lo = b.band_lo)
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate candidates with an EXACT cross-engine
    oracle: 16-bit fingerprints from md5-hex word hashes (every vote,
    bit, band, and Hamming distance integer-reproducible in DuckDB —
    the oracled twin of the xxhash64-based ``dedup_simhash64``, whose
    hash function exists only in Spark).

    Pipeline: per-doc word counts vote ±count on each of 16 bit
    positions; the sign vector is the fingerprint; two 8-bit bands
    block candidate pairs (any doc pair within Hamming distance 1
    shares a band by pigeonhole; the filter keeps distance ≤ 2);
    banded equi-joins + a bit_count(xor) verify.  Scale: one explode +
    one 16-column map-combined aggregate; the pair join is equi on
    band value — never all-pairs.  (The production variant widens to
    64 bits / 4 bands — ``dedup_simhash64`` — at identical plan
    shape; this one trades width for oracle checkability.)
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hashed = wc.select("doc_id", _h16(F.col("word")).alias("h"), "cnt")
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
                .otherwise(-F.col("cnt"))
            ).alias(f"v{i}")
            for i in range(16)
        ]
    )
    fp = None
    for i in range(16):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    banded = votes.select(
        "doc_id",
        fp.alias("simhash"),
        F.shiftright(fp, 8).alias("band_hi"),
        fp.bitwiseAND(F.lit(255)).alias("band_lo"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    hi = a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & (F.col("a.band_hi") == F.col("b.band_hi")))
    lo = a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & (F.col("a.band_lo") == F.col("b.band_lo")))
    pairs = hi.unionAll(lo)
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .distinct()
    )


@register(
    "layout_partition_size_audit",
    oracle="""
    WITH p AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
      FROM documents GROUP BY lang, source
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS all_docs,
                 CAST(SUM(total_bytes) AS BIGINT) AS all_bytes,
                 COUNT(*) AS n_parts FROM p)
    SELECT p.lang, p.source, CAST(p.n_docs AS BIGINT) AS n_docs, p.total_bytes,
           CAST(p.total_bytes AS DOUBLE) / t.all_bytes AS byte_share,
           CAST(p.total_bytes AS DOUBLE) / (CAST(t.all_bytes AS DOUBLE) / t.n_parts)
             AS skew_vs_even
    FROM p, t
    """,
)
def layout_partition_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout audit for a (lang, source) partitioning scheme:
    docs and bytes per would-be partition, byte share, and skew versus
    a perfectly even layout — the numbers that decide whether a
    partition column is usable (a skew_vs_even of 50× means one
    partition becomes the straggler on every scan).

    One map-combined aggregate to the partition keyspace + a 1-row
    broadcast of the totals; byte math is exact integers with two
    double divisions at the edge.
    """
    d = load_table(spark, sf_dir, "documents")
    nb = F.length(F.encode(F.col("text"), "UTF-8")).cast("long")
    p = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(nb).cast("long").alias("total_bytes"),
    )
    t = p.agg(
        F.sum("total_bytes").cast("long").alias("all_bytes"),
        F.count("*").alias("n_parts"),
    )
    return (
        p.join(F.broadcast(t))
        .select(
            "lang",
            "source",
            "n_docs",
            "total_bytes",
            (F.col("total_bytes").cast("double") / F.col("all_bytes")).alias("byte_share"),
            (
                F.col("total_bytes").cast("double")
                / (F.col("all_bytes").cast("double") / F.col("n_parts"))
            ).alias("skew_vs_even"),
        )
    )


# --------------------------------------------------------------------------
# layout_zone_map_pruning — file-skipping simulation, clustered vs
# scattered
# --------------------------------------------------------------------------


@register(
    "layout_zone_map_pruning",
    oracle="""
    WITH fc AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) // 32 AS file_id,
             MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx
      FROM orders GROUP BY 1
    ),
    fs AS (
      SELECT ascii(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) % 8
               AS file_id,
             MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx
      FROM orders GROUP BY 1
    ),
    months AS (
      SELECT DISTINCT date_trunc('month', o_orderdate) AS lo,
             date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS hi
      FROM orders
    )
    SELECT strftime(m.lo, '%Y-%m') AS pred_month,
           CAST((SELECT COUNT(*) FROM fc) AS BIGINT) AS n_files_clustered,
           CAST(COUNT(DISTINCT CASE WHEN fc.mx >= m.lo AND fc.mn < m.hi
                                    THEN fc.file_id END) AS BIGINT)
             AS scanned_clustered,
           CAST((SELECT COUNT(*) FROM fs) AS BIGINT) AS n_files_scattered,
           CAST((SELECT COUNT(*) FROM fs ss
                 WHERE ss.mx >= m.lo AND ss.mn < m.hi) AS BIGINT)
             AS scanned_scattered
    FROM months m CROSS JOIN fc
    GROUP BY m.lo, m.hi
    """,
)
def layout_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping simulation: for each
    month predicate, how many simulated files must be scanned after a
    date-clustered rewrite (files hold 32-day key ranges, so every
    zone map is tight and a month predicate touches ~1-2 files) versus
    a hash-scattered layout (every file spans nearly the full date
    range — zone maps prune only boundary months).  This difference IS
    the business case for clustering/Z-ordering; ``layout_zorder_
    stats`` measures the layout, this measures the scan cost it buys.
    (This corpus's orderkey does NOT correlate with orderdate, so an
    insertion-ordered layout prunes as badly as the scattered one —
    exactly the situation where the rewrite pays.)

    All counts are exact integers from two tiny per-file aggregates
    (one per layout) joined against a distinct-month predicate list —
    at 100 TB zone maps live in table-format metadata and this query
    is the planner's pruning estimate, one row per (predicate, layout).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # r12: pin the two per-file zone-map frames — each feeds BOTH its
    # scan-count join and its file-count scalar, so the unpinned
    # spelling aggregated the orders scan twice per layout (4 passes +
    # the months pass).  The pins are |files| rows (dozens), guide §5.
    fc = cached(
        o.groupBy(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 32"
            ).alias("file_id")
        ).agg(F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx"))
    )
    fs = cached(
        o.groupBy(
            (F.ascii(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)) % 8)
            .alias("file_id")
        ).agg(F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx"))
    )
    months = (
        o.select(F.date_trunc("month", "o_orderdate").alias("lo"))
        .distinct()
        .select("lo", F.add_months(F.col("lo"), 1).alias("hi"))
    )
    n_fc = fc.agg(F.count("*").alias("n_files_clustered"))
    n_fs = fs.agg(F.count("*").alias("n_files_scattered"))
    scan_c = (
        F.broadcast(months)
        .join(fc, (F.col("mx") >= F.col("lo")) & (F.col("mn") < F.col("hi")))
        .groupBy("lo")
        .agg(F.countDistinct("file_id").alias("scanned_clustered"))
    )
    scan_s = (
        F.broadcast(months)
        .join(fs, (F.col("mx") >= F.col("lo")) & (F.col("mn") < F.col("hi")))
        .groupBy("lo")
        .agg(F.count("*").alias("scanned_scattered"))
    )
    return (
        months.join(scan_c, "lo", "left")
        .join(scan_s, "lo", "left")
        .crossJoin(F.broadcast(n_fc))
        .crossJoin(F.broadcast(n_fs))
        .select(
            F.date_format("lo", "yyyy-MM").alias("pred_month"),
            F.col("n_files_clustered").cast("long").alias("n_files_clustered"),
            F.coalesce(F.col("scanned_clustered"), F.lit(0))
            .cast("long")
            .alias("scanned_clustered"),
            F.col("n_files_scattered").cast("long").alias("n_files_scattered"),
            F.coalesce(F.col("scanned_scattered"), F.lit(0))
            .cast("long")
            .alias("scanned_scattered"),
        )
    )


_TARGET_FILE_BYTES = 128 * 1024 * 1024  # compaction target: 128 MiB files
_EST_ROW_BYTES = 128  # deterministic per-row size estimate for the plan


@register(
    "layout_compaction_plan",
    oracle=f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           COUNT(*) AS n_rows,
           CAST(COUNT(*) * {_EST_ROW_BYTES} AS BIGINT) AS est_bytes,
           CAST(GREATEST(1, CAST(ceil(COUNT(*) * {_EST_ROW_BYTES}
               / CAST({_TARGET_FILE_BYTES} AS DOUBLE)) AS BIGINT)) AS BIGINT)
             AS target_files,
           CAST(ceil(COUNT(*) / CAST(GREATEST(1, CAST(ceil(COUNT(*) * {_EST_ROW_BYTES}
               / CAST({_TARGET_FILE_BYTES} AS DOUBLE)) AS BIGINT)) AS DOUBLE))
               AS BIGINT) AS rows_per_file
    FROM lineitem
    GROUP BY 1
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: per ship-month partition, the
    row count, estimated bytes, and the file count/size that hits the
    128 MiB target — the maintenance job every large parquet lake runs
    (OPTIMIZE/rewriteDataFiles produce exactly this plan before moving
    bytes).

    One map-combined aggregate over the partition column; integer
    math end-to-end (the single double division feeds a ceil), so the
    plan is bit-identical across engines.  At 100 TB the planner scans
    footer statistics, not data — this models the decision layer.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    per_month = li.groupBy(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month")
    ).agg(F.count("*").alias("n_rows"))
    est_bytes = F.col("n_rows") * _EST_ROW_BYTES
    target_files = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(est_bytes / F.lit(float(_TARGET_FILE_BYTES))),
    )
    return per_month.select(
        "ship_month",
        "n_rows",
        est_bytes.cast("long").alias("est_bytes"),
        target_files.cast("long").alias("target_files"),
        F.ceil(F.col("n_rows") / target_files.cast("double"))
        .cast("long")
        .alias("rows_per_file"),
    )


# --------------------------------------------------------------------------
# layout_deletion_vector_stats — merge-on-read DV audit
# --------------------------------------------------------------------------


@register(
    "layout_deletion_vector_stats",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS part_month,
           COUNT(*) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_deleted,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
             / COUNT(*) AS dv_density,
           CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus <> 'F') > 0
                THEN CAST(COUNT(*) AS DOUBLE)
                     / COUNT(*) FILTER (WHERE o_orderstatus <> 'F') END
             AS read_amplification,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') * 10 > COUNT(*) * 3
             AS rewrite_recommended
    FROM orders GROUP BY 1
    """,
)
def layout_deletion_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion-vector audit (the Delta/Iceberg DV
    pattern): per month partition, how much of the data is soft-deleted
    (here: status 'F' rows stand in for DV-marked rows), the read
    amplification a merge-on-read scan pays (rows scanned per live row
    returned), and whether compaction should rewrite the partition
    (density > 30% — an INTEGER cross-multiplication, no float
    threshold at the compared edge).

    One map-combined conditional aggregate per partition — the nightly
    lakehouse-maintenance planner shape; pairs with
    ``layout_compaction_plan`` (small-file planning) and
    ``cdc_tombstone_compaction`` (logical deletes).
    """
    o = load_table(spark, sf_dir, "orders")
    deleted = (F.col("o_orderstatus") == "F").cast("long")
    agg = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "part_month"
        )
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(deleted).cast("long").alias("n_deleted"),
    )
    live = F.col("n_rows") - F.col("n_deleted")
    return agg.select(
        "part_month",
        "n_rows",
        "n_deleted",
        (F.col("n_deleted").cast("double") / F.col("n_rows")).alias("dv_density"),
        F.when(live > 0, F.col("n_rows").cast("double") / live).alias(
            "read_amplification"
        ),
        (F.col("n_deleted") * 10 > F.col("n_rows") * 3).alias(
            "rewrite_recommended"
        ),
    )


# --------------------------------------------------------------------------
# sketch_kmv_distinct — bottom-k minimum values distinct estimator
# --------------------------------------------------------------------------

_KMV_K = 64
_H32_RANGE = 1 << 32


def _kmv_oracle() -> str:
    from project_fauna_spark.operators._oracle_shared import sql_h32 as _sql_h32

    hv = _sql_h32("CAST(l_partkey AS VARCHAR)", "kmv:")
    return f"""
    WITH u AS (SELECT DISTINCT l_partkey FROM lineitem),
    h AS (SELECT DISTINCT {hv} AS hv FROM u),
    bot AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 CAST(MAX(hv) AS BIGINT) AS kth_hash
          FROM bot),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM u)
    SELECT n_exact, k_used, kth_hash, estimate,
           estimate / n_exact - 1 AS rel_error
    FROM (
      SELECT n.n_exact, a.k_used, a.kth_hash,
             CASE WHEN a.k_used < {_KMV_K} THEN CAST(n.n_exact AS DOUBLE)
                  ELSE CAST((a.k_used - 1) * {_H32_RANGE} AS DOUBLE)
                       / CAST(a.kth_hash + 1 AS DOUBLE)
             END AS estimate
      FROM n, a
    )
    """


@register("sketch_kmv_distinct", oracle_builder=_kmv_oracle)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch over
    the parts referenced by lineitem, judged against the exact count:
    hash every key with the portable 32-bit salted md5 fold, keep the
    k = 64 smallest DISTINCT hash values, and estimate
    |D| ≈ (k−1)/u_(k) where u_(k) is the k-th smallest hash mapped to
    (0, 1] — the mergeable cardinality sketch that predates HLL
    (``agg_hll_sketch_merge`` covers Spark's native HLL; KMV is the
    one whose estimate an oracle can REPLAY exactly, because the
    bottom-k of a deterministic hash is itself deterministic).

    The estimate is one IEEE division of exact integers:
    (k−1)·2³² / (h_(k)+1).  Fewer than k distinct hashes → the sketch
    degenerates to the exact count (standard KMV behavior).  Scale:
    the bottom-k is a TakeOrdered (per-partition top-k, then a k-sized
    merge at the driver-side of the exchange — never a global sort),
    over hashes deduped map-side; the sketch state is k integers no
    matter how many keys stream through, and two sketches merge by
    taking the bottom-k of their union.
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    u = cached(
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    )
    h = u.select(
        _h32(F.col("l_partkey").cast("string"), "kmv:").alias("hv")
    ).distinct()
    bot = h.orderBy("hv").limit(_KMV_K)
    a = bot.agg(
        F.count("*").alias("k_used"), F.max("hv").alias("kth_hash")
    )
    n = u.agg(F.count("*").alias("n_exact"))
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("n_exact").cast("double")
    ).otherwise(
        ((F.col("k_used") - 1) * F.lit(_H32_RANGE)).cast("double")
        / (F.col("kth_hash") + 1).cast("double")
    )
    return (
        n.crossJoin(a)
        .select("n_exact", "k_used", "kth_hash", est.alias("estimate"))
        .select(
            "n_exact",
            "k_used",
            "kth_hash",
            "estimate",
            (F.col("estimate") / F.col("n_exact") - 1).alias("rel_error"),
        )
    )
