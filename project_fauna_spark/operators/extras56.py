"""Round-11 additions (2 seats, per the thaw-criterion throttle in
CLAUDE.md): the two production-pipeline gaps the registry still had.

``dq_psi_drift`` — Population Stability Index, THE standard production
drift monitor (credit-risk / ML-ops lineage; same family as the
KS statistic ``dq_ks_two_sample`` already covers, but PSI is the
binned, additive-per-bucket form operators actually alert on).
Reference parity target: the engine-side drift checks the reference
repo's pipeline asserts per batch (``/root/reference/pipeline.py``
output-contract checks) generalized to distribution level.

``sample_pps_systematic`` — probability-proportional-to-size
systematic sampling over the cumulative-weight line (Madow's method):
the one-pass weighted corpus subsampler (pick ~K docs with inclusion
probability proportional to n_chars) whose arithmetic is EXACTLY
integer, unlike Efraimidis-Spirakis keys (u^(1/w) needs pow/ln, whose
libm results are not bit-identical across engines — a top-K cut on
such keys is a float decision boundary the parity rules forbid).

Registered after extras55 so every pinned grading window is untouched;
joins a window only via GRADING_WINDOW once the re-grade debt is
serviced (CLAUDE.md round-11 notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.functions.ranks import bucket_offsets
from project_fauna_spark.io import load_table
from project_fauna_spark.plans.registry import register

_CUT = "2024-01-16 00:00:00"
_QS = [i / 10.0 for i in range(1, 10)]


@register(
    "dq_psi_drift",
    oracle=f"""
    WITH base_edges AS (
      SELECT event_type,
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS eg
      FROM events
      WHERE ts < TIMESTAMP '{_CUT}' AND value IS NOT NULL
      GROUP BY event_type
    ),
    b AS (
      SELECT e.event_type,
             CASE WHEN e.ts >= TIMESTAMP '{_CUT}' THEN 1 ELSE 0 END AS is_cur,
             CAST(e.value >= g.eg[1] AS INT) + CAST(e.value >= g.eg[2] AS INT)
           + CAST(e.value >= g.eg[3] AS INT) + CAST(e.value >= g.eg[4] AS INT)
           + CAST(e.value >= g.eg[5] AS INT) + CAST(e.value >= g.eg[6] AS INT)
           + CAST(e.value >= g.eg[7] AS INT) + CAST(e.value >= g.eg[8] AS INT)
           + CAST(e.value >= g.eg[9] AS INT) AS bucket
      FROM events e JOIN base_edges g USING (event_type)
      WHERE e.value IS NOT NULL AND e.ts IS NOT NULL
    ),
    counts AS (
      SELECT event_type, bucket,
             SUM(1 - is_cur) AS n_base, SUM(is_cur) AS n_cur
      FROM b GROUP BY event_type, bucket
    ),
    tot AS (
      SELECT event_type, SUM(n_base) AS tb, SUM(n_cur) AS tc
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, c.bucket, t.tb, t.tc,
             ((c.n_cur + 0.5) / (t.tc + 5.0) - (c.n_base + 0.5) / (t.tb + 5.0))
               * ln(((c.n_cur + 0.5) / (t.tc + 5.0))
                    / ((c.n_base + 0.5) / (t.tb + 5.0))) AS term
      FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           round(list_reduce(list(term ORDER BY bucket), (s, v) -> s + v), 9)
             AS psi_r9,
           CAST(MAX(tb) AS BIGINT) AS n_base,
           CAST(MAX(tc) AS BIGINT) AS n_cur
    FROM terms GROUP BY event_type
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type: baseline = first half
    of the month (ts < Jan 16, the ``dq_ks_two_sample`` split), current
    = second half; 10 buckets from the BASELINE's exact deciles,
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) with 0.5/bucket Laplace
    smoothing so an empty current bucket stays finite.

    Relation to ``dq_distribution_drift``: that op's "log-free PSI
    twin" deliberately avoided ln for parity and used fixed value
    bins; this is the canonical logarithmic PSI practitioners alert
    on, with data-driven (baseline-decile) bins — made parity-safe by
    the index-ordered fold below rather than by dropping the log.

    Float-parity spelling: bucket assignment is 9 integer comparisons
    against broadcast decile edges (the Spark ``percentile`` / DuckDB
    ``quantile_cont`` interpolation identity is pinned by
    ``agg_percentile_exact``); each term is computed per (type, bucket)
    row from exact integer counts, and the 10 doubles are summed by an
    INDEX-ORDERED fold (``F.aggregate`` over the bucket-sorted array /
    ``list_reduce`` over ``list(... ORDER BY bucket)``), never a
    cross-row SUM whose order the engines would choose differently.
    The ONLY cross-engine divergence left is libm-vs-JVM ``ln`` itself
    (≤1 ulp, observed live at sf0.01: a 2-ulp psi gap), absorbed the
    way ``text_tfidf_topk`` absorbs it: ``round(…, 9)`` on BOTH sides
    of an already-ulp-tight value (the ordered fold is what makes the
    pre-round gap ulp-scale; rounding alone would not be safe after an
    engine-ordered sum).  The ``_r9`` suffix flags the rounding.

    Scale: edges are exact per-group deciles (one sort of the baseline
    per 5-value group key — fine at current group cardinality); the
    DuckDB oracle's ``quantile_cont`` must see bit-identical edges.
    Everything after the edges is a broadcast of ≤9 edge values per
    group + one map-combined count aggregate over
    (type, bucket ≤ 10·|types| groups).
    """
    # ts IS NOT NULL symmetrically on BOTH sides (ADVICE r11): Spark's
    # (ts >= cut).cast('int') is NULL for NULL ts (row silently leaves
    # both n_base and n_cur), while a CASE ... ELSE 0 oracle would call
    # the same row baseline — a NULL-ts row must not be in either half.
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .filter(F.col("ts").isNotNull())
    )
    cut = F.lit(_CUT).cast("timestamp")
    qarr = ", ".join(f"{q:.1f}D" for q in _QS)
    edges = (
        e.filter(F.col("ts") < cut)
        .groupBy("event_type")
        .agg(F.expr(f"percentile(value, array({qarr}))").alias("eg"))
    )
    bucket = sum(
        (F.col("value") >= F.col("eg")[i]).cast("int") for i in range(9)
    ).alias("bucket")
    b = e.join(F.broadcast(edges), "event_type").select(
        "event_type",
        (F.col("ts") >= cut).cast("int").alias("is_cur"),
        bucket,
    )
    counts = b.groupBy("event_type", "bucket").agg(
        F.sum(1 - F.col("is_cur")).alias("n_base"),
        F.sum("is_cur").alias("n_cur"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    pc = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    pb = (F.col("n_base") + 0.5) / (F.col("tb") + 5.0)
    terms = counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bucket",
        "tb",
        "tc",
        ((pc - pb) * F.log(pc / pb)).alias("term"),
    )
    return terms.groupBy("event_type").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bucket", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            9,
        ).alias("psi_r9"),
        F.max("tb").cast("bigint").alias("n_base"),
        F.max("tc").cast("bigint").alias("n_cur"),
    )


@register(
    "sample_pps_systematic",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER () AS t
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST((25 * cum) // t AS BIGINT) AS pick_index
    FROM d
    WHERE (25 * cum) // t > (25 * (cum - n_chars)) // t
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling (Madow): lay the docs on the cumulative
    n_chars line in doc_id order and pick the doc containing each of
    the K=25 equally-spaced points — inclusion probability exactly
    proportional to document length, ONE pass, no RNG.  A doc is picked
    iff ⌊K·cum/T⌋ increments across its weight interval; pure int64
    arithmetic, so Spark and DuckDB agree bit-for-bit (this is why the
    weighted sampler is spelled PPS-systematic and not
    Efraimidis-Spirakis u^(1/w) keys — a top-K cut on libm pow/ln
    doubles is a cross-engine float decision boundary).

    Scale: the cumulative sum is the repo's two-phase bucketed cumsum
    (bucket = doc_id div 256; raw-data window carries its bucket key,
    offsets come from the broadcast ``bucket_offsets`` table whose own
    window runs over the bounded per-bucket aggregate) — never a
    single-task global window.  Int64 headroom: K·T overflows only
    past T ≈ 3.7e17 total chars (~370 PB of text at 1 B/char); past
    that, widen to DECIMAL(38,0).  K=25 spaced points over ~100 TB is
    one output row per ~4 TB — K in practice scales with the target
    sample, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    K = 25
    b = d.withColumn("bucket", F.expr("doc_id div 256"))
    offs = bucket_offsets(b, [], "bucket", F.col("n_chars"), total_alias="t")
    local = F.sum("n_chars").over(
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = b.join(F.broadcast(offs), "bucket").select(
        "doc_id",
        "lang",
        "n_chars",
        "t",
        (F.col("offset") + local).alias("cum"),
    )
    hi = F.expr(f"({K} * cum) div t")
    lo = F.expr(f"({K} * (cum - n_chars)) div t")
    return cum.filter(hi > lo).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        hi.cast("bigint").alias("pick_index"),
    )
