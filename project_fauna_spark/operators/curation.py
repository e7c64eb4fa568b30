"""Corpus-curation operators (round 3): the published LLM-data recipes.

Five first-class pipeline primitives modeled on public training-data
curation literature (all re-expressed Spark-first; no reference code —
the reference engine at /root/reference has no analogue for any of
these, they extend the north star's LLM-pipeline surface):

* ``dedup_exact_substring`` — Lee et al. 2022 ("Deduplicating Training
  Data Makes Language Models Better") exact-substring dedup at a fixed
  token-gram granularity: a position is duplicated when its 8-token
  window recurs anywhere in the corpus.
* ``llm_ccnet_buckets`` — CCNet-style (Wenzek et al. 2019) per-language
  head/middle/tail quality tertiles under a corpus LM score, with the
  tertile computed by an exact *distributed* NTILE (no per-language
  single-partition window).
* ``dedup_semantic_ivf`` — SemDeDup-style (Abbas et al. 2023) semantic
  dedup: cluster embeddings against a coarse codebook, and inside each
  cluster keep one representative of the near-centroid redundant pool.
* ``mv_incremental_merge`` — incremental materialized-view maintenance:
  merge yesterday's aggregate partials with today's delta partials and
  prove the merge equals a full recompute (the mergeable-state pattern
  every 100 TB rollup relies on).
* ``link_blocked_records`` — Fellegi–Sunter-shaped record linkage:
  blocked candidate generation + integer agreement-weight scoring.

Float-parity per ``plans/registry``: integer or decimal-accumulated
aggregates at compared edges, per-row IEEE double arithmetic only,
index-ordered vector folds, unique tie-breaks on every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import sql_token_grams_cte
from project_fauna_spark.operators._oracle_shared import _IVF_K, _ivf_centroid
from project_fauna_spark.plans.registry import register, sql_davg

# Shared k-token-gram helper lives in functions/shingles (non-registering);
# aliased here for the existing call sites and oracle f-strings.
from project_fauna_spark.functions.shingles import (  # noqa: E402
    GRAM_K as _GRAM_K,
    token_grams as _token_grams,
)


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH g AS ({sql_token_grams_cte(_GRAM_K)}),
    c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_share
    FROM g JOIN c USING (gram)
    GROUP BY g.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit (Lee et al. 2022): for every
    document, the share of its 8-token windows that recur anywhere in
    the corpus (including elsewhere in the same document) — the
    per-position signal exact-substring dedup cuts on.

    Shape: one corpus-linear gram explode, a map-combined gram-count
    aggregate (gram space is corpus-bounded), one equi join back on the
    gram key, one per-doc aggregate.  Two shuffles, both on real keys;
    counts are integers, the share is a single per-row double division
    at the edge.  At 100 TB the gram-count table is the big side and
    both shuffles partition on its key — no broadcast, no skew
    hotspot (gram frequencies are Zipfian but the join is
    aggregate-then-join, not explode-on-hot-key).
    """
    d = load_table(spark, sf_dir, "documents")
    # Single join-then-aggregate spelling, KEPT DELIBERATELY (r12 A/B):
    # the "shrink the build side" restructure (narrow per-doc n_grams
    # map + join-back of only the duplicated grams + left join) was
    # measured 1.4x SLOWER here — it still explodes the grams twice
    # (dup-count aggregate + join probe), exactly like this spelling,
    # and then adds a third join stage on top.  The whole vocabulary
    # fits the broadcast comfortably at any per-task scale because the
    # count aggregate reduces it before the join.  Numbers in
    # OPTIMIZATION_r12.md.
    g = d.select("doc_id", F.explode(_token_grams(F.col("text"))).alias("gram"))
    c = g.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).cast("long")
    return (
        g.join(c, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.alias("n_dup_grams"),
        )
        .withColumn(
            "dup_share", F.col("n_dup_grams").cast("double") / F.col("n_grams")
        )
    )


def _grouped_ntile(
    df: DataFrame, group: str, order_cols, n_buckets: int, out_col: str
) -> DataFrame:
    """Exact per-group NTILE with no per-group single-partition window.

    The grouped twin of ``eventseries._distributed_ntile``: range-
    repartition on (group, order…) so each group's rows land in few
    contiguous partitions, rank inside (partition, group), then rebuild
    each group's global rank from the tiny (partition × group) count
    grid (broadcast triangular join) and apply the SQL NTILE formula
    against the per-group total.  Bit-identical to
    ``ntile(n) OVER (PARTITION BY group ORDER BY order…)`` because the
    trailing unique tie-break makes each group's order total — but a
    billion-document language never funnels through one task.
    """
    ranged = df.repartitionByRange(F.col(group), *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("_pid", group).orderBy(*order_cols)
    # `local` feeds TWO branches (the (partition × group) count grid and
    # the final rank join): persist it so the input plan — for
    # llm_ccnet_buckets the full explode→join→aggregate scoring pipeline
    # — and the range shuffle + rank window execute once, not per branch
    # (r12; guide §5 persist-on-reuse).  One pin covers everything
    # upstream; release_cached() drops it between invocations.
    local = cached(ranged.withColumn("_lrn", F.row_number().over(w_local).cast("long")))
    counts = local.groupBy("_pid", group).agg(F.count(F.lit(1)).alias("_c"))
    prior = counts.select(
        F.col("_pid").alias("_pid2"), F.col(group).alias("_g2"), F.col("_c").alias("_c2")
    )
    offsets = (
        counts.join(
            F.broadcast(prior),
            (F.col("_g2") == F.col(group)) & (F.col("_pid2") < F.col("_pid")),
            "left",
        )
        .groupBy("_pid", group)
        .agg(F.coalesce(F.sum("_c2"), F.lit(0)).alias("_off"))
    )
    totals = counts.groupBy(group).agg(F.sum("_c").alias("_n"))
    rn = F.col("_lrn") + F.col("_off")
    n, k = F.col("_n"), F.lit(n_buckets)
    q = F.floor(n / k)
    r = n % k
    cutoff = r * (q + 1)
    bucket = F.when(rn <= cutoff, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - cutoff) / F.greatest(q, F.lit(1)))
    )
    return (
        local.join(F.broadcast(offsets), ["_pid", group])
        .join(F.broadcast(totals), group)
        .withColumn(out_col, bucket.cast("long"))
        .drop("_pid", "_lrn", "_off", "_n")
    )


@register(
    "llm_ccnet_buckets",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    w2 AS (SELECT * FROM w WHERE word <> ''),
    wc AS (SELECT word, COUNT(*) AS c FROM w2 GROUP BY word),
    t AS (SELECT COUNT(*) AS n FROM w2),
    s AS (
      SELECT w2.doc_id, w2.lang,
             {sql_davg('CAST(wc.c AS DOUBLE) / t.n')} AS lm_score
      FROM w2 JOIN wc USING (word) CROSS JOIN t
      GROUP BY w2.doc_id, w2.lang
    )
    SELECT doc_id, lang, lm_score,
           CAST(ntile(3) OVER (PARTITION BY lang
                               ORDER BY lm_score DESC, doc_id) AS BIGINT) AS bucket
    FROM s
    """,
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality tertiles: score every document
    by its mean corpus word frequency (the log-free LM-fluency proxy —
    libm ``log`` is not cross-engine bit-stable, and the monotone
    transform ranks documents identically), then split each language
    into head (1) / middle (2) / tail (3) tertiles.

    The tertile is an exact distributed NTILE (:func:`_grouped_ntile`)
    — CCNet's per-language bucketing is the canonical skewed window
    (one language can be half the corpus), so no per-language
    single-task sort appears anywhere.  Word frequencies are a
    vocabulary-bounded aggregate joined back on the word key; the doc
    score is a decimal-accumulated mean of per-row exact double ratios.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    wc = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # Corpus word total from the vocabulary aggregate, NOT a third full
    # pass over the exploded words (r12): Σ per-word counts == COUNT(*)
    # of w exactly (int64), so `n` is bit-identical while the plan
    # drops one whole explode+filter subtree (guide §2.3).
    t = wc.agg(F.sum("c").alias("n"))
    s = (
        w.join(wc, "word")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum(
                    (F.col("c").cast("double") / F.col("n")).cast("decimal(30,8)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("lm_score")
        )
    )
    return _grouped_ntile(
        s, "lang", [F.col("lm_score").desc(), F.col("doc_id")], 3, "bucket"
    ).select("doc_id", "lang", "lm_score", "bucket")


_SEM_TAU = 0.22  # ~p80 of cos-to-assigned-centroid on the testdata distribution


def _centroid_sq_norm(k: int) -> float:
    """Σ cᵢ² of codebook vector ``k``, left-folded in index order HERE
    so both engines consume one identical literal.  (DuckDB's
    ``list_reduce`` over a constant list and the JVM fold disagree in
    the last ulp on this sum — precomputing the codebook norms, as any
    real ANN system does, removes the only cross-engine float edge.)"""
    acc = 0.0
    for x in _ivf_centroid(k):
        acc = acc + x * x
    return acc


def _sem_cents_sql() -> str:
    """Codebook VALUES rows with every element VARCHAR-routed to DOUBLE.

    Bare ``0.8333333333333334``-style literals in a VALUES list are
    typed DECIMAL by DuckDB, and the later per-element DECIMAL→DOUBLE
    coercion double-rounds (int128 payload → double, then ÷10^scale) —
    one ulp off the correctly-rounded parse for the 1/3-family
    rationals.  ``CAST('…' AS DOUBLE)`` parses once, correctly rounded,
    identical to the Python/JVM literal (the registry's VARCHAR-route
    rule, applied to literals instead of aggregates)."""
    rows = []
    for k in range(_IVF_K):
        lits = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _ivf_centroid(k))
        rows.append(f"({k}, [{lits}], CAST('{_centroid_sq_norm(k)!r}' AS DOUBLE))")
    return ", ".join(rows)


@register(
    "dedup_semantic_ivf",
    oracle=f"""
    WITH cents(k, c, cn) AS (VALUES {_sem_cents_sql()}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    scored AS (
      SELECT e.vec_id, e.emb, cents.k,
             list_reduce(list_transform(range(1, len(e.emb)+1),
                                        i -> e.emb[i] * cents.c[i]),
                         (s, v) -> s + v) AS dp
      FROM e CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, emb, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored) WHERE rn = 1
    ),
    cosd AS (
      SELECT a.vec_id, a.cell,
             list_reduce(list_transform(range(1, len(a.emb)+1),
                                        i -> a.emb[i] * cents.c[i]),
                         (s, v) -> s + v)
             / sqrt( list_reduce(list_transform(a.emb, x -> x*x), (s,v) -> s+v)
                   * cents.cn ) AS cos
      FROM assigned a JOIN cents ON cents.k = a.cell
    ),
    red AS (
      SELECT vec_id, cell, cos,
             row_number() OVER (PARTITION BY cell
                                ORDER BY cos DESC, vec_id) AS rk
      FROM cosd WHERE cos >= {_SEM_TAU}
    )
    SELECT vec_id, cell, cos,
           CASE WHEN rk = 1 THEN 'keep' ELSE 'drop' END AS action
    FROM red
    UNION ALL
    SELECT vec_id, cell, cos, 'keep' AS action
    FROM cosd WHERE cos < {_SEM_TAU}
    """,
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every embedding to its
    nearest coarse-codebook centroid (the ``sim_ann_ivf`` quantizer),
    then inside each cell treat the near-centroid pool
    (cos ≥ 0.22, ~p80 of the testdata distribution) as semantically
    redundant and keep only its closest representative;
    far-from-centroid vectors are all kept.

    Shape: one broadcast of the 8-row codebook, a per-vec_id argmax
    window (reduced before any shuffle), one per-cell ranking window
    over the redundant pool only (cells are corpus/K-sized — the
    groupBy shape, not a global window), and a union with the
    pass-through pool.  Every cosine is the index-ordered double fold,
    bit-equal to the oracle's ``list_reduce``; the threshold compare is
    therefore also exact.  At 100 TB the codebook is trained by
    ``ml_kmeans_lloyd`` and K grows ∝ √N, keeping cells bounded.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    cents = spark.createDataFrame(
        [(k, _ivf_centroid(k), _centroid_sq_norm(k)) for k in range(_IVF_K)],
        "k int, c array<double>, cn double",
    )
    dp = F.aggregate(
        F.zip_with(F.col("emb"), F.col("c"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    # Argmax centroid via the struct-extrema aggregate (r12): the
    # lexicographic max(struct(dp, k, emb)) equals the first row under
    # ORDER BY dp DESC, k DESC (k is unique per vec_id, so the
    # comparison never reaches emb — it just rides along), and the
    # map-combined hash aggregate replaces a full sort window over
    # |corpus|×K rows (guide §2.3).
    best = F.max(F.struct(F.col("dp"), F.col("k"), F.col("emb")))
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("dp", dp)
        .groupBy("vec_id")
        .agg(best.alias("b"))
        .select("vec_id", F.col("b.emb").alias("emb"), F.col("b.k").alias("cell"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb"), F.col("c"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    na = F.aggregate(
        F.transform(F.col("emb"), lambda x: x * x), F.lit(0.0), lambda s, v: s + v
    )
    cosd = (
        assigned.join(F.broadcast(cents), assigned.cell == cents.k)
        .select("vec_id", "cell", (dot / F.sqrt(na * F.col("cn"))).alias("cos"))
    )
    # ONE ranking pass instead of union(ranked pool, pass-through):
    # the old spelling filtered cosd twice (complementary predicates)
    # and unioned, executing the whole assignment subtree twice (r12).
    # Ranking the FULL cell under the same ORDER BY cos DESC, vec_id
    # gives every cos ≥ τ row the exact rank it had in the filtered
    # pool — the dropped rows (cos < τ) all sort strictly after — so
    # the action column is value-identical and the pass-through rows
    # never consult rk.
    w_rank = W.partitionBy("cell").orderBy(F.col("cos").desc(), "vec_id")
    return (
        cosd.withColumn("rk", F.row_number().over(w_rank))
        .select(
            "vec_id",
            "cell",
            "cos",
            F.when(
                F.col("cos") >= _SEM_TAU,
                F.when(F.col("rk") == 1, F.lit("keep")).otherwise(F.lit("drop")),
            )
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )


_MV_CUTOFF = "1997-01-01"


@register(
    "mv_incremental_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority, COUNT(*) AS cnt,
             SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) AS tot,
             MAX(o_totalprice) AS mx
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_orderpriority
    ),
    delta AS (
      SELECT o_orderpriority, COUNT(*) AS cnt,
             SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(30,8))) AS tot,
             MAX(o_totalprice) AS mx
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_orderpriority
    ),
    merged AS (
      SELECT o_orderpriority,
             CAST(SUM(cnt) AS BIGINT) AS n_orders,
             CAST(CAST(SUM(tot) AS VARCHAR) AS DOUBLE) AS total_price,
             MAX(mx) AS max_price
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY o_orderpriority
    )
    SELECT * FROM merged
    """,
)
def mv_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the historical
    aggregate (orders before 1997-01-01) and the new-batch delta aggregate
    are merged by re-aggregating their *partial states* — count partials
    sum, decimal sum partials sum exactly, max partials max — instead of
    recomputing over all rows.  The oracle IS the same two-partials
    merge in DuckDB; the repo's invariant test additionally proves the
    merge equals a cold full recompute.

    This is the pattern every 100 TB rollup pipeline relies on: a day's
    delta touches only delta-sized data, and the merge is a
    keyspace-sized aggregate.  Decimal accumulation makes the partial
    sums associative *exactly*, so merge order (and therefore partition
    order) cannot perturb the double edge.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(30,8)")).alias("tot"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.sum("tot").cast("double").alias("total_price"),
            F.max("mx").alias("max_price"),
        )
    )


@register(
    "link_blocked_records",
    oracle="""
    SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
           CAST(CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS BIGINT) AS type_agree,
           CAST(CASE WHEN split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
                THEN 1 ELSE 0 END AS BIGINT) AS noun_agree,
           CAST(CASE WHEN abs(a.p_retailprice - b.p_retailprice) < 1.0
                THEN 1 ELSE 0 END AS BIGINT) AS price_close,
           CAST(3 * (CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END)
              + 2 * (CASE WHEN split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
                     THEN 1 ELSE 0 END)
              + 1 * (CASE WHEN abs(a.p_retailprice - b.p_retailprice) < 1.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS score
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE 3 * (CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END)
        + 2 * (CASE WHEN split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
               THEN 1 ELSE 0 END)
        + 1 * (CASE WHEN abs(a.p_retailprice - b.p_retailprice) < 1.0
               THEN 1 ELSE 0 END) >= 3
    """,
)
def link_blocked_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter-shaped record linkage on the part catalog:
    candidate pairs are generated only inside (brand, size) blocks —
    never all-pairs — and scored by integer agreement weights
    (type=3, name-noun=2, price-within-1.0=1); pairs scoring ≥ 3
    survive as match candidates.

    Blocking is the linkage scale move: the join shuffles both sides on
    the composite block key, and the quadratic blow-up is bounded by the
    largest block (here ≤ 7 rows; in production the blocking key is
    chosen/composed until blocks are bounded, exactly as done here with
    brand × size rather than brand alone).  All weights and compares
    are integers or exact per-row double arithmetic — no float edge.
    """
    p = load_table(spark, sf_dir, "part")
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    j = a.join(
        b,
        (F.col("a_p_brand") == F.col("b_p_brand"))
        & (F.col("a_p_size") == F.col("b_p_size"))
        & (F.col("a_p_partkey") < F.col("b_p_partkey")),
    )
    type_agree = F.when(F.col("a_p_type") == F.col("b_p_type"), 1).otherwise(0)
    noun_agree = F.when(
        F.element_at(F.split("a_p_name", " "), 2)
        == F.element_at(F.split("b_p_name", " "), 2),
        1,
    ).otherwise(0)
    price_close = F.when(
        F.abs(F.col("a_p_retailprice") - F.col("b_p_retailprice")) < 1.0, 1
    ).otherwise(0)
    score = (3 * type_agree + 2 * noun_agree + 1 * price_close).cast("long")
    return (
        j.select(
            F.col("a_p_partkey").alias("pk_a"),
            F.col("b_p_partkey").alias("pk_b"),
            type_agree.cast("long").alias("type_agree"),
            noun_agree.cast("long").alias("noun_agree"),
            price_close.cast("long").alias("price_close"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 3)
    )
