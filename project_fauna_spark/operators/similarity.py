"""Similarity search over the ``embeddings`` table (array<float>).

North-star surface (SURVEY.md §2b): brute-force cosine top-k as the
exactness baseline, a sign-bit LSH bucketed variant as the scale path,
and label-centroid scoring as the clustered/IVF pattern.

Cross-engine determinism: cosine is computed as an index-ordered left
fold in double (`F.aggregate` in Spark, `list_reduce` in DuckDB) —
float32 inputs cast exactly to double, identical operation order →
bit-identical results (verified: 0 mismatches over all pairs), so the
oracle can compare raw double similarity values, not just ids.

Scale design (100 TB):

* Brute-force per-query top-k is a broadcast of the (small) query set
  against a partitioned corpus scan — linear, no shuffle of the corpus,
  top-k folded per partition before the final merge.
* The LSH variant buckets by sign bits of leading dimensions: the join
  becomes equi on bucket id — candidates per query drop from N to
  N/2^bits, the classic recall/cost dial.  At real scale the bits come
  from random hyperplanes (see dedup.dedup_minhash_lsh for the hashed
  flavor); sign-of-dimension keeps it SQL-expressible so the oracle can
  check it exactly.
* Centroid scoring is the IVF pattern: one tiny centroid table
  (broadcast), one linear pass — exact decimal accumulation makes the
  centroid reproducible regardless of shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.centroids import (
    FOLD_K as _FOLD_K,
    label_centroids,
    sql_centroid_ctes,
)
from project_fauna_spark.functions.vectors import cosine_sim, euclidean_dist
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_ANN_IVF,
    SQL_COS,
    _IVF_K,
    _ivf_centroid,
    _ivf_sql_values,
)
from project_fauna_spark.registry import davg, register, sql_davg

_SQL_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "sim_knn_brute_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_EMB_D} AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {SQL_COS.format(a='q.qemb', b='e.emb')} AS cos
      FROM q JOIN e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def sim_knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each of 20 query vectors.

    Broadcast the query set against a single linear corpus scan; the
    per-query top-k folds inside the window (WindowGroupLimit pushes
    the k-filter below the shuffle).
    """
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = (
        e.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb"))
    )
    sims = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_sim(F.col("qemb"), F.col("embedding")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return sims.select(
        "query_id", "neighbor_id", "cos", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= 5)


def sign_bucket(emb: Column, bits: int = 6) -> Column:
    """LSH bucket id from the sign bits of the first ``bits`` dims."""
    out = F.lit(0)
    for i in range(bits):
        bit = F.when(F.element_at(emb, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        out = out * 2 + bit
    return out.cast("int")


@register(
    "sim_ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {_SQL_EMB_D} AS emb,
             CAST(
               (CASE WHEN embedding[1] >= 0 THEN 32 ELSE 0 END) +
               (CASE WHEN embedding[2] >= 0 THEN 16 ELSE 0 END) +
               (CASE WHEN embedding[3] >= 0 THEN 8 ELSE 0 END) +
               (CASE WHEN embedding[4] >= 0 THEN 4 ELSE 0 END) +
               (CASE WHEN embedding[5] >= 0 THEN 2 ELSE 0 END) +
               (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) AS INT) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb, bucket FROM e WHERE vec_id < 50),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, q.bucket,
             {SQL_COS.format(a='q.qemb', b='e.emb')} AS cos
      FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, bucket, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors: candidates share a 6-bit sign-LSH
    bucket, so the similarity join is EQUI on bucket id (shuffle by
    bucket, ~N/64 candidates per query) instead of a full scan."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding", sign_bucket(F.col("embedding")).alias("bucket"))
    queries = (
        base.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"),
            F.col("bucket").alias("qbucket"),
        )
    )
    sims = (
        base.join(
            queries,
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            cosine_sim(F.col("qemb"), F.col("embedding")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return sims.select(
        "query_id", "neighbor_id", "bucket", "cos", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= 3)


@register(
    "sim_label_centroid",
    oracle=f"""
    WITH {sql_centroid_ctes(_FOLD_K)}
    SELECT e.vec_id, e.label,
           {SQL_COS.format(a='e.emb', b='c.centroid')} AS cos_to_centroid
    FROM e JOIN cent c ON e.label = c.label
    """,
)
def sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every vector to its label centroid (IVF pattern).

    Centroid = elementwise mean via a TWO-LEVEL fixed-order fold:
    level 1 groups by (label, vec_id div {K}) and folds each bucket's
    ≤ {K} vectors in vec_id order; level 2 folds the bucket partials
    in bucket order.  Per-group state is bounded by the fold width at
    level 1 and by n/{K} partials at level 2 (add levels for more
    headroom) — no unbounded collect_list of a whole label's vectors.
    The fold order is fixed at both levels, so the double sums are
    reproducible AND bit-identical to the oracle's identical two-level
    fold.  (Decimal accumulation is not usable here: DuckDB's
    double→decimal cast rounds through a double multiply, so the two
    engines disagree in the last ulps.)  The centroid table is tiny →
    broadcast; scoring is one linear pass.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e, _FOLD_K)
    return (
        e.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            cosine_sim(F.col("embedding"), F.col("centroid")).alias("cos_to_centroid"),
        )
    )


@register(
    "sim_radius_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_EMB_D} AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 10)
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {SQL_COS.format(a='q.qemb', b='e.emb')} AS cos
    FROM q JOIN e ON e.vec_id <> q.query_id
    WHERE {SQL_COS.format(a='q.qemb', b='e.emb')} >= 0.3
    """,
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL neighbors within cosine
    >= 0.3 of each query vector — the ε-ball companion of top-k kNN.

    Same broadcast-queries × linear-corpus-scan shape as
    ``sim_knn_brute_cosine``, but the selection is a predicate rather
    than a window: no shuffle at all after the scan (filter folds into
    the broadcast-join stage).  At 100 TB the scan parallelizes per
    file split; the query side stays a few KB."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = (
        e.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb"))
    )
    return (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_sim(F.col("qemb"), F.col("embedding")).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )


# --------------------------------------------------------------------------
# sim_matryoshka_prefix_recall / sim_ivf_nprobe_sweep — MRL funnel audit
# and IVF tuning curve
# --------------------------------------------------------------------------

_MRL_PREFIX = 16
_MRL_TOPK = 10
_MRL_QUERY_MOD = 100

_SQL_DOT_FULL = (
    "list_reduce(list_transform(range(1, len({a})+1),"
    " i -> {a}[i] * {b}[i]), (s, v) -> s + v)"
)
_SQL_DOT_PREFIX = (
    f"list_reduce(list_transform(range(1, {_MRL_PREFIX}+1),"
    " i -> {a}[i] * {b}[i]), (s, v) -> s + v)"
)


@register(
    "sim_matryoshka_prefix_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e
          WHERE vec_id % {_MRL_QUERY_MOD} = 0),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_SQL_DOT_FULL.format(a="q.qemb", b="e.emb")} AS dp_full,
             {_SQL_DOT_PREFIX.format(a="q.qemb", b="e.emb")} AS dp_prefix
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dp_full DESC, neighbor_id) AS rn
        FROM pairs) WHERE rn <= {_MRL_TOPK}
    ),
    prefix_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dp_prefix DESC, neighbor_id) AS rn
        FROM pairs) WHERE rn <= {_MRL_TOPK}
    )
    SELECT f.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_MRL_TOPK} AS prefix_recall
    FROM full_top f
    LEFT JOIN prefix_top p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-embedding funnel audit: how much of the exact
    full-dimension top-10 survives when ranking uses only the leading
    16 of 64 dims — the number that says whether the MRL serving
    funnel (cheap prefix scan → full-dim rerank of survivors) can cut
    scan cost 4× at a given candidate multiplier.

    Both rankings are index-ordered double folds (``sim_ann_ivf``
    convention) with unique-id tie-breaks; recall is one division of
    exact integers.  Scale: queries are a fixed-modulus sample, so the
    truth join is broadcast-bounded; the production funnel this audits
    scans prefix dims for the corpus (¼ the bytes, same partitioning)
    and reranks only top-k·ε candidates at full width.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    q = e.filter(F.col("vec_id") % _MRL_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    dp_full = F.aggregate(
        F.zip_with("qemb", "emb", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    dp_prefix = F.aggregate(
        F.zip_with(
            F.slice("qemb", 1, _MRL_PREFIX),
            F.slice("emb", 1, _MRL_PREFIX),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dp_full.alias("dp_full"),
        dp_prefix.alias("dp_prefix"),
    )
    scored = cached(scored)
    w_full = W.partitionBy("query_id").orderBy(F.col("dp_full").desc(), "neighbor_id")
    w_pre = W.partitionBy("query_id").orderBy(
        F.col("dp_prefix").desc(), "neighbor_id"
    )
    full_top = (
        scored.withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= _MRL_TOPK)
        .select("query_id", "neighbor_id")
    )
    prefix_top = (
        scored.withColumn("rn", F.row_number().over(w_pre))
        .filter(F.col("rn") <= _MRL_TOPK)
        .select(
            F.col("query_id").alias("p_query_id"),
            F.col("neighbor_id").alias("p_neighbor_id"),
        )
    )
    return (
        full_top.join(
            prefix_top,
            (F.col("query_id") == F.col("p_query_id"))
            & (F.col("neighbor_id") == F.col("p_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("p_neighbor_id").alias("n_overlap"),
            (F.count("p_neighbor_id").cast("double") / F.lit(float(_MRL_TOPK))).alias(
                "prefix_recall"
            ),
        )
    )


_SWEEP_MAX_NPROBE = 4
_SWEEP_TOPK = 5


def _nprobe_sweep_oracle() -> str:
    dot = _SQL_DOT_FULL
    return f"""
    WITH cents(k, c) AS (VALUES {_ivf_sql_values()}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    scored AS (
      SELECT e.vec_id, e.emb, cents.k,
             {dot.format(a="e.emb", b="cents.c")} AS dp
      FROM e CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, emb, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, emb AS qemb, k AS cell, rn AS cell_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored WHERE vec_id % {_MRL_QUERY_MOD} = 0)
      WHERE rn <= {_SWEEP_MAX_NPROBE}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {dot.format(a="p.qemb", b="e.emb")} DESC,
                                           e.vec_id) AS rn
        FROM (SELECT DISTINCT query_id, qemb FROM probes) p
        JOIN e ON e.vec_id <> p.query_id) WHERE rn <= {_SWEEP_TOPK}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             MIN(p.cell_rank) AS min_rank,
             {dot.format(a="p.qemb", b="a.emb")} AS dp
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
      GROUP BY p.query_id, a.vec_id, {dot.format(a="p.qemb", b="a.emb")}
    ),
    sweep AS (SELECT unnest(range(1, {_SWEEP_MAX_NPROBE} + 1)) AS nprobe),
    ivf_top AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT s.nprobe, c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY s.nprobe, c.query_id
                                  ORDER BY c.dp DESC, c.neighbor_id) AS rn
        FROM sweep s JOIN cand c ON c.min_rank <= s.nprobe)
      WHERE rn <= {_SWEEP_TOPK}
    )
    SELECT s.nprobe,
           CAST((SELECT COUNT(DISTINCT query_id) FROM probes) AS BIGINT)
             AS n_queries,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE)
             / ((SELECT COUNT(DISTINCT query_id) FROM probes) * {_SWEEP_TOPK})
             AS recall_at_{_SWEEP_TOPK}
    FROM sweep s
    CROSS JOIN truth t
    LEFT JOIN ivf_top i ON i.nprobe = s.nprobe
                       AND i.query_id = t.query_id
                       AND i.neighbor_id = t.neighbor_id
    GROUP BY s.nprobe
    """


@register("sim_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: exact recall@5 against brute-force truth for
    nprobe = 1..4 — the measurement that picks an index's operating
    point (recall vs fraction-of-corpus-scanned), closing the IVF
    tuning loop the way ``dedup_minhash_recall_audit`` closes MinHash
    banding.

    Candidates are computed ONCE with each neighbor's best (lowest)
    probed-cell rank; the sweep is then a tiny range join on
    ``min_rank <= nprobe`` — probing 4 budgets costs one candidate
    pass, not four.  Hit counts are integers; recall is one division.
    Scale: truth is bounded to the fixed-modulus query sample
    (broadcast); the candidate join is EQUI on cell id; nothing
    all-pairs.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    cents = spark.createDataFrame(
        [(k, _ivf_centroid(k)) for k in range(_IVF_K)], schema="k int, c array<double>"
    )
    dp_c = F.aggregate(
        F.zip_with("emb", "c", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "emb", "k", dp_c.alias("dp")
    )
    w_cell = W.partitionBy("vec_id").orderBy(F.col("dp").desc(), F.col("k").desc())
    # Both the corpus assignment and the probe list read the ranked
    # frame — persist it so the codebook scoring + window run once.
    ranked = cached(scored.withColumn("rn", F.row_number().over(w_cell)))
    assigned = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "emb", F.col("k").alias("cell")
    )
    probes = (
        ranked.filter(
            (F.col("vec_id") % _MRL_QUERY_MOD == 0) & (F.col("rn") <= _SWEEP_MAX_NPROBE)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("k").alias("cell"),
            F.col("rn").alias("cell_rank"),
        )
    )
    probes = cached(probes)
    queries = probes.select("query_id", "qemb").distinct()
    dp_q = F.aggregate(
        F.zip_with("qemb", "emb", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    w_truth = W.partitionBy("query_id").orderBy(F.col("dp").desc(), "neighbor_id")
    truth = (
        e.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), dp_q.alias("dp"))
        .withColumn("rn", F.row_number().over(w_truth))
        .filter(F.col("rn") <= _SWEEP_TOPK)
        .select("query_id", "neighbor_id")
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell_rank",
            dp_q.alias("dp"),
        )
        .groupBy("query_id", "neighbor_id", "dp")
        .agg(F.min("cell_rank").alias("min_rank"))
    )
    sweep = spark.range(1, _SWEEP_MAX_NPROBE + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    w_ivf = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("dp").desc(), "neighbor_id"
    )
    ivf_top = (
        F.broadcast(sweep)
        .join(cand, F.col("min_rank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(w_ivf))
        .filter(F.col("rn") <= _SWEEP_TOPK)
        .select(
            F.col("nprobe").alias("i_nprobe"),
            F.col("query_id").alias("i_query_id"),
            F.col("neighbor_id").alias("i_neighbor_id"),
        )
    )
    n_queries = queries.agg(F.count("*").alias("n_queries"))
    hits = (
        sweep.crossJoin(truth)
        .join(
            ivf_top,
            (F.col("i_nprobe") == F.col("nprobe"))
            & (F.col("i_query_id") == F.col("query_id"))
            & (F.col("i_neighbor_id") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("nprobe")
        .agg(F.count("i_neighbor_id").alias("n_hits"))
    )
    return (
        hits.crossJoin(F.broadcast(n_queries))
        .select(
            "nprobe",
            F.col("n_queries").cast("long").alias("n_queries"),
            F.col("n_hits").cast("long").alias("n_hits"),
            (
                F.col("n_hits").cast("double")
                / (F.col("n_queries") * F.lit(_SWEEP_TOPK))
            ).alias(f"recall_at_{_SWEEP_TOPK}"),
        )
    )


_MMR_POOL = 20
_MMR_K = 5
_MMR_COS = """
  list_reduce(list_transform(range(1, len({a})+1), k -> {a}[k] * {b}[k]), (s,v) -> s+v)
  / sqrt( list_reduce(list_transform({a}, x -> x*x), (s,v) -> s+v)
        * list_reduce(list_transform({b}, x -> x*x), (s,v) -> s+v) )
"""


def _mmr_oracle_sql() -> str:
    """Unrolled MMR selection rounds as DuckDB CTE text (the
    ``llm_bpe_train_merges`` oracle-generation pattern)."""
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, emb, {_MMR_COS.format(a='emb', b='qemb')} AS rel
      FROM e CROSS JOIN q WHERE vec_id <> 0
      ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {_MMR_COS.format(a='a.emb', b='b.emb')} AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    s1 AS (SELECT vec_id, rel, rel AS score, 1 AS rnd
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for r in range(2, _MMR_K + 1):
        parts.append(f"""
    s{r} AS (
      SELECT c.vec_id, c.rel, 0.5 * c.rel - 0.5 * m.ms AS score, {r} AS rnd
      FROM cand c
      JOIN (SELECT a_id, MAX(sim) AS ms FROM sims
            WHERE b_id IN (SELECT vec_id FROM sel{r-1}) GROUP BY a_id) m
        ON m.a_id = c.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r-1})
      ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    sel{r} AS (SELECT vec_id FROM sel{r-1} UNION ALL SELECT vec_id FROM s{r})""")
    union = " UNION ALL ".join(
        f"SELECT vec_id, rel, score, rnd FROM s{r}" for r in range(1, _MMR_K + 1)
    )
    return (
        ",".join(parts)
        + f"\n    SELECT vec_id, rel, score, CAST(rnd AS BIGINT) AS rnd FROM ({union})"
    )


@register("sim_mmr_diversified", oracle=_mmr_oracle_sql())
def sim_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval (Carbonell & Goldstein
    1998): from the top-20 cosine candidates for query vector 0, pick 5
    results one at a time, each maximizing
    ``0.5·relevance − 0.5·max-similarity-to-already-picked`` — the
    standard diversified re-rank behind RAG retrieval and eval-set
    selection.

    Scale shape: the expensive part (candidate generation) is the
    brute/ANN top-k already covered elsewhere; MMR itself is
    pool-bounded — the 20-row pool and its 20×20 similarity matrix are
    broadcast-sized BY CONSTRUCTION, and the K selection rounds are
    unrolled joins over those tiny frames (no collect, no driver
    loop over data).  λ = 0.5 keeps every score an exact-halves
    expression; cosines are index-ordered folds, so both engines rank
    identically (vec_id tie-break).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )

    def cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )
        na = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
        nb = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
        return dot / F.sqrt(na * nb)

    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "emb", cos(F.col("emb"), F.col("qemb")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
    )
    cand = cached(cand)
    a = cand.select(F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"))
    b = cand.select(F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"))
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", cos(F.col("a_emb"), F.col("b_emb")).alias("sim"))
    )
    picked = (
        cand.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "rel", F.col("rel").alias("score"), F.lit(1).cast("long").alias("rnd"))
    )
    # Each round references `out` THREE times (ms, the anti-join, and
    # the unionAll), so the unrolled lineage grew 3^K copies of the
    # base plan (522 Exchange mentions in the initial plan,
    # tools/audit_plans.py r12) — pure planner overhead for a ≤5-row
    # frame.  Pinning each round's selection truncates the lineage to
    # one copy per round; rows are bounded by K=5, so the pins are
    # bytes (r12; guide §3.3 "materialise to truncate the plan").
    out = cached(picked)
    for r in range(2, _MMR_K + 1):
        sel = out.select("vec_id")
        ms = (
            sims.join(F.broadcast(sel.withColumnRenamed("vec_id", "b_id")), "b_id")
            .groupBy("a_id")
            .agg(F.max("sim").alias("ms"))
        )
        nxt = (
            cand.join(F.broadcast(sel), "vec_id", "left_anti")
            .join(F.broadcast(ms), cand.vec_id == F.col("a_id"))
            .select(
                "vec_id",
                "rel",
                (0.5 * F.col("rel") - 0.5 * F.col("ms")).alias("score"),
                F.lit(r).cast("long").alias("rnd"),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
        out = cached(out.unionAll(nxt))
    return out


def _ann_recall_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % 50 = 0),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY
  list_reduce(list_transform(range(1, len(q.qemb)+1), k -> q.qemb[k] * e.emb[k]), (s,v) -> s+v)
  / sqrt( list_reduce(list_transform(q.qemb, x -> x*x), (s,v) -> s+v)
        * list_reduce(list_transform(e.emb, x -> x*x), (s,v) -> s+v) ) DESC,
                 e.vec_id) AS rk
        FROM q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    ivf AS (SELECT query_id, neighbor_id FROM ({SQL_ANN_IVF}) WHERE rank <= 5),
    hits AS (
      SELECT b.query_id, COUNT(i.neighbor_id) AS n_hits
      FROM brute b
      LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
      GROUP BY b.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 5 AS recall_at_5
    FROM hits
    """


@register("sim_ann_recall_audit", oracle=_ann_recall_oracle())
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF index
    (``sim_ann_ivf``, nprobe=2) against exact brute-force top-5 for
    the same 20-query probe set — the measurement loop every ANN
    deployment runs before trading exactness for speed.

    The exact side broadcasts the query set over one linear corpus
    scan (WindowGroupLimit top-5); the approximate side is the
    registered IVF plan reused as a subplan.  The hit join and the
    per-query recall are integer counts and one per-row division —
    recall is exact, so the driver hash-matches it.
    """
    from project_fauna_spark.operators.llm_extras import sim_ann_ivf

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    brute = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_sim(F.col("emb"), F.col("qemb")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    ivf = (
        sim_ann_ivf(spark, sf_dir)
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("neighbor_id").alias("ivf_neighbor"))
    )
    hits = (
        brute.join(
            ivf,
            (brute.query_id == ivf.query_id)
            & (F.col("neighbor_id") == F.col("ivf_neighbor")),
            "left",
        )
        .groupBy(brute.query_id)
        .agg(F.count("ivf_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / 5).alias("recall_at_5"),
    )


@register(
    "sim_centroid_confusion",
    oracle=f"""
    WITH x AS (
      SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    c AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS m
      FROM x GROUP BY label, dim
    ),
    cent AS (
      SELECT label, list(m ORDER BY dim) AS centroid FROM c GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           {SQL_COS.format(a='a.centroid', b='b.centroid')} AS cos_centroids
    FROM cent a JOIN cent b ON a.label < b.label
    """,
)
def sim_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids — the embedding-space
    class-separability audit (entangled labels ⇒ noisy training signal
    or a collapsed embedding model).

    Per-dimension centroid means come from ONE posexplode pass with
    decimal-accumulated sums (order-independent, VARCHAR-routed in the
    oracle per the repo's float-parity convention); centroid arrays
    are assembled dim-ordered, so both engines hold bit-identical
    vectors before the index-ordered cosine folds.  The pairwise stage
    cross-joins only the |labels|-row centroid table — broadcast-sized
    by construction at any corpus scale.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim", "v"
        ),
    )
    c = x.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v")).alias("m")
    )
    cent = c.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m
        ).alias("centroid")
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
        )

    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    ca, cb = F.col("ca"), F.col("cb")
    cos = _dot(ca, cb) / F.sqrt(
        _dot(ca, ca) * _dot(cb, cb)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.alias("cos_centroids"))
    )


# --------------------------------------------------------------------------
# sim_pq_adc — product quantization with asymmetric-distance search
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DSUB = 4  # dims per subspace (leading 16 of the 64 dims)
_PQ_K = 8  # codewords per subspace
_PQ_TOPK = 50


def _pq_codeword(s: int, c: int) -> list[float]:
    """Deterministic codeword: exact small rationals so both engines
    materialize bit-identical doubles from the same literals (the
    ``_ivf_centroid`` convention — a trained codebook changes recall,
    not the plan shape under test)."""
    return [((5 * c + 7 * s + 3 * d) % 11 - 5) / 5.0 for d in range(_PQ_DSUB)]


def _pq_query(s: int) -> list[float]:
    """Deterministic query subvector (same exact-rational convention)."""
    return [((3 * s + 2 * d) % 7 - 3) / 3.0 for d in range(_PQ_DSUB)]


def _pq_lut(s: int, c: int) -> float:
    """query→codeword squared distance, computed HERE in Python with
    the exact association order ``((d0+d1)+d2)+d3`` — Python floats are
    IEEE doubles, so injecting ``repr`` of this value as a literal into
    both engines is bit-exact by construction (no cross-engine float
    op at all for the LUT half of ADC)."""
    q, w = _pq_query(s), _pq_codeword(s, c)
    d = [(q[i] - w[i]) * (q[i] - w[i]) for i in range(_PQ_DSUB)]
    return ((d[0] + d[1]) + d[2]) + d[3]


def _pq_oracle() -> str:
    cb_rows = ", ".join(
        f"({s}, {c}, "
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _pq_codeword(s, c))
        + ")"
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    )
    lut_rows = ", ".join(
        f"({s}, {c}, CAST('{_pq_lut(s, c)!r}' AS DOUBLE))"
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    )
    # explicit association: ((d0+d1)+d2)+d3, matching the Spark column
    dist = (
        "(((x1-w1)*(x1-w1) + (x2-w2)*(x2-w2)) + (x3-w3)*(x3-w3))"
        " + (x4-w4)*(x4-w4)"
    )
    return f"""
    WITH sub AS (
      SELECT vec_id, g.s,
             CAST(embedding[g.s*{_PQ_DSUB} + 1] AS DOUBLE) AS x1,
             CAST(embedding[g.s*{_PQ_DSUB} + 2] AS DOUBLE) AS x2,
             CAST(embedding[g.s*{_PQ_DSUB} + 3] AS DOUBLE) AS x3,
             CAST(embedding[g.s*{_PQ_DSUB} + 4] AS DOUBLE) AS x4
      FROM embeddings, (SELECT unnest(range({_PQ_M})) AS s) g
    ),
    cb(s, c, w1, w2, w3, w4) AS (VALUES {cb_rows}),
    lut(s, c, qd) AS (VALUES {lut_rows}),
    dists AS (
      SELECT sub.vec_id, sub.s, cb.c, {dist} AS dist
      FROM sub JOIN cb ON cb.s = sub.s
    ),
    assigned AS (
      SELECT vec_id, s, c
      FROM (SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    pivoted AS (
      SELECT a.vec_id,
             MAX(CASE WHEN a.s = 0 THEN a.c END) AS code0,
             MAX(CASE WHEN a.s = 1 THEN a.c END) AS code1,
             MAX(CASE WHEN a.s = 2 THEN a.c END) AS code2,
             MAX(CASE WHEN a.s = 3 THEN a.c END) AS code3,
             MAX(CASE WHEN a.s = 0 THEN lut.qd END) AS q0,
             MAX(CASE WHEN a.s = 1 THEN lut.qd END) AS q1,
             MAX(CASE WHEN a.s = 2 THEN lut.qd END) AS q2,
             MAX(CASE WHEN a.s = 3 THEN lut.qd END) AS q3
      FROM assigned a JOIN lut ON lut.s = a.s AND lut.c = a.c
      GROUP BY a.vec_id
    )
    SELECT vec_id,
           CAST(code0 AS INT) AS code0, CAST(code1 AS INT) AS code1,
           CAST(code2 AS INT) AS code2, CAST(code3 AS INT) AS code3,
           ((q0 + q1) + q2) + q3 AS adc_dist
    FROM pivoted
    ORDER BY adc_dist, vec_id
    LIMIT {_PQ_TOPK}
    """


@register("sim_pq_adc", oracle=_pq_oracle())
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. IVFADC layout): encode
    the leading 16 embedding dims as 4 one-byte codes (4 subspaces × an
    8-codeword codebook), then answer a query via asymmetric distance —
    a 32-entry query→codeword LUT summed per vector — returning the
    top-50 nearest codes.

    Float-parity design: assignment distances are one fixed-association
    expression evaluated identically in both engines; the LUT is
    computed ONCE in Python (IEEE doubles) and injected as literals
    into both, so the compared ``adc_dist`` is a fixed-order sum of
    four literal-joined doubles.  Assignment ties break on the lowest
    codeword id.

    Scale: the codebook (32 rows) and LUT broadcast; per-vector work is
    M·K fixed expressions; the candidate shuffle carries only
    (vec_id, subspace, code) ints.  At 100 TB this is the compression
    layer under every billion-vector index — 64× smaller candidate
    state than raw float32 scan.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    subs = [
        F.struct(
            F.lit(s).alias("s"),
            *[
                F.element_at("embedding", s * _PQ_DSUB + i + 1)
                .cast("double")
                .alias(f"x{i + 1}")
                for i in range(_PQ_DSUB)
            ],
        )
        for s in range(_PQ_M)
    ]
    sub = e.select("vec_id", F.explode(F.array(*subs)).alias("t")).select(
        "vec_id", "t.*"
    )
    cb = spark.createDataFrame(
        [(s, c, *_pq_codeword(s, c)) for s in range(_PQ_M) for c in range(_PQ_K)],
        "s int, c int, w1 double, w2 double, w3 double, w4 double",
    )
    lut = spark.createDataFrame(
        [(s, c, _pq_lut(s, c)) for s in range(_PQ_M) for c in range(_PQ_K)],
        "s int, c int, qd double",
    )
    sq = lambda i: (F.col(f"x{i}") - F.col(f"w{i}")) * (  # noqa: E731
        F.col(f"x{i}") - F.col(f"w{i}")
    )
    dist = ((sq(1) + sq(2)) + sq(3)) + sq(4)
    w_assign = W.partitionBy("vec_id", "s").orderBy("dist", "c")
    assigned = (
        sub.join(F.broadcast(cb), "s")
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "c")
    )
    pivoted = (
        assigned.join(F.broadcast(lut), ["s", "c"])
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("s") == s, F.col("c"))).alias(f"code{s}")
                for s in range(_PQ_M)
            ],
            *[
                F.max(F.when(F.col("s") == s, F.col("qd"))).alias(f"q{s}")
                for s in range(_PQ_M)
            ],
        )
    )
    adc = ((F.col("q0") + F.col("q1")) + F.col("q2")) + F.col("q3")
    return (
        pivoted.select(
            "vec_id",
            *[F.col(f"code{s}").cast("int").alias(f"code{s}") for s in range(_PQ_M)],
            adc.alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(_PQ_TOPK)
    )


# --------------------------------------------------------------------------
# sim_ivf_pq_search — IVF candidate generation + PQ asymmetric distance
# --------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_TOPK = 5
_IVFPQ_QUERY_MOD = 100  # queries = corpus vectors with vec_id % 100 == 0


def _ivfpq_oracle() -> str:
    cb_rows = ", ".join(
        f"({s}, {c}, "
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _pq_codeword(s, c))
        + ")"
        for s in range(_PQ_M)
        for c in range(_PQ_K)
    )
    dist = (
        "(((x1-w1)*(x1-w1) + (x2-w2)*(x2-w2)) + (x3-w3)*(x3-w3))"
        " + (x4-w4)*(x4-w4)"
    )
    return f"""
    WITH cents(k, c) AS (VALUES {_ivf_sql_values()}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    scored AS (
      SELECT e.vec_id, cents.k,
             list_reduce(list_transform(range(1, len(e.emb)+1),
                                        i -> e.emb[i] * cents.c[i]),
                         (s, v) -> s + v) AS dp
      FROM e CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored) WHERE rn = 1
    ),
    sub AS (
      SELECT vec_id, g.s,
             CAST(embedding[g.s*{_PQ_DSUB} + 1] AS DOUBLE) AS x1,
             CAST(embedding[g.s*{_PQ_DSUB} + 2] AS DOUBLE) AS x2,
             CAST(embedding[g.s*{_PQ_DSUB} + 3] AS DOUBLE) AS x3,
             CAST(embedding[g.s*{_PQ_DSUB} + 4] AS DOUBLE) AS x4
      FROM embeddings, (SELECT unnest(range({_PQ_M})) AS s) g
    ),
    cb(s, c, w1, w2, w3, w4) AS (VALUES {cb_rows}),
    codes AS (
      SELECT vec_id, s, c FROM (
        SELECT sub.vec_id, sub.s, cb.c,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                                  ORDER BY {dist}, cb.c) AS rn
        FROM sub JOIN cb ON cb.s = sub.s) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored WHERE vec_id % {_IVFPQ_QUERY_MOD} = 0)
      WHERE rn <= {_IVFPQ_NPROBE}
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.c, {dist} AS qd
      FROM sub JOIN cb ON cb.s = sub.s
      WHERE sub.vec_id % {_IVFPQ_QUERY_MOD} = 0
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    adc0 AS (
      SELECT cand.query_id, cand.neighbor_id, cand.cell,
             MAX(CASE WHEN codes.s = 0 THEN lut.qd END) AS q0,
             MAX(CASE WHEN codes.s = 1 THEN lut.qd END) AS q1,
             MAX(CASE WHEN codes.s = 2 THEN lut.qd END) AS q2,
             MAX(CASE WHEN codes.s = 3 THEN lut.qd END) AS q3
      FROM cand
      JOIN codes ON codes.vec_id = cand.neighbor_id
      JOIN lut ON lut.query_id = cand.query_id
              AND lut.s = codes.s AND lut.c = codes.c
      GROUP BY cand.query_id, cand.neighbor_id, cand.cell
    )
    SELECT query_id, neighbor_id, cell, adc_dist, rank FROM (
      SELECT query_id, neighbor_id, cell,
             ((q0 + q1) + q2) + q3 AS adc_dist,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY ((q0 + q1) + q2) + q3, neighbor_id) AS INT) AS rank
      FROM adc0) WHERE rank <= {_IVFPQ_TOPK}
    """


@register("sim_ivf_pq_search", oracle=_ivfpq_oracle())
def sim_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jégou et al.): IVF coarse cells generate candidates,
    PQ asymmetric distance ranks them — the composition that serves
    billion-vector ANN in production (FAISS IVFPQ layout).

    Pipeline: (1) every corpus vector is assigned to its nearest of 8
    IVF centroids (argmax dot product — one narrow pass over a
    broadcast codebook); (2) every corpus vector is PQ-encoded into 4
    one-byte codes over the leading 16 dims (broadcast 32-row
    codebook); (3) each query (every 100th vector) probes its
    ``nprobe`` = 2 best cells; (4) candidates = EQUI join on cell id;
    (5) ranking sums the 4 query→codeword LUT entries selected by each
    candidate's codes — no float vector is ever shuffled for ranking.

    Float parity: assignment distances and the per-query LUT are the
    same fixed-association expressions evaluated in both engines over
    literal-injected codebooks (the sim_pq_adc convention); dot
    products are index-ordered folds (the sim_ann_ivf convention);
    ``adc_dist`` is a fixed-order sum of four such doubles; every
    window tie-breaks on a unique id.

    Scale: codebooks broadcast (8 + 32 rows); the candidate shuffle
    carries (query_id, neighbor_id, cell) ints plus 4 one-byte codes —
    64× less state than raw float32; cells shard naturally into
    partitions, so probing reads nprobe/K of the corpus, and the LUT
    join is broadcast-sized (n_queries × 32).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # (1) IVF assignment: argmax dot product over the broadcast codebook.
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    cents = spark.createDataFrame(
        [(k, _ivf_centroid(k)) for k in range(_IVF_K)], schema="k int, c array<double>"
    )
    dp = F.aggregate(
        F.zip_with("emb", "c", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    scored = (
        e.select("vec_id", emb_d.alias("emb"))
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "k", dp.alias("dp"))
    )
    scored = cached(scored)
    w_cell = W.partitionBy("vec_id").orderBy(F.col("dp").desc(), F.col("k").desc())
    # Argmax cell via the repo's struct-extrema aggregate instead of a
    # row_number window (r12): max(struct(dp, k)) is the lexicographic
    # max = first row under ORDER BY dp DESC, k DESC — identical cell
    # per vector — and the hash aggregate is map-combined with no sort,
    # where the window spelling sorted all |corpus|×K scored rows
    # (guide §2.3: aggregate before you shuffle).
    assigned = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("dp"), F.col("k"))).getField("k").alias("cell")
    )

    # (2) PQ codes for the corpus + (5') per-query LUT share one
    # subvector frame (4 leading subspaces).
    subs = [
        F.struct(
            F.lit(s).alias("s"),
            *[
                F.element_at("embedding", s * _PQ_DSUB + i + 1)
                .cast("double")
                .alias(f"x{i + 1}")
                for i in range(_PQ_DSUB)
            ],
        )
        for s in range(_PQ_M)
    ]
    sub = e.select("vec_id", F.explode(F.array(*subs)).alias("t")).select(
        "vec_id", "t.*"
    )
    cb = spark.createDataFrame(
        [(s, c, *_pq_codeword(s, c)) for s in range(_PQ_M) for c in range(_PQ_K)],
        "s int, c int, w1 double, w2 double, w3 double, w4 double",
    )
    sq = lambda i: (F.col(f"x{i}") - F.col(f"w{i}")) * (  # noqa: E731
        F.col(f"x{i}") - F.col(f"w{i}")
    )
    dist = ((sq(1) + sq(2)) + sq(3)) + sq(4)
    # Argmin codeword via min(struct(dist, c)) — the lexicographic min
    # equals the first row under ORDER BY dist, c, so the PQ code per
    # (vec_id, s) is identical; the sort-based row_number window over
    # |corpus|×M×K rows becomes a map-combined aggregate (r12).
    codes = (
        sub.join(F.broadcast(cb), "s")
        .withColumn("dist", dist)
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("dist"), F.col("c"))).getField("c").alias("c"))
    )

    # (3) probes: nprobe best cells per query vector.
    probes = (
        scored.filter(F.col("vec_id") % _IVFPQ_QUERY_MOD == 0)
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("k").alias("cell"))
    )
    # per-query LUT: query subvector × broadcast codebook (nq·M·K rows).
    lut = (
        sub.filter(F.col("vec_id") % _IVFPQ_QUERY_MOD == 0)
        .join(F.broadcast(cb), "s")
        .select(
            F.col("vec_id").alias("query_id"), "s", "c", dist.alias("qd")
        )
    )

    # (4) candidates via the probed-cell equi join, then (5) ADC.
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cell")
    )
    adc0 = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "c"])
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(
            *[
                F.max(F.when(F.col("s") == s, F.col("qd"))).alias(f"q{s}")
                for s in range(_PQ_M)
            ]
        )
    )
    adc = ((F.col("q0") + F.col("q1")) + F.col("q2")) + F.col("q3")
    w_top = W.partitionBy("query_id").orderBy(adc, "neighbor_id")
    return (
        adc0.withColumn("adc_dist", adc)
        .withColumn("rank", F.row_number().over(w_top).cast("int"))
        .filter(F.col("rank") <= _IVFPQ_TOPK)
        .select("query_id", "neighbor_id", "cell", "adc_dist", "rank")
    )


_SQL_L2DIST = (
    "sqrt(list_reduce(list_transform(range(1, len({a})+1),"
    " k -> ({a}[k] - {b}[k]) * ({a}[k] - {b}[k])), (x, y) -> x + y))"
)


@register(
    "sim_silhouette_centroid",
    oracle=f"""
    WITH {sql_centroid_ctes(_FOLD_K)},
    d AS (
      SELECT e.vec_id, e.label, c.label AS clabel,
             {_SQL_L2DIST.format(a='e.emb', b='c.centroid')} AS dist
      FROM e CROSS JOIN cent c
    ),
    pv AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN dist END) AS a,
             MIN(CASE WHEN clabel <> label THEN dist END) AS b
      FROM d GROUP BY vec_id, label
    ),
    sv AS (
      SELECT label,
             CASE WHEN greatest(a, b) = 0 THEN 0.0
                  ELSE (b - a) / greatest(a, b) END AS s
      FROM pv
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {sql_davg('sv.s')} AS mean_silhouette,
           CAST(COUNT(CASE WHEN s < 0 THEN 1 END) AS BIGINT) AS n_negative
    FROM sv GROUP BY label
    """,
)
def sim_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per label: for every vector,
    a = distance to its OWN label centroid, b = distance to the
    NEAREST OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]; the report
    gives each label's mean silhouette and how many of its members sit
    closer to a foreign centroid (s < 0 — the misclustered ones).
    This is the cluster-quality verdict on the label structure the
    ``sim_*`` retrieval operators assume (the full-pairwise silhouette
    is O(n²); the centroid variant is the standard large-scale proxy).

    Centroids use the ``sim_label_centroid`` two-level fixed-order
    fold (≤{_FOLD_K} vectors per level-1 bucket — bounded state,
    deterministic order, bit-identical to the oracle's matching fold);
    distances are index-ordered folds closed by an IEEE-exact sqrt, so
    every per-vector s is bit-equal across engines and the means are
    decimal-accumulated (``davg``).  Scale: the distance pass is a
    broadcast of the tiny centroid table against one linear scan;
    per-vector reduction and the label rollup are map-combined.
    """
    e = load_table(spark, sf_dir, "embeddings")
    demb = F.transform("embedding", lambda x: x.cast("double"))
    cent = label_centroids(e, _FOLD_K).select(
        F.col("label").alias("clabel"), "centroid"
    )
    d = e.select("vec_id", "label", demb.alias("emb")).crossJoin(
        F.broadcast(cent)
    ).select(
        "vec_id",
        "label",
        "clabel",
        euclidean_dist(F.col("emb"), F.col("centroid")).alias("dist"),
    )
    pv = d.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dist"))
        ).alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        pv.select("label", s.alias("s"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            davg(F.col("s")).alias("mean_silhouette"),
            F.count(F.when(F.col("s") < 0, 1)).alias("n_negative"),
        )
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "mean_silhouette",
            F.col("n_negative").cast("long").alias("n_negative"),
        )
    )


# --------------------------------------------------------------------------
# sim_metric_rank_agreement — does the metric choice change the ranking?
# --------------------------------------------------------------------------

_RANK_QUERIES = 10  # vec_id < 10 are the probe queries
_RANK_POOL = 10  # top-k-by-cosine candidate pool per query

# DuckDB spelling of the index-ordered squared-L2 fold (monotone in the
# true distance, so ranks are identical and the sqrt is dropped).
_SQL_L2SQ = """
  list_reduce(list_transform(range(1, len({a})+1),
                             k -> ({a}[k] - {b}[k]) * ({a}[k] - {b}[k])),
              (s, v) -> s + v)
"""


@register(
    "sim_metric_rank_agreement",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e
          WHERE vec_id < {_RANK_QUERIES}),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {SQL_COS.format(a='q.qemb', b='e.emb')} AS cos,
             {_SQL_L2SQ.format(a='q.qemb', b='e.emb')} AS l2sq
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, l2sq,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS cr
      FROM sims QUALIFY cr <= {_RANK_POOL}
    ),
    ranked AS (
      SELECT query_id, cr,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY l2sq, neighbor_id) AS lr
      FROM cand
    ),
    pairs AS (
      SELECT a.query_id,
             CAST(SUM(CASE WHEN a.lr < b.lr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_concordant,
             CAST(SUM(CASE WHEN a.lr > b.lr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discordant,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM ranked a JOIN ranked b
        ON a.query_id = b.query_id AND a.cr < b.cr
      GROUP BY 1
    )
    SELECT query_id, n_concordant, n_discordant,
           CAST(n_concordant - n_discordant AS DOUBLE)
             / CAST(n_pairs AS DOUBLE) AS kendall_tau
    FROM pairs
    """,
)
def sim_metric_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank agreement between COSINE and EUCLIDEAN orderings of
    each query's candidate pool (top-10 by cosine): concordant /
    discordant pair counts and τ = (C − D)/pairs ∈ [−1, 1] — the audit
    that answers "can we switch the ANN index's metric without
    changing results?" (τ = 1 ⟺ identical ranking; on UNnormalized
    embeddings the two metrics genuinely disagree, which is exactly
    what this measures).

    Both similarity columns are the repo's index-ordered HOF folds
    (bit-equal cross-engine); Euclidean ranks use the SQUARED distance
    (monotone — the sqrt is dropped, one less float op).  Ranks are
    row_numbers with total tie-breaks, so the 45-pair-per-query
    self-join compares exact integers; τ is ONE IEEE division.
    Scale: the pool bound makes everything after the brute scan
    |queries|·k²-sized; the brute scan itself is the
    ``sim_knn_brute_cosine`` broadcast pattern.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") < _RANK_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    da = F.transform(F.col("qemb"), lambda x: x.cast("double"))
    db = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    l2sq = F.aggregate(
        F.zip_with(da, db, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    sims = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_sim(F.col("qemb"), F.col("embedding")).alias("cos"),
            l2sq.alias("l2sq"),
        )
    )
    cr = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    )
    cand = sims.select("query_id", "neighbor_id", "l2sq", cr.alias("cr")).filter(
        F.col("cr") <= _RANK_POOL
    )
    lr = F.row_number().over(
        W.partitionBy("query_id").orderBy("l2sq", "neighbor_id")
    )
    ranked = cached(cand.select("query_id", "cr", lr.alias("lr")))
    a = ranked.select(
        F.col("query_id").alias("qa"), F.col("cr").alias("cra"), F.col("lr").alias("lra")
    )
    b = ranked.select(
        F.col("query_id").alias("qb"), F.col("cr").alias("crb"), F.col("lr").alias("lrb")
    )
    pairs = (
        a.join(b, (F.col("qa") == F.col("qb")) & (F.col("cra") < F.col("crb")))
        .groupBy(F.col("qa").alias("query_id"))
        .agg(
            F.sum(F.when(F.col("lra") < F.col("lrb"), 1).otherwise(0)).alias(
                "n_concordant"
            ),
            F.sum(F.when(F.col("lra") > F.col("lrb"), 1).otherwise(0)).alias(
                "n_discordant"
            ),
            F.count("*").alias("n_pairs"),
        )
    )
    return pairs.select(
        "query_id",
        F.col("n_concordant").cast("long").alias("n_concordant"),
        F.col("n_discordant").cast("long").alias("n_discordant"),
        (
            (F.col("n_concordant") - F.col("n_discordant")).cast("double")
            / F.col("n_pairs").cast("double")
        ).alias("kendall_tau"),
    )


# --------------------------------------------------------------------------
# sim_hard_negative_mining — the contrastive-training data miner
# --------------------------------------------------------------------------

_HN_QUERIES = 20  # vec_id < 20 are the anchors


@register(
    "sim_hard_negative_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb
          FROM e WHERE vec_id < {_HN_QUERIES}),
    sims AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS nid, e.label AS nlabel,
             {SQL_COS.format(a='q.qemb', b='e.emb')} AS cos
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    neg AS (
      SELECT query_id,
             MAX(struct_pack(c := cos, i := nid)).i AS neg_id,
             MAX(struct_pack(c := cos, i := nid)).c AS neg_cos
      FROM sims WHERE nlabel <> qlabel GROUP BY query_id
    ),
    pos AS (
      SELECT query_id,
             MAX(struct_pack(c := cos, i := nid)).c AS pos_cos
      FROM sims WHERE nlabel = qlabel GROUP BY query_id
    )
    SELECT q.query_id, q.qlabel AS label, n.neg_id, n.neg_cos, p.pos_cos,
           p.pos_cos - n.neg_cos AS margin,
           p.pos_cos - n.neg_cos < 0 AS is_hard
    FROM q
    JOIN neg n ON n.query_id = q.query_id
    JOIN pos p ON p.query_id = q.query_id
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the single most-similar vector of a DIFFERENT label (the hard
    negative that teaches the model the most), the best same-label
    similarity, and the margin between them — negative margin means
    the nearest neighbor is cross-label (``is_hard``), exactly the
    anchors a triplet-loss batch builder wants first
    (``ml_active_learning_margin`` ranks by classifier uncertainty;
    this ranks by EMBEDDING-space confusability).

    Cosines are the repo's index-ordered folds (bit-equal
    cross-engine); both argmaxes are lexicographic struct MAX over
    (cos, id) — order-independent, tie-broken by id, no
    first-row-wins window.  The margin is one subtraction of already
    bit-equal doubles.  Scale: broadcast anchors against one linear
    corpus scan; the per-anchor state is two struct accumulators, so
    this map-combines — no top-k heap, no shuffle wider than
    |anchors|.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = e.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qemb"),
    )
    sims = cached(
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            cosine_sim(F.col("qemb"), F.col("embedding")).alias("cos"),
        )
    )
    best = F.max(F.struct(F.col("cos").alias("c"), F.col("nid").alias("i")))
    neg = (
        sims.filter(F.col("nlabel") != F.col("qlabel"))
        .groupBy("query_id", "qlabel")
        .agg(best.alias("b"))
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            F.col("b.i").alias("neg_id"),
            F.col("b.c").alias("neg_cos"),
        )
    )
    pos = (
        sims.filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(best.alias("b"))
        .select("query_id", F.col("b.c").alias("pos_cos"))
    )
    return neg.join(pos, "query_id").select(
        "query_id",
        "label",
        "neg_id",
        "neg_cos",
        "pos_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
        (F.col("pos_cos") - F.col("neg_cos") < 0).alias("is_hard"),
    )


@register(
    "sim_centroid_drift_halves",
    oracle=f"""
    WITH {sql_centroid_ctes(_FOLD_K, where="WHERE vec_id % 2 = 0", tag="a")},
    {sql_centroid_ctes(_FOLD_K, where="WHERE vec_id % 2 = 1", tag="b")}
    SELECT a.label, a.n AS n_even, b.n AS n_odd,
           {SQL_COS.format(a='a.centroid', b='b.centroid')} AS drift_cos
    FROM cent_a a JOIN cent_b b USING (label)
    """,
)
def sim_centroid_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift check: split each label's vectors
    into two halves (even / odd vec_id — the deterministic stand-in
    for "yesterday's batch vs today's"), compute both halves'
    centroids with the shared two-level fixed-order fold, and report
    their cosine — ≈1 means the distribution is stable, a drop is the
    re-index/re-train alarm (``sim_centroid_confusion`` compares
    centroids ACROSS labels; this compares each label WITH ITSELF
    across batches).

    Both centroids use the ``functions/centroids`` machinery
    (bounded two-level fold, bit-equal to the oracle's list_reduce
    replay); the drift cosine is the index-ordered fold over two
    identical double arrays.  Scale: two filtered passes that
    map-combine; state per label is one embedding-width vector per
    fold bucket.
    """
    e = cached(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
    )

    a = label_centroids(e.filter(F.col("vec_id") % 2 == 0), _FOLD_K).select(
        "label", F.col("n").alias("n_even"), F.col("centroid").alias("c_a")
    )
    b = label_centroids(e.filter(F.col("vec_id") % 2 == 1), _FOLD_K).select(
        "label", F.col("n").alias("n_odd"), F.col("centroid").alias("c_b")
    )
    return a.join(b, "label").select(
        "label",
        "n_even",
        "n_odd",
        cosine_sim(F.col("c_a"), F.col("c_b")).alias("drift_cos"),
    )
