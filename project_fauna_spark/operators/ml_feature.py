"""spark.ml feature pipelines (SURVEY.md §2b text/dedup/similarity
alternates).

The expression-level implementations elsewhere in this repo are the
primary (oracled) paths; these queries cover the ``ml.feature``
API surface the survey names — Tokenizer → HashingTF → IDF,
MinHashLSH, BucketedRandomProjectionLSH — as rows-only checks
(VectorUDT hashing is Spark-specific by construction).

Scale notes: ml transformers are DataFrame→DataFrame and inherit the
same Catalyst execution; `fit()` runs one aggregation job (IDF doc
frequencies, LSH random planes are seeded draws).  Seeds are fixed so
results are Spark-deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.moments import int_pearson_moments, pearson_terms
from project_fauna_spark.functions.ranks import bucket_offsets_multi
from project_fauna_spark.functions.wordhash import h32
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import SQL_COS, sql_h32
from project_fauna_spark.plans.registry import davg, dsum, register, sql_davg, sql_dsum


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import Tokenizer

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return Tokenizer(inputCol="text", outputCol="tokens").transform(d)


@register(
    "ml_tfidf_pipeline",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           TRUE AS bucket_in_range,
           TRUE AS score_nonneg
    FROM documents
    """,
)
def ml_tfidf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer → HashingTF → IDF; top TF-IDF bucket per doc.

    The ml.feature twin of text_tfidf_topk (which is the exact,
    oracled implementation).

    Graded edge (bound-style): HashingTF's murmur bucket ids are
    Spark-specific, so the edge carries the exact per-doc token count.
    That count is computed as ``size(split(text, ' '))`` — NOT from
    Tokenizer's output — so Spark and DuckDB tokenize identically by
    construction (Tokenizer lowercases and splits on ANY whitespace,
    dropping trailing empties; the oracle's string_split is space-only
    and keeps them — a tab or trailing space in a regenerated corpus
    would silently diverge the two; ADVICE r5).  It also carries two
    honestly-computed invariants the oracle emits as literal TRUE: the
    argmax bucket lies in [-1, 1024) and the top TF-IDF score is
    non-negative (IDF weights are ≥ 0 by construction).  A pipeline
    regression (bucket overflow, negative IDF, tokenizer drift) flips
    a value and hash-fails.
    """
    from pyspark.ml.feature import IDF, HashingTF
    from pyspark.ml.functions import vector_to_array

    toks = _tokenized(spark, sf_dir)
    tf = HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1 << 10).transform(toks)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    scored = idf_model.transform(tf)

    # JVM-side argmax: vector_to_array is a Scala UDF (no Python
    # round-trip) and array_max/array_position are codegen'd
    # expressions — first-max-index like np.argmax, -1 on all-zero
    # vectors, with zero rows leaving the JVM.
    arr = vector_to_array(F.col("tfidf"))
    mx = F.array_max(arr)
    bucket = (
        F.when(mx > 0.0, (F.array_position(arr, mx) - 1).cast("int"))
        .otherwise(F.lit(-1))
    )
    score = F.when(mx > 0.0, mx).otherwise(F.lit(0.0))
    return scored.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        ((bucket >= -1) & (bucket < (1 << 10))).alias("bucket_in_range"),
        (score >= 0.0).alias("score_nonneg"),
    )


def _ml_minhash_bound_oracle() -> str:
    from project_fauna_spark.plans.registry import ORACLE

    truth_sql = ORACLE["dedup_ngram_jaccard"]
    return f"""
    SELECT CAST((SELECT COUNT(*) FROM ({truth_sql}) t WHERE t.jaccard > 0.5)
                AS BIGINT) AS n_true_pairs,
           TRUE AS pairs_within_threshold,
           TRUE AS recall_ge_half
    """


@register("ml_minhash_lsh", oracle_builder=_ml_minhash_bound_oracle)
def ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml.feature.MinHashLSH near-dup pairs over hashed-token sets.

    The ml twin of dedup_minhash_lsh (the expression-level primary);
    approxSimilarityJoin does the band-bucket candidate join
    internally.

    Graded edge (bound-style): MinHashLSH's seeded hash families are
    Spark-specific, so the edge carries the exact count of strict
    (Jaccard > 0.5, matching approxSimilarityJoin's strict distance
    cut) ground-truth pairs — DuckDB recomputes it from the shared
    df-capped truth SQL — plus two honestly-computed booleans emitted
    as literal TRUE by the oracle: all returned pairs sit within the
    distance threshold, and recall ≥ 0.5.

    The recall denominator is NOT the df-capped truth count directly:
    the LSH hashes RAW shingle sets while dedup_ngram_jaccard's truth
    drops hot (df > cap) shingles — two slightly different similarity
    spaces, so the 1-(1-j)^8 ≥ 0.996 guarantee only applies to pairs
    whose raw-shingle-set Jaccard is > 0.5 (ADVICE r5).  The boolean
    therefore re-scores the (tiny) truth pair set with exact
    raw-shingle Jaccard and measures recall over the > 0.5 survivors —
    the bound now holds by construction on any corpus, not just ones
    where the two spaces happen to agree (measured recall 1.0 at
    sf0.01 AND sf0.1).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from project_fauna_spark.functions.shingles import shingles

    # Shingle sets, NOT word sets: word-level Jaccard ≥ 0.5 is so common
    # across same-domain documents that the pair output grows
    # QUADRATICALLY with the corpus (measured: 8.6M pairs at sf0.1 —
    # unusable at any scale).  3-gram shingles match the exact primary
    # (dedup_ngram_jaccard / dedup_minhash_lsh), where 0.5 is a
    # near-duplicate threshold and the output stays corpus-linear.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles(F.col("text")).alias("tokens")
    )
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", binary=True, vocabSize=1 << 15
    )
    feats = cv.fit(d).transform(d).filter(F.expr("size(tokens) > 0"))
    # Project to (doc_id, features) BEFORE the similarity join: the
    # join explodes 8 hash tables and shuffles every column of both
    # sides, so leaving the 3-gram `tokens` string array on the frame
    # multiplies the heaviest shuffle by the corpus text size
    # (guide §2.3 — project before the exchange).  Pair set unchanged:
    # the join keys on hashes/features and the output uses ids only.
    # approxSimilarityJoin(slim, slim) transforms BOTH sides separately,
    # so without a pin the shingle build + CountVectorizer transform run
    # twice per invocation (and the fitted-model UDF defeats the
    # cross-invocation plan-identity cache, so every warm run pays it
    # again).  The pin carries doc_id + the binary sparse vector only —
    # int indices, no text, no shingle strings (r13; guide §5).  A
    # pre-transformed (features + hashes) pin was ALSO measured and
    # lost (6.39 vs 5.77 s): the wider pin costs more to materialize
    # and scan than the 8 minhash functions cost to recompute per side.
    slim = cached(feats.select("doc_id", "features"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(slim)
    pairs = model.approxSimilarityJoin(slim, slim, 0.5, distCol="jaccard_dist")
    # Pair frames below are consumed by 2-3 aggregates each; persist the
    # tiny id/dist outputs so the CountVectorizer+LSH join and the full
    # dedup_ngram_jaccard truth plan execute ONCE, not per-consumer
    # (VERDICT r9: the re-execution, not the LSH, was the band violation).
    returned = cached(
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_dist"),
        )
    )

    # Bound-style edge vs the exact df-capped truth (strict > 0.5 to
    # mirror approxSimilarityJoin's strict dist < threshold cut).
    from project_fauna_spark.operators.dedup import dedup_ngram_jaccard

    truth = cached(
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") > 0.5)
        .select("doc_a", "doc_b")
    )
    n_truth = truth.agg(F.count("*").alias("n_true_pairs"))
    within = returned.agg(
        F.coalesce(F.min(F.col("jaccard_dist") <= 0.5), F.lit(True)).alias(
            "pairs_within_threshold"
        )
    )
    # Re-score the (bounded) truth pairs in the LSH's OWN space — exact
    # Jaccard over raw distinct shingle sets, joined back by id — and
    # use the > 0.5 survivors as the recall denominator so the LSH
    # collision bound applies to every counted pair.  The corpus is
    # semi-joined down to the truth-pair ids BEFORE the shingle
    # projection (r12): the old spelling re-shingled every document
    # twice just to score the handful of truth pairs.
    truth_ids = (
        truth.select(F.col("doc_a").alias("doc_id"))
        .unionAll(truth.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    raw = (
        d.join(truth_ids, "doc_id", "left_semi")
        .select("doc_id", F.array_distinct("tokens").alias("sgl"))
    )
    ra = raw.select(F.col("doc_id").alias("doc_a"), F.col("sgl").alias("sgl_a"))
    rb = raw.select(F.col("doc_id").alias("doc_b"), F.col("sgl").alias("sgl_b"))
    n_inter = F.size(F.array_intersect("sgl_a", "sgl_b"))
    raw_jac = n_inter.cast("double") / (
        F.size("sgl_a") + F.size("sgl_b") - n_inter
    )
    truth_lsh_space = cached(
        truth.join(ra, "doc_a")
        .join(rb, "doc_b")
        .filter(raw_jac > 0.5)
        .select("doc_a", "doc_b")
    )
    n_denom = truth_lsh_space.agg(F.count("*").alias("n_denom"))
    n_found = returned.join(truth_lsh_space, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_found")
    )
    return (
        n_truth.crossJoin(within)
        .crossJoin(n_denom)
        .crossJoin(n_found)
        .select(
            "n_true_pairs",
            "pairs_within_threshold",
            F.when(
                F.col("n_denom") > 0,
                F.col("n_found").cast("double") / F.col("n_denom") >= 0.5,
            )
            .otherwise(F.lit(True))
            .alias("recall_ge_half"),
        )
    )


@register(
    "ml_brp_lsh_neighbors",
    # Exact truth restricted to the 200 probe vectors: both engines
    # compute the identical index-ordered double fold (the SQL_COS
    # convention — 0.0+a is IEEE-exact, so Spark's aggregate(0.0,+)
    # and DuckDB's seedless list_reduce produce bit-identical sums).
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS qa, emb AS qemb FROM e WHERE vec_id < 200),
    p AS (
      SELECT q.qa, e.vec_id AS vb,
             sqrt(list_reduce(list_transform(range(1, len(q.qemb)+1),
                  k -> (q.qemb[k] - e.emb[k]) * (q.qemb[k] - e.emb[k])),
                  (s,v) -> s+v)) AS d
      FROM q JOIN e ON e.vec_id > q.qa
    )
    SELECT CAST(COUNT(*) FILTER (WHERE d < 1.2) AS BIGINT) AS n_true_pairs,
           TRUE AS pairs_within_threshold,
           TRUE AS recall_ge_0_7
    FROM p
    """,
)
def ml_brp_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH approximate neighbors over the
    embeddings table (the ml twin of sim_ann_lsh_bucketed).

    Graded edge (bound-style): the random projection planes are seeded
    Spark draws, so the edge carries the exact count of true
    L2 < 1.2 pairs anchored at the 200 probe vectors (a bounded
    broadcast-side truth both engines replay bit-identically) plus two
    honestly-computed booleans emitted as literal TRUE by the oracle:
    every returned pair's exact distance respects the threshold, and
    probe-anchored recall is ≥ 0.7 (measured 0.973 at sf0.01, 0.975 at
    sf0.1 with 4 OR-ed tables at bucketLength 2.0).

    Scale: the probe set is fixed-size, so the truth join is a
    broadcast nested loop over 200 rows — bounded at any corpus size;
    the LSH join itself shuffles by bucket only.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = emb.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(e, e, 1.2, distCol="l2_dist")
    returned = (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("l2_dist"),
        )
    )

    # Probe-anchored exact truth (same fold order as the oracle).
    q = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("qa"), F.col("embedding").alias("qemb")
    )
    j = emb.join(F.broadcast(q), F.col("vec_id") > F.col("qa"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("qemb"),
                F.col("embedding"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    truth = (
        j.select(F.col("qa").alias("vec_a"), F.col("vec_id").alias("vec_b"), dist.alias("d"))
        .filter(F.col("d") < 1.2)
        .select("vec_a", "vec_b")
    )
    n_truth = truth.agg(F.count("*").alias("n_true_pairs"))
    within = returned.agg(
        F.coalesce(F.min(F.col("l2_dist") <= 1.2), F.lit(True)).alias(
            "pairs_within_threshold"
        )
    )
    n_found = returned.join(truth, ["vec_a", "vec_b"]).agg(
        F.count("*").alias("n_found")
    )
    return (
        n_truth.crossJoin(within)
        .crossJoin(n_found)
        .select(
            "n_true_pairs",
            "pairs_within_threshold",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_found").cast("double") / F.col("n_true_pairs") >= 0.7,
            )
            .otherwise(F.lit(True))
            .alias("recall_ge_0_7"),
        )
    )


@register(
    "ml_standardize_audit",
    oracle="""
    WITH x AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    m AS (
      SELECT dim,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(CAST(v * v AS VARCHAR) AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS s2
      FROM x GROUP BY dim
    ),
    stats AS (
      SELECT dim, n, s1 / n AS mean,
             sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std
      FROM m
    )
    SELECT s.dim, s.n, s.mean, s.std,
           CAST(SUM(CASE WHEN abs((x.v - s.mean) / s.std) > 3.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_3sigma
    FROM x JOIN stats s USING (dim)
    GROUP BY s.dim, s.n, s.mean, s.std
    """,
)
def ml_standardize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-standardization audit: per embedding dimension, the
    mean, population std (from decimal-exact first/second moments —
    ``sqrt`` is IEEE-exact, ``stddev``'s streaming accumulation is
    not), and the count of |z| > 3 outliers after standardization —
    the scaler-fit + sanity-check step of a feature pipeline.

    One posexplode (corpus × 64 rows), a map-combined per-dim moment
    aggregate (64 groups), a broadcast join back for the z-pass.
    Bounded state everywhere; no windows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode(F.transform("embedding", lambda c: c.cast("double")))
    ).select("vec_id", F.col("pos").alias("dim"), F.col("col").alias("v"))
    m = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(30,12)")).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(30,12)")).cast("double").alias("s2"),
    )
    stats = m.select(
        "dim",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
        ).alias("std"),
    )
    return (
        x.join(F.broadcast(stats), "dim")
        .groupBy("dim", "n", "mean", "std")
        .agg(
            F.sum(
                F.when(F.abs((F.col("v") - F.col("mean")) / F.col("std")) > 3.0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_outliers_3sigma")
        )
    )


@register(
    "ml_knn_classify_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS true_label, emb AS qemb
          FROM e WHERE vec_id < 50),
    nn AS (
      SELECT query_id, true_label, label AS nn_label FROM (
        SELECT q.query_id, q.true_label, e.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {SQL_COS.format(a='q.qemb', b='e.emb')} DESC, e.vec_id) AS rk
        FROM q JOIN e ON e.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nn_label, COUNT(*) AS v
      FROM nn GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, nn_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, nn_label) AS pr
        FROM votes
      ) WHERE pr = 1
    )
    SELECT true_label AS label,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS accuracy
    FROM pred GROUP BY true_label
    """,
)
def ml_knn_classify_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier evaluation: 5-nearest-neighbor majority vote
    (cosine, deterministic smallest-label tie-break) predicts each of
    the first 50 vectors' labels; per-label accuracy — the standard
    embedding-quality probe (a good embedding space classifies its own
    labels).

    The expensive part is the brute top-5 (broadcast query set ×
    linear scan, WindowGroupLimit); voting and accuracy are
    keyspace-sized integer aggregates.
    """
    from project_fauna_spark.functions.vectors import cosine_sim

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("qemb"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    nn = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("nn_label"),
            "vec_id",
            cosine_sim(F.col("qemb"), F.col("emb")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    votes = nn.groupBy("query_id", "true_label", "nn_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = W.partitionBy("query_id").orderBy(F.col("v").desc(), "nn_label")
    pred = (
        votes.withColumn("pr", F.row_number().over(wv))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("nn_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        correct.cast("long").alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


@register(
    "ml_training_snapshot_asof",
    oracle="""
    WITH anchors AS (
      SELECT event_id AS anchor_id, user_id, ts AS anchor_ts, value AS label
      FROM events WHERE event_type = 'purchase'
    ),
    hist AS (
      SELECT a.anchor_id, e.event_type, e.ts, e.event_id, e.value
      FROM anchors a JOIN events e
        ON e.user_id = a.user_id
       AND e.ts < a.anchor_ts
       AND e.ts >= a.anchor_ts - INTERVAL 7 DAY
    ),
    feats AS (
      SELECT anchor_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_views_7d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicks_7d,
             COUNT(*) AS n_events_7d,
             MAX(struct_pack(t := ts, i := event_id, v := value)) AS last_ev
      FROM hist GROUP BY anchor_id
    )
    SELECT a.anchor_id, a.user_id, a.label,
           COALESCE(f.n_views_7d, 0) AS n_views_7d,
           COALESCE(f.n_clicks_7d, 0) AS n_clicks_7d,
           COALESCE(f.n_events_7d, 0) AS n_events_7d,
           f.last_ev.v AS last_value_before
    FROM anchors a LEFT JOIN feats f ON f.anchor_id = a.anchor_id
    """,
)
def ml_training_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe training-example builder: for every purchase
    (anchor), per-user features computed STRICTLY from events before
    the anchor timestamp within a 7-day window — the point-in-time
    join feature stores exist to get right (using post-anchor events
    would leak the future into training).

    The history join is equi on user_id with the time band as a
    residual; features are one map-combined aggregate per anchor.
    ``last_value_before`` uses a struct max over (ts, event_id, value)
    — (ts, event_id) is unique, so the argmax is deterministic and
    engine-identical.
    """
    e = load_table(spark, sf_dir, "events")
    anchors = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("anchor_ts"),
        F.col("value").alias("label"),
    )
    hist = anchors.join(
        e.select(
            F.col("user_id").alias("h_user"),
            F.col("event_type").alias("h_type"),
            F.col("ts").alias("h_ts"),
            F.col("event_id").alias("h_id"),
            F.col("value").alias("h_value"),
        ),
        (F.col("h_user") == F.col("user_id"))
        & (F.col("h_ts") < F.col("anchor_ts"))
        & (F.col("h_ts") >= F.col("anchor_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    feats = hist.groupBy("anchor_id").agg(
        F.sum(F.when(F.col("h_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_views_7d"),
        F.sum(F.when(F.col("h_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_clicks_7d"),
        F.count("*").alias("n_events_7d"),
        F.max(F.struct(F.col("h_ts"), F.col("h_id"), F.col("h_value").alias("v"))).alias(
            "last_ev"
        ),
    )
    return (
        anchors.join(feats, "anchor_id", "left")
        .select(
            "anchor_id",
            "user_id",
            "label",
            F.coalesce("n_views_7d", F.lit(0)).alias("n_views_7d"),
            F.coalesce("n_clicks_7d", F.lit(0)).alias("n_clicks_7d"),
            F.coalesce("n_events_7d", F.lit(0)).alias("n_events_7d"),
            F.col("last_ev.v").alias("last_value_before"),
        )
    )


_PCA_DIMS = 8  # moments for the leading 8 of the 64 embedding dims


def _cov_oracle() -> str:
    sums = []
    for i in range(1, _PCA_DIMS + 1):
        sums.append(f"{sql_dsum(f'CAST(embedding[{i}] AS DOUBLE)', 38, 15)} AS s{i}")
        for j in range(i, _PCA_DIMS + 1):
            sums.append(
                f"{sql_dsum(f'CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)', 38, 15)}"
                f" AS p{i}_{j}"
            )
    branches = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS dim_i, CAST({j} AS INT) AS dim_j, "
        f"(p{i}_{j} - s{i} * s{j} / n) / (n - 1) AS cov FROM m"
        for i in range(1, _PCA_DIMS + 1)
        for j in range(i, _PCA_DIMS + 1)
    )
    return f"""
    WITH m AS (SELECT COUNT(*) AS n, {', '.join(sums)} FROM embeddings)
    {branches}
    """


@register("ml_pca_covariance", oracle_builder=_cov_oracle)
def ml_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance of the leading 8 embedding dimensions —
    the distributed half of PCA (the driver-side eigendecomposition of
    an 8×8 matrix is trivial; producing its entries from 100 TB of
    vectors is the real work).

    One aggregate computes every first and second moment map-combined
    (partial aggregation per partition, one 1-row shuffle).  Per-row
    products are IEEE-deterministic doubles; cross-row sums accumulate
    in exact decimal and surface as doubles only at the edge, so both
    engines produce bit-identical covariances (the repo float-parity
    convention).  Output: the 36 upper-triangle (dim_i, dim_j, cov)
    entries.
    """
    e = load_table(spark, sf_dir, "embeddings")
    el = [F.element_at("embedding", i).cast("double") for i in range(1, _PCA_DIMS + 1)]
    aggs = [F.count("*").alias("n")]
    for i in range(_PCA_DIMS):
        aggs.append(dsum(el[i], 38, 15).alias(f"s{i + 1}"))
        for j in range(i, _PCA_DIMS):
            aggs.append(dsum(el[i] * el[j], 38, 15).alias(f"p{i + 1}_{j + 1}"))
    m = e.agg(*aggs)
    pair_structs = [
        F.struct(
            F.lit(i).alias("dim_i"),
            F.lit(j).alias("dim_j"),
            F.col(f"p{i}_{j}").alias("pij"),
            F.col(f"s{i}").alias("si"),
            F.col(f"s{j}").alias("sj"),
        )
        for i in range(1, _PCA_DIMS + 1)
        for j in range(i, _PCA_DIMS + 1)
    ]
    exploded = m.select("n", F.explode(F.array(*pair_structs)).alias("t"))
    return exploded.select(
        F.col("t.dim_i").alias("dim_i"),
        F.col("t.dim_j").alias("dim_j"),
        (
            (F.col("t.pij") - F.col("t.si") * F.col("t.sj") / F.col("n"))
            / (F.col("n") - F.lit(1))
        ).alias("cov"),
    )


# --------------------------------------------------------------------------
# ml_auc_ranksum — distributed one-vs-rest AUC via global rank buckets
# --------------------------------------------------------------------------

_AUC_BUCKET_SCALE = 16  # value-range buckets for the distributed rank


@register(
    "ml_auc_ranksum",
    oracle="""
    WITH scored AS (
      SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS score
      FROM embeddings
    ),
    ranked AS (
      SELECT label,
             row_number() OVER (ORDER BY score, vec_id) AS rnk
      FROM scored
    ),
    tot AS (SELECT COUNT(*) AS n FROM scored),
    per_label AS (
      SELECT label,
             COUNT(*) AS n_pos,
             CAST(SUM(rnk) AS BIGINT) AS rank_sum
      FROM ranked GROUP BY label
    )
    SELECT label,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST((SELECT n FROM tot) - n_pos AS BIGINT) AS n_neg,
           rank_sum,
           CASE WHEN n_pos > 0 AND (SELECT n FROM tot) - n_pos > 0
                THEN CAST(2*rank_sum - n_pos*(n_pos+1) AS DOUBLE)
                     / (2 * n_pos * ((SELECT n FROM tot) - n_pos))
           END AS auc
    FROM per_label
    """,
)
def ml_auc_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest AUC per label via the Mann–Whitney rank-sum
    identity: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻), with the first
    embedding dimension as the score — the standard exact distributed
    AUC (ties broken deterministically by vec_id, identically ranked
    in both engines).

    The global rank never uses a global window: scores bucket by value
    range, each bucket ranks locally, and a tiny broadcast
    bucket-offset table (one row per bucket, cumulated over dozens of
    rows) shifts local ranks to global — the ``llm_pack_shards``
    two-phase cumsum applied to a sort statistic.  All rank arithmetic
    is exact integers; the single double division is the edge.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.element_at("embedding", 1).cast("double").alias("score")
    )
    scored = e.withColumn(
        "bucket", F.floor(F.col("score") * _AUC_BUCKET_SCALE).cast("long")
    )
    scored = cached(scored)
    w_local = W.partitionBy("bucket").orderBy("score", "vec_id")
    local = scored.withColumn("local_rn", F.row_number().over(w_local))
    bucket_counts = scored.groupBy("bucket").agg(F.count("*").alias("bc"))
    w_off = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = bucket_counts.select(
        "bucket", F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("offset")
    )
    ranked = local.join(F.broadcast(offsets), "bucket").select(
        "label", (F.col("offset") + F.col("local_rn")).alias("rnk")
    )
    tot = scored.agg(F.count("*").alias("n"))
    per_label = ranked.groupBy("label").agg(
        F.count("*").alias("n_pos"), F.sum("rnk").alias("rank_sum")
    )
    n_pos, n_neg = F.col("n_pos"), F.col("n") - F.col("n_pos")
    return per_label.crossJoin(F.broadcast(tot)).select(
        "label",
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.col("rank_sum").cast("long").alias("rank_sum"),
        F.when(
            (n_pos > 0) & (n_neg > 0),
            (2 * F.col("rank_sum") - n_pos * (n_pos + 1)).cast("double")
            / (2 * n_pos * n_neg),
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# ml_ols_fit — closed-form grouped linear regression from exact moments
# --------------------------------------------------------------------------


@register(
    "ml_ols_fit",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_dsum('l_quantity', 38, 12)} AS sx,
             {sql_dsum('l_extendedprice', 38, 12)} AS sy,
             {sql_dsum('l_quantity * l_quantity', 38, 12)} AS sxx,
             {sql_dsum('l_quantity * l_extendedprice', 38, 12)} AS sxy,
             {sql_dsum('l_extendedprice * l_extendedprice', 38, 12)} AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx)
           END AS slope,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                THEN (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                     / CAST(n AS DOUBLE)
           END AS intercept,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy) <> 0
                THEN ((CAST(n AS DOUBLE) * sxy - sx * sy)
                      * (CAST(n AS DOUBLE) * sxy - sx * sy))
                     / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy))
           END AS r2
    FROM m
    """,
)
def ml_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression per group (extendedprice on
    quantity, by returnflag): one map-combined pass computes the five
    exact decimal moments; slope/intercept/R² come out of the normal
    equations as deterministic double expressions.

    This is distributed ML-as-aggregation: 100 TB contributes moments
    (one row per group after partial aggregation), the model solve is
    free.  Per-row products are IEEE-deterministic doubles; cross-row
    sums accumulate in exact decimal and surface as doubles only at
    the edge; every division is zero-guarded symmetrically (the
    ADVICE-r4 divide class).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(F.col("x"), 38, 12).alias("sx"),
        dsum(F.col("y"), 38, 12).alias("sy"),
        dsum(F.col("x") * F.col("x"), 38, 12).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 38, 12).alias("sxy"),
        dsum(F.col("y") * F.col("y"), 38, 12).alias("syy"),
    )
    nd = F.col("n").cast("double")
    den_x = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / den_x
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.when(den_x != 0, slope).alias("slope"),
        F.when(den_x != 0, (F.col("sy") - slope * F.col("sx")) / nd).alias(
            "intercept"
        ),
        F.when(den_x * den_y != 0, (num * num) / (den_x * den_y)).alias("r2"),
    )


# --------------------------------------------------------------------------
# ml_chi2_term_selection — chi-square term↔language association
# --------------------------------------------------------------------------

_CHI2_TOP_TERMS = 50


@register(
    "ml_chi2_term_selection",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    df_t AS (
      SELECT term, COUNT(*) AS df FROM toks GROUP BY term
      ORDER BY df DESC, term LIMIT {_CHI2_TOP_TERMS}
    ),
    nl AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    a_cnt AS (
      SELECT toks.term, toks.lang, COUNT(*) AS a
      FROM toks JOIN df_t ON df_t.term = toks.term
      GROUP BY toks.term, toks.lang
    ),
    cells AS (
      SELECT df_t.term, nl.lang, df_t.df, nl.n_lang, tot.n,
             COALESCE(a_cnt.a, 0) AS a
      FROM df_t CROSS JOIN nl CROSS JOIN tot
      LEFT JOIN a_cnt ON a_cnt.term = df_t.term AND a_cnt.lang = nl.lang
    )
    SELECT term, lang,
           CAST(a AS BIGINT) AS n_docs_with_term,
           CAST(df AS BIGINT) AS term_df,
           CASE WHEN n_lang < n AND df < n THEN
             (CAST(n AS DOUBLE)
              * (CAST(a * (n - n_lang - (df - a)) - (n_lang - a) * (df - a)
                      AS DOUBLE)
                 / CAST(n_lang * (n - n_lang) AS DOUBLE)))
             * (CAST(a * (n - n_lang - (df - a)) - (n_lang - a) * (df - a)
                     AS DOUBLE)
                / CAST(df * (n - df) AS DOUBLE))
           END AS chi2
    FROM cells
    """,
)
def ml_chi2_term_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: for the 50 highest-df terms, the
    χ² statistic of the term↔language 2×2 contingency table (one-vs-
    rest per language) — the classic log-free corpus-contrast /
    classifier-feature ranking (scikit-learn ``chi2`` semantics for
    binary presence features).

    χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) is evaluated as the
    fixed-association form N·(Δ/(row margins))·(Δ/(col margins)) in
    BOTH engines: every operand is an exact integer below 2⁵³ (margins
    ≤ N², Δ ≤ N²) so the two IEEE divisions and two multiplications
    are bit-identical — the decimal route is unnecessary because no
    value ever exceeds double precision.  Degenerate single-language
    corpora yield NULL (guarded), never 0/0.

    Scale: per-doc distinct terms explode once; the top-50 cut is a
    TakeOrdered (no full vocab sort); a-counts join the tiny term list
    broadcast-side; the language and total margins are broadcast
    1-row/N-row dims.  Output is |terms| × |languages| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
    )
    toks = cached(toks)
    df_t = (
        toks.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(_CHI2_TOP_TERMS)
    )
    nl = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    tot = d.agg(F.count("*").alias("n"))
    a_cnt = (
        toks.join(F.broadcast(df_t.select("term")), "term")
        .groupBy("term", "lang")
        .agg(F.count("*").alias("a"))
    )
    cells = (
        df_t.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(tot))
        .join(a_cnt, ["term", "lang"], "left")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0)))
    )
    # Fixed-association χ²: Δ = a·d − b·c with b = n_lang − a,
    # c = df − a, d = n − n_lang − c; margins (a+b)(c+d) = n_lang·(n −
    # n_lang) and (a+c)(b+d) = df·(n − df).
    delta = (
        F.col("a") * (F.col("n") - F.col("n_lang") - (F.col("df") - F.col("a")))
        - (F.col("n_lang") - F.col("a")) * (F.col("df") - F.col("a"))
    ).cast("double")
    den_rows = (F.col("n_lang") * (F.col("n") - F.col("n_lang"))).cast("double")
    den_cols = (F.col("df") * (F.col("n") - F.col("df"))).cast("double")
    chi2 = (F.col("n").cast("double") * (delta / den_rows)) * (delta / den_cols)
    return cells.select(
        "term",
        "lang",
        F.col("a").cast("long").alias("n_docs_with_term"),
        F.col("df").cast("long").alias("term_df"),
        # Both margins guarded: a degenerate single-language corpus
        # (n_lang = n) OR an every-document term (df = n) zeroes a
        # denominator — ANSI Spark throws on 0/0 where DuckDB NULLs
        # (code-review r6), so NULL the cell explicitly in both.
        F.when(
            (F.col("n_lang") < F.col("n")) & (F.col("df") < F.col("n")), chi2
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# ml_ndcg_eval — label-relevance nDCG@5 of the IVF retriever
# --------------------------------------------------------------------------

_NDCG_K = 5
# 1/log2(i+1) discounts and their fixed-association prefix sums,
# computed in Python (IEEE doubles) and injected as literals into both
# engines — no libm call at any compared edge.
_NDCG_W = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
_NDCG_IDCG = []
_acc = 0.0
for _w in _NDCG_W:
    _acc = _acc + _w
    _NDCG_IDCG.append(_acc)


def _ndcg_oracle() -> str:
    from project_fauna_spark.plans.registry import ORACLE

    base = ORACLE["sim_ann_ivf"]
    dcg = " + ".join(
        f"(CASE WHEN r{i} = 1 THEN CAST('{_NDCG_W[i - 1]!r}' AS DOUBLE)"
        " ELSE CAST('0.0' AS DOUBLE) END)"
        for i in range(1, _NDCG_K + 1)
    )
    # fixed association ((((t1+t2)+t3)+t4)+t5 — SQL + is left-assoc, same
    # as the Spark column below.
    idcg_cases = " ".join(
        f"WHEN {n} THEN CAST('{_NDCG_IDCG[n - 1]!r}' AS DOUBLE)"
        for n in range(1, _NDCG_K + 1)
    )
    return f"""
    WITH base AS ({base}),
    lab AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT b.query_id, b.rank,
             CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
      FROM base b
      JOIN lab ql ON ql.vec_id = b.query_id
      JOIN lab nl ON nl.vec_id = b.neighbor_id
    ),
    piv AS (
      SELECT query_id,
             {", ".join(f"COALESCE(MAX(CASE WHEN rank = {i} THEN rel END), 0) AS r{i}" for i in range(1, _NDCG_K + 1))}
      FROM rel GROUP BY query_id
    ),
    scored AS (
      SELECT query_id,
             CAST({" + ".join(f"r{i}" for i in range(1, _NDCG_K + 1))} AS BIGINT)
               AS n_rel,
             {dcg} AS dcg
      FROM piv
    )
    SELECT query_id, n_rel, dcg,
           CASE n_rel {idcg_cases} END AS idcg,
           CASE WHEN n_rel > 0
                THEN dcg / (CASE n_rel {idcg_cases} END) END AS ndcg
    FROM scored
    """


@register("ml_ndcg_eval", oracle_builder=_ndcg_oracle)
def ml_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the IVF retriever with label-match relevance — the
    standard offline ranking-quality metric for a search/recsys/RAG
    retrieval stage, computed per query against the exact same probe
    set ``sim_ann_ivf`` serves.

    The log2 position discounts (and the ideal-DCG prefix sums) are
    Python-computed literals identical in both engines; DCG is a
    fixed-association sum of ≤5 literal terms selected by 0/1
    relevance, so the compared doubles never touch libm.  Queries with
    zero relevant results yield NULL nDCG (0/0 guarded).

    Scale: rides the IVF candidate plan (broadcast codebook, cell equi
    join) plus two broadcast label joins and a 5-way pivot — the
    evaluation overhead is O(queries), independent of corpus size.
    """
    from project_fauna_spark.operators.llm_extras import sim_ann_ivf

    base = sim_ann_ivf(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    rel = (
        base.join(
            F.broadcast(lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))),
            "query_id",
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
                )
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("q_label") == F.col("n_label")).cast("int").alias("rel"),
        )
    )
    piv = rel.groupBy("query_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rank") == i, F.col("rel"))), F.lit(0)
            ).alias(f"r{i}")
            for i in range(1, _NDCG_K + 1)
        ]
    )
    n_rel = sum((F.col(f"r{i}") for i in range(2, _NDCG_K + 1)), F.col("r1"))
    dcg = None
    for i in range(1, _NDCG_K + 1):
        term = F.when(F.col(f"r{i}") == 1, F.lit(_NDCG_W[i - 1])).otherwise(
            F.lit(0.0)
        )
        dcg = term if dcg is None else dcg + term
    idcg = None
    for n in range(1, _NDCG_K + 1):
        branch = (F.col("n_rel") == n, F.lit(_NDCG_IDCG[n - 1]))
        idcg = F.when(*branch) if idcg is None else idcg.when(*branch)
    scored = piv.select(
        "query_id", n_rel.cast("long").alias("n_rel"), dcg.alias("dcg")
    )
    return scored.select(
        "query_id",
        "n_rel",
        "dcg",
        idcg.alias("idcg"),
        F.when(F.col("n_rel") > 0, F.col("dcg") / idcg).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# ml_active_learning_margin — most-uncertain vectors for labeling
# --------------------------------------------------------------------------

_AL_BOTTOM_K = 50


@register(
    "ml_active_learning_margin",
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
      SELECT label AS c_label, list(m ORDER BY dim) AS centroid
      FROM c GROUP BY label
    ),
    e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    sims AS (
      SELECT e.vec_id, e.label, cent.c_label,
             {SQL_COS.format(a="e.emb", b="cent.centroid")} AS cos,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {SQL_COS.format(a="e.emb", b="cent.centroid")} DESC,
                                         cent.c_label) AS rn
      FROM e CROSS JOIN cent
    ),
    piv AS (
      SELECT vec_id, ANY_VALUE(label) AS label,
             MAX(CASE WHEN rn = 1 THEN c_label END) AS top_label,
             MAX(CASE WHEN rn = 1 THEN cos END) AS top_sim,
             MAX(CASE WHEN rn = 2 THEN cos END) AS second_sim
      FROM sims GROUP BY vec_id
    )
    SELECT vec_id, label, CAST(top_label AS INT) AS top_label,
           top_sim, second_sim,
           top_sim - second_sim AS margin
    FROM piv
    ORDER BY top_sim - second_sim, vec_id
    LIMIT {_AL_BOTTOM_K}
    """,
)
def ml_active_learning_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based active learning: the 50 vectors whose top-two
    label-centroid similarities are closest — the most uncertain
    points, i.e. the ones worth sending to human labelers / an LLM
    judge next.  The standard uncertainty-sampling loop for growing a
    classifier's training set at minimal labeling cost.

    Centroids use the decimal-accumulated per-dimension means
    (``sim_centroid_confusion`` convention — order-independent sums,
    VARCHAR-routed in the oracle); each vector scores against the
    broadcast |labels|-row centroid table with index-ordered cosine
    folds; the margin is one subtraction of two bit-identical doubles,
    and the bottom-K cut orders by (margin, vec_id) so ties are
    deterministic.  Scale: scoring is O(N·labels) narrow work; the
    global bottom-50 is a TakeOrdered, never a full sort.
    """
    from project_fauna_spark.functions.vectors import cosine_sim

    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim", "v"
        ),
    )
    c = x.groupBy("label", "dim").agg(
        (F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v")).alias(
            "m"
        )
    )
    cent = c.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m
        ).alias("centroid")
    )
    ev = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )
    sims = ev.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        cosine_sim(F.col("emb"), F.col("centroid")).alias("cos"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), "c_label")
    piv = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.any_value("label").alias("label"),
            F.max(F.when(F.col("rn") == 1, F.col("c_label"))).alias("top_label"),
            F.max(F.when(F.col("rn") == 1, F.col("cos"))).alias("top_sim"),
            F.max(F.when(F.col("rn") == 2, F.col("cos"))).alias("second_sim"),
        )
    )
    margin = F.col("top_sim") - F.col("second_sim")
    return (
        piv.select(
            "vec_id",
            "label",
            F.col("top_label").cast("int").alias("top_label"),
            "top_sim",
            "second_sim",
            margin.alias("margin"),
        )
        .orderBy("margin", "vec_id")
        .limit(_AL_BOTTOM_K)
    )


# --------------------------------------------------------------------------
# ml_leakage_naive_vs_asof — what a naive latest-feature join would leak
# --------------------------------------------------------------------------


@register(
    "ml_leakage_naive_vs_asof",
    oracle=f"""
    WITH anchors AS (
      SELECT event_id AS anchor_id, user_id, ts AS anchor_ts
      FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'view'
    ),
    naive AS (
      SELECT user_id,
             MAX(struct_pack(t := ts, i := event_id, v := value)) AS nv
      FROM views GROUP BY user_id
    ),
    asof_sel AS (
      SELECT a.anchor_id,
             MAX(struct_pack(t := v.ts, i := v.event_id, v := v.value)) AS av
      FROM anchors a JOIN views v
        ON v.user_id = a.user_id
       AND v.ts < a.anchor_ts
       AND v.ts >= a.anchor_ts - INTERVAL 30 DAY
      GROUP BY a.anchor_id
    ),
    joined AS (
      SELECT a.anchor_id, a.anchor_ts,
             n.nv.t AS naive_ts, n.nv.v AS naive_v,
             s.av.v AS asof_v
      FROM anchors a
      LEFT JOIN naive n ON n.user_id = a.user_id
      LEFT JOIN asof_sel s ON s.anchor_id = a.anchor_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(asof_v) AS BIGINT) AS n_with_prior,
           CAST(COUNT(CASE WHEN naive_ts >= anchor_ts THEN 1 END) AS BIGINT)
             AS n_leaky,
           CAST(COUNT(CASE WHEN naive_ts >= anchor_ts THEN 1 END) AS DOUBLE)
             / COUNT(*) AS leak_rate,
           {sql_davg('CASE WHEN asof_v IS NOT NULL THEN abs(naive_v - asof_v) END')}
             AS avg_abs_drift
    FROM joined
    """,
)
def ml_leakage_naive_vs_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-leakage audit: for every purchase anchor, compare the
    NAIVE feature join ("user's latest view, whenever it happened" —
    what a non-point-in-time feature store silently does) against the
    leakage-safe AS-OF join (latest view strictly before the anchor,
    30-day window, the ``ml_training_snapshot_asof`` discipline).
    Reports how many anchors the naive join poisons with future data
    (its chosen event is at/after the anchor) and the mean absolute
    feature drift between the two answers — the number that justifies
    paying for point-in-time-correct infrastructure.

    Both "latest" selections are deterministic struct-argmax over the
    unique (ts, event_id) key, identical in both engines.  Scale: the
    naive side is ONE user-keyed aggregate; the as-of side is the
    banded user-keyed join; the edge is a single map-combined summary
    row.  Drift is a per-row |difference| of doubles (IEEE-exact)
    under a decimal-accumulated mean.
    """
    e = load_table(spark, sf_dir, "events")
    # anchors feeds the as-of join AND the final left joins; views feeds
    # the naive aggregate AND the as-of join — persist both filtered
    # projections so the events scan runs once per side, not twice.
    anchors = cached(
        e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("anchor_id"),
            "user_id",
            F.col("ts").alias("anchor_ts"),
        )
    )
    views = cached(
        e.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
            F.col("value").alias("v_value"),
        )
    )
    naive = views.groupBy("v_user").agg(
        F.max(
            F.struct(
                F.col("v_ts").alias("t"),
                F.col("v_id").alias("i"),
                F.col("v_value").alias("v"),
            )
        ).alias("nv")
    )
    asof = (
        anchors.join(
            views,
            (F.col("v_user") == F.col("user_id"))
            & (F.col("v_ts") < F.col("anchor_ts"))
            & (F.col("v_ts") >= F.col("anchor_ts") - F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("anchor_id")
        .agg(
            F.max(
                F.struct(
                    F.col("v_ts").alias("t"),
                    F.col("v_id").alias("i"),
                    F.col("v_value").alias("v"),
                )
            ).alias("av")
        )
    )
    joined = (
        anchors.join(naive, anchors.user_id == naive.v_user, "left")
        .join(asof, "anchor_id", "left")
        .select(
            "anchor_ts",
            F.col("nv.t").alias("naive_ts"),
            F.col("nv.v").alias("naive_v"),
            F.col("av.v").alias("asof_v"),
        )
    )
    leaky = F.when(F.col("naive_ts") >= F.col("anchor_ts"), 1)
    return joined.agg(
        F.count("*").alias("n_anchors"),
        F.count("asof_v").alias("n_with_prior"),
        F.count(leaky).alias("n_leaky"),
        (F.count(leaky).cast("double") / F.count("*")).alias("leak_rate"),
        davg(
            F.when(
                F.col("asof_v").isNotNull(),
                F.abs(F.col("naive_v") - F.col("asof_v")),
            )
        ).alias("avg_abs_drift"),
    ).select(
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_with_prior").cast("long").alias("n_with_prior"),
        F.col("n_leaky").cast("long").alias("n_leaky"),
        "leak_rate",
        "avg_abs_drift",
    )


# --------------------------------------------------------------------------
# ml_best_f1_threshold — exact operating-point selection, one-vs-rest
# --------------------------------------------------------------------------

_F1_BUCKET_SCALE = 16  # score-range buckets for the two-phase cumsum


@register(
    "ml_best_f1_threshold",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score, label FROM embeddings
    ),
    cnt AS (SELECT score, label, COUNT(*) AS n_sl FROM scored GROUP BY 1, 2),
    sc AS (SELECT score, CAST(SUM(n_sl) AS BIGINT) AS n_all FROM cnt
           GROUP BY 1),
    lab AS (SELECT label, CAST(SUM(n_sl) AS BIGINT) AS np FROM cnt
            GROUP BY 1),
    grid AS (
      SELECT l.label, s.score, s.n_all, l.np,
             CAST(COALESCE(c.n_sl, 0) AS BIGINT) AS n_pos
      FROM lab l CROSS JOIN sc s
      LEFT JOIN cnt c ON c.label = l.label AND c.score = s.score
    ),
    cum AS (
      SELECT label, score, np,
             np - CAST(COALESCE(SUM(n_pos) OVER w, 0) AS BIGINT) AS tp,
             (SELECT CAST(SUM(n_all) AS BIGINT) FROM sc)
               - CAST(COALESCE(SUM(n_all) OVER w, 0) AS BIGINT) AS pp
      FROM grid
      WINDOW w AS (PARTITION BY label ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    best AS (
      SELECT label,
             MAX(struct_pack(
               f := CAST(2 * tp AS DOUBLE) / (pp + np),
               nt := -score, tp := tp, pp := pp, np := np)) AS b
      FROM cum GROUP BY label
    )
    SELECT label,
           CAST(b.np AS BIGINT) AS n_pos,
           -b.nt AS threshold,
           CAST(b.tp AS BIGINT) AS tp,
           CAST(b.pp - b.tp AS BIGINT) AS fp,
           CAST(b.np - b.tp AS BIGINT) AS fn,
           CAST(b.tp AS DOUBLE) / b.pp AS precision_at,
           CAST(b.tp AS DOUBLE) / b.np AS recall_at,
           b.f AS f1
    FROM best
    """,
)
def ml_best_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact classifier threshold tuning, one-vs-rest per label: sweep
    EVERY distinct score as the decision threshold (predict positive
    iff ``score ≥ t``), and report the operating point maximizing F1 —
    with its confusion counts, precision and recall.  This is the
    post-AUC step of a model-eval pipeline (``ml_auc_ranksum`` says how
    good the ranking is; this says where to cut it).

    The threshold sweep never materializes per-row predictions: TP(t)
    and predicted-positives(t) are SUFFIX sums over the distinct-score
    frame, computed as ``total − exclusive-prefix-sum`` with the repo's
    two-phase cumsum (bucket-local windows over floor(score·16) buckets
    + ONE broadcast ``bucket_offsets_multi`` pass per label covering
    both measures — never a global sort window).  All counts are exact
    integers; F1 = 2·TP/(PP+P) and the precision/recall are single
    IEEE divisions of identical integers in both engines, and the
    argmax breaks F1 ties to the smallest threshold via a struct max
    over (f1, −score) — the ``dq_ks_two_sample`` convention.  Scale:
    one (score,label)-keyed aggregate of the fact table; everything
    after runs on the labels × distinct-scores grid.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").getItem(0).cast("double").alias("score"), "label"
    )
    # cnt feeds the score marginal, the label marginal AND the grid
    # join — persist the (score,label)-distinct frame so the embeddings
    # scan + aggregate runs once.
    cnt = cached(
        e.groupBy("score", "label").agg(F.count("*").alias("n_sl"))
    )
    sc = cnt.groupBy("score").agg(F.sum("n_sl").alias("n_all"))
    lab = cnt.groupBy("label").agg(F.sum("n_sl").alias("np"))
    grid = (
        sc.crossJoin(F.broadcast(lab))
        .join(
            cnt.select("score", "label", F.col("n_sl").alias("_n_pos")),
            ["score", "label"],
            "left",
        )
        .select(
            "label",
            "score",
            "n_all",
            "np",
            F.coalesce(F.col("_n_pos"), F.lit(0)).cast("long").alias("n_pos"),
            F.floor(F.col("score") * _F1_BUCKET_SCALE).cast("long").alias("bkt"),
        )
    )
    # One aggregate pass yields BOTH exclusive-prefix offsets and both
    # per-label totals (Σ n_all over the full grid = grand total, since
    # every label row spans every distinct score).
    offs = bucket_offsets_multi(
        grid,
        ["label"],
        "bkt",
        [(F.col("n_pos"), "off_pos", "tot_pos"),
         (F.col("n_all"), "off_all", "tot_all")],
    )
    w_loc = (
        W.partitionBy("label", "bkt")
        .orderBy("score")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    lt_pos = F.col("off_pos") + F.coalesce(
        F.sum("n_pos").over(w_loc), F.lit(0)
    )
    lt_all = F.col("off_all") + F.coalesce(
        F.sum("n_all").over(w_loc), F.lit(0)
    )
    cum = grid.join(F.broadcast(offs), ["label", "bkt"]).select(
        "label",
        "score",
        F.col("np").cast("long").alias("np_t"),
        (F.col("tot_pos").cast("long") - lt_pos).cast("long").alias("tp"),
        (F.col("tot_all").cast("long") - lt_all).cast("long").alias("pp"),
    )
    f1 = (F.lit(2) * F.col("tp")).cast("double") / (
        F.col("pp") + F.col("np_t")
    )
    best = cum.groupBy("label").agg(
        F.max(
            F.struct(
                f1.alias("f"),
                (-F.col("score")).alias("nt"),
                F.col("tp").alias("tp"),
                F.col("pp").alias("pp"),
                F.col("np_t").alias("np"),
            )
        ).alias("b")
    )
    return best.select(
        "label",
        F.col("b.np").alias("n_pos"),
        (-F.col("b.nt")).alias("threshold"),
        F.col("b.tp").alias("tp"),
        (F.col("b.pp") - F.col("b.tp")).alias("fp"),
        (F.col("b.np") - F.col("b.tp")).alias("fn"),
        (F.col("b.tp").cast("double") / F.col("b.pp")).alias("precision_at"),
        (F.col("b.tp").cast("double") / F.col("b.np")).alias("recall_at"),
        F.col("b.f").alias("f1"),
    )


# --------------------------------------------------------------------------
# ml_markov_next_event_eval — how predictable is the event stream?
# --------------------------------------------------------------------------


@register(
    "ml_markov_next_event_eval",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    pairs AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER w AS nxt,
             LEAD(us) OVER w AS nxt_us
      FROM ordered
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sp AS (
      SELECT (MIN(us) + (MAX(us) - MIN(us)) // 2) AS split_us FROM ordered
    ),
    train AS (
      SELECT cur, nxt, COUNT(*) AS cnt
      FROM pairs CROSS JOIN sp
      WHERE nxt IS NOT NULL AND nxt_us < split_us
      GROUP BY cur, nxt
    ),
    model AS (
      SELECT cur, MAX(struct_pack(c := cnt, t := nxt)).t AS predicted
      FROM train GROUP BY cur
    ),
    test AS (
      SELECT p.cur, p.nxt, m.predicted
      FROM pairs p CROSS JOIN sp LEFT JOIN model m ON m.cur = p.cur
      WHERE p.nxt IS NOT NULL AND p.nxt_us >= sp.split_us
    )
    SELECT cur AS event_type,
           MAX(predicted) AS predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(CASE WHEN nxt = predicted THEN 1 END) AS BIGINT)
             AS n_correct,
           CAST(COUNT(CASE WHEN nxt = predicted THEN 1 END) AS DOUBLE)
             / COUNT(*) AS accuracy
    FROM test GROUP BY cur
    """,
)
def ml_markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtested first-order Markov next-event baseline: train
    "predict the most frequent successor of each event type" on the
    FIRST half of the timeline, score top-1 accuracy per type on the
    SECOND half — the floor any sequence model must beat, evaluated
    with the same point-in-time discipline ``ml_leakage_naive_vs_asof``
    audits (a random split would leak future behavior into training).
    ``event_type_transitions`` gives the transition matrix; this turns
    it into a scored predictor.

    Successor pairs come from a per-user LEAD window ordered by the
    unique (µs, event_id) key — deterministic under timestamp ties,
    bounded per-partition on the high-cardinality user key.  The time
    split is the exact integer-µs midpoint (broadcast 1-row).  The
    argmax breaks count ties to the lexicographically largest type via
    a (count, type) struct max in both engines.  Counts are exact; the
    accuracy is one integer division.  Unseen-in-train types predict
    NULL and score as wrong — the honest denominator.  Scale: one
    user-keyed window + two tiny keyed aggregates over the handful of
    event types.
    """
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    ordered = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
    )
    pairs = cached(
        ordered.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
            F.lead("us").over(w).alias("nxt_us"),
        ).filter(F.col("nxt").isNotNull())
    )
    sp = ordered.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("split_us")
    )
    train = (
        pairs.crossJoin(F.broadcast(sp))
        .filter(F.col("nxt_us") < F.col("split_us"))
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    model = train.groupBy("cur").agg(
        F.max(
            F.struct(F.col("cnt").alias("c"), F.col("nxt").alias("t"))
        ).getField("t").alias("predicted")
    )
    test = (
        pairs.crossJoin(F.broadcast(sp))
        .filter(F.col("nxt_us") >= F.col("split_us"))
        .join(F.broadcast(model), "cur", "left")
    )
    correct = F.when(F.col("nxt") == F.col("predicted"), 1)
    return test.groupBy(F.col("cur").alias("event_type")).agg(
        F.max("predicted").alias("predicted_next"),
        F.count("*").cast("long").alias("n_test"),
        F.count(correct).cast("long").alias("n_correct"),
        (F.count(correct).cast("double") / F.count("*")).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# ml_first_order_ltv_corr — does the first basket predict the customer?
# --------------------------------------------------------------------------


@register(
    "ml_first_order_ltv_corr",
    oracle="""
    WITH cents AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey, CAST(SUM(c) AS BIGINT) AS y FROM cents GROUP BY 1
    ),
    first AS (
      SELECT o_custkey, c AS x
      FROM (SELECT o_custkey, c,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS rn
            FROM cents)
      WHERE rn = 1
    ),
    t AS (
      SELECT cu.c_mktsegment, f.x, p.y
      FROM first f
      JOIN per_cust p USING (o_custkey)
      JOIN customer cu ON cu.c_custkey = f.o_custkey
    ),
    m AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM t GROUP BY 1
    )
    SELECT c_mktsegment,
           CAST(np AS BIGINT) AS n_customers,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(np AS BIGINT)
             AS mean_first_cents,
           CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(np AS BIGINT)
             AS mean_ltv_cents,
           CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
                THEN CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                  / (sqrt(CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                     * sqrt(CAST(CAST(np * syy - sy * sy AS VARCHAR)
                                 AS DOUBLE)))
           END AS first_ltv_corr
    FROM m
    """,
)
def ml_first_order_ltv_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the FIRST order's value predict the customer's lifetime
    value?  Per market segment: Pearson correlation between
    first-order cents and lifetime cents — the one number that decides
    whether first-basket-based acquisition bidding is defensible
    (``event_cohort_ltv`` tracks the LTV CURVE over time; this scores
    the day-one PREDICTOR).

    Prices become exact integer cents (both engines round the same
    stored doubles), so the five Pearson moments accumulate exactly
    (the ``functions/moments`` contract: decimal(38,0) / HUGEINT) and
    the correlation's only float ops are one division and two
    IEEE-exact sqrts of identical integers.  The first order is
    rank-1 by (date, orderkey) under a custkey-partitioned window —
    high-cardinality key, no funnel.  Means are single divisions of
    exact integers.
    """
    cents = cached(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
    )
    per_cust = cents.groupBy("o_custkey").agg(F.sum("c").alias("y"))
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    first = (
        cents.select("o_custkey", "c", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("c").alias("x"))
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = (
        first.join(per_cust, "o_custkey")
        .join(cu, first.o_custkey == cu.c_custkey)
        .select("c_mktsegment", "x", "y")
    )
    m = int_pearson_moments(t, ["c_mktsegment"])
    num, dx, dy, corr = pearson_terms()
    return m.select(
        "c_mktsegment",
        F.col("np_l").cast("long").alias("n_customers"),
        (F.col("sx").cast("double") / F.col("np_l")).alias("mean_first_cents"),
        (F.col("sy").cast("double") / F.col("np_l")).alias("mean_ltv_cents"),
        F.when((dx > 0) & (dy > 0), corr).alias("first_ltv_corr"),
    )


# --------------------------------------------------------------------------
# ml_group_aware_split — split by USER, never by row
# --------------------------------------------------------------------------


def _group_split_oracle() -> str:
    from project_fauna_spark.operators._oracle_shared import sql_h32 as _sql_h32

    h = _sql_h32("CAST(user_id AS VARCHAR)", "grp:")
    return f"""
    WITH e AS (
      SELECT user_id, event_type,
             CASE WHEN {h} % 10 <= 7 THEN 'train'
                  WHEN {h} % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    )
    SELECT split,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS n_purchases,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS DOUBLE) / COUNT(*) AS purchase_rate
    FROM e GROUP BY split
    """


@register("ml_group_aware_split", oracle_builder=_group_split_oracle)
def ml_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/val/test split of the event stream: every
    USER hashes wholly into one split (8/1/1 by the portable md5
    fold), so no user's behavior leaks across the boundary — the
    split rule sequence models and churn predictors require, and the
    one a row-level split (``llm_train_val_split`` splits independent
    documents, where row-level is correct) silently violates.  Per
    split: user and event counts plus the purchase-rate balance check
    that says whether the label distribution survived the split.

    Deterministic and engine-portable: the assignment is a pure hash
    of the group key, so re-runs, backfills, and late events land in
    the same split forever.  Scale: one expression-level assignment +
    one map-combined aggregate; no shuffle carries more than
    (split, counts).
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    h = _h32(F.col("user_id").cast("string"), "grp:") % 10
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.when(h <= 7, "train").when(h == 8, "val").otherwise("test").alias(
            "split"
        ),
    )
    purchases = F.count(F.when(F.col("event_type") == "purchase", 1))
    return e.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        purchases.cast("long").alias("n_purchases"),
        (purchases.cast("double") / F.count("*")).alias("purchase_rate"),
    )


_CAL_SALT = "cal:"
# Positives get +0.2 confidence: a correlated, not oracle-perfect,
# synthetic classifier — bins 0-1 are pure negatives, 8-9 pure
# positives, the middle mixes.
_CAL_POS_SHIFT = 200


@register(
    "ml_calibration_ece",
    oracle=f"""
    WITH scored AS (
      SELECT {sql_h32("CAST(event_id AS VARCHAR)", _CAL_SALT)} % 800
               + {_CAL_POS_SHIFT}
                 * (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      FROM events
    ),
    bins AS (
      SELECT c // 100 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS n_pos,
             SUM(c) AS sum_c
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS nt FROM bins),
    terms AS (
      SELECT bin, n, n_pos,
             CAST(n_pos AS DOUBLE) / n AS frac_pos,
             CAST(sum_c AS DOUBLE) / (1000.0 * n) AS conf_avg,
             (CAST(n AS DOUBLE) / nt)
               * abs(CAST(n_pos AS DOUBLE) / n
                     - CAST(sum_c AS DOUBLE) / (1000.0 * n)) AS gap_w
      FROM bins, tot
    )
    SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, frac_pos, conf_avg, gap_w,
           (SELECT list_reduce(
                     list_prepend(CAST(0 AS DOUBLE), list(gap_w ORDER BY bin)),
                     (a, b) -> a + b) FROM terms) AS ece
    FROM terms
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table + Expected Calibration Error over a
    deterministic synthetic classifier: confidence c/1000 where
    c = h32(event_id) mod 800 + 200·[purchase] (hash-random but
    label-correlated, the ``sample_reservoir_hash`` determinism
    convention), label = the event being a purchase; 10 equal-width
    confidence bins; ECE = Σ_b (n_b/N)·|acc_b − conf̄_b|.

    Parity: EVERYTHING up to the edge is exact int64 — the portable
    md5-digit hash, the bin id (integer division), and the per-bin
    (n, n_pos, Σc) triples from one map-combined aggregate.  The
    doubles are divisions of those ints spelled IDENTICALLY on both
    engines (IEEE division is correctly rounded, so identical inputs +
    identical expression shape = identical bits; no libm anywhere),
    and ECE folds the ≤10 per-bin terms in bin order on both engines
    (``F.aggregate`` over the bin-sorted struct array / ``list_reduce``
    over ``list(… ORDER BY bin)``) — never an engine-ordered SUM.

    Scale: one map-combined groupBy over 10 bins, then two broadcast
    1-row cross joins (grand total, ECE scalar) — the
    ``event_last_touch_attribution`` percent-of-total shape; no global
    window, no skew exposure (bins are equal-width by construction).
    """
    e = load_table(spark, sf_dir, "events")
    label = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    c = (h32(F.col("event_id").cast("string"), _CAL_SALT) % 800) + (
        F.lit(_CAL_POS_SHIFT) * label
    )
    scored = e.select(c.alias("c"), label.alias("label"))
    bins = (
        scored.withColumn("bin", F.expr("c div 100"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("label").alias("n_pos"),
            F.sum("c").alias("sum_c"),
        )
    )
    tot = bins.agg(F.sum("n").alias("nt"))
    frac_pos = F.col("n_pos").cast("double") / F.col("n")
    conf_avg = F.col("sum_c").cast("double") / (F.lit(1000.0) * F.col("n"))
    gap_w = (F.col("n").cast("double") / F.col("nt")) * F.abs(frac_pos - conf_avg)
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        frac_pos.alias("frac_pos"),
        conf_avg.alias("conf_avg"),
        gap_w.alias("gap_w"),
    )
    ece = terms.groupBy().agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "gap_w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["gap_w"],
        ).alias("ece")
    )
    return terms.crossJoin(F.broadcast(ece)).select(
        F.col("bin").cast("bigint").alias("bin"),
        "n",
        "n_pos",
        "frac_pos",
        "conf_avg",
        "gap_w",
        "ece",
    )
