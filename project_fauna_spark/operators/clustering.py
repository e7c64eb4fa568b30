"""Iterative clustering on the embedding corpus (round 3).

``ml_kmeans_lloyd`` runs two unrolled Lloyd iterations of k-means —
the algorithm behind IVF codebook training (``sim_ann_ivf`` consumes
exactly such a codebook) — with every float edge engine-deterministic:

* distance = index-ordered left fold of squared differences in double
  (bit-identical to the oracle's ``list_reduce`` over the same order);
* new centroids = TWO-LEVEL fixed-order vector fold (the
  ``sim_label_centroid`` pattern: ≤256 vectors folded in vec_id order
  per bucket, bucket partials folded in bucket order) — decimal
  accumulation is NOT usable for embedding means because DuckDB's
  double→decimal cast rounds through a double multiply and diverges in
  the last ulps;
* every argmin window tie-breaks on the centroid id.

Scale: each iteration is one broadcast of the K-row codebook, one
linear corpus pass for assignment (the K-way expansion is reduced by a
per-vec_id window before anything shuffles), and one bounded-state
aggregation for the new centroids.  More iterations = more unrolled
rounds of the same shape; real pipelines run this to fixpoint with the
loop in the driver ON METADATA ONLY (centroid table), never collecting
the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.functions.centroids import FOLD_K as _FOLD_K
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import _IVF_K, _ivf_centroid, _ivf_sql_values
from project_fauna_spark.plans.registry import register

_SQL_ZIPADD = "list_transform(range(1, len(a)+1), k -> a[k] + b[k])"
_SQL_SQDIST = """
  list_reduce(list_transform(range(1, len({a})+1),
                             i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),
              (s, v) -> s + v)
"""


def _fold_sorted(col: str) -> Column:
    """((x1 + x2) + x3) + ... elementwise over the struct-sorted list."""
    embs = F.transform(F.array_sort(F.col(col)), lambda s: s.emb)
    return F.aggregate(
        F.slice(embs, 2, F.size(embs) - 1),
        F.element_at(embs, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )


def _sqdist(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _assign(pts: DataFrame, cents: DataFrame, out: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast codebook, per-row argmin."""
    scored = pts.crossJoin(F.broadcast(cents)).withColumn(
        "d", _sqdist(F.col("emb"), F.col("c"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("d"), F.col("k"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "c")
        .withColumnRenamed("k", out)
        .withColumnRenamed("d", f"d_{out}")
    )


@register(
    "ml_kmeans_lloyd",
    oracle=f"""
    WITH cents0(k, c) AS (VALUES {_ivf_sql_values()}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    s0 AS (
      SELECT e.vec_id, e.emb, c0.k,
             {_SQL_SQDIST.format(a='e.emb', b='c0.c')} AS d
      FROM e CROSS JOIN cents0 c0
    ),
    a1 AS (
      SELECT vec_id, emb, k AS c1 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM s0) WHERE rn = 1
    ),
    bkt AS (
      SELECT c1, vec_id // {_FOLD_K} AS bkt,
             list_reduce(list(emb ORDER BY vec_id), (a, b) -> {_SQL_ZIPADD}) AS part,
             COUNT(*) AS n1
      FROM a1 GROUP BY c1, vec_id // {_FOLD_K}
    ),
    tot AS (
      SELECT c1,
             list_reduce(list(part ORDER BY bkt), (a, b) -> {_SQL_ZIPADD}) AS s,
             CAST(SUM(n1) AS BIGINT) AS n
      FROM bkt GROUP BY c1
    ),
    cent1 AS (SELECT c1 AS k, list_transform(s, x -> x / n) AS c FROM tot),
    s1 AS (
      SELECT a1.vec_id, a1.c1, c1_.k,
             {_SQL_SQDIST.format(a='a1.emb', b='c1_.c')} AS d
      FROM a1 CROSS JOIN cent1 c1_
    ),
    a2 AS (
      SELECT vec_id, c1, k AS c2, d AS d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM s1) WHERE rn = 1
    )
    SELECT vec_id, CAST(c1 AS INT) AS c1, CAST(c2 AS INT) AS c2,
           c1 <> c2 AS moved, d2
    FROM a2
    """,
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (K = {K}) from a deterministic
    codebook: assign → recompute centroids (two-level fixed-order
    fold) → reassign; emits each vector's iteration-1 / iteration-2
    cluster, whether it moved, and its final squared distance.
    """.replace("{K}", str(_IVF_K))
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    cents0 = spark.createDataFrame(
        [(k, _ivf_centroid(k)) for k in range(_IVF_K)], schema="k int, c array<double>"
    )
    a1 = _assign(e, cents0, "c1").drop("d_c1")
    lvl1 = (
        a1.groupBy("c1", F.expr(f"vec_id div {_FOLD_K}").alias("bkt"))
        .agg(
            F.collect_list(F.struct(F.col("vec_id"), F.col("emb"))).alias("vs"),
            F.count("*").alias("n1"),
        )
        .select("c1", "bkt", _fold_sorted("vs").alias("part"), "n1")
    )
    lvl2 = (
        lvl1.groupBy("c1")
        .agg(
            F.collect_list(
                F.struct(F.col("bkt").alias("vec_id"), F.col("part").alias("emb"))
            ).alias("ps"),
            F.sum("n1").alias("n"),
        )
        .select("c1", _fold_sorted("ps").alias("s"), "n")
    )
    cent1 = lvl2.select(
        F.col("c1").alias("k"),
        F.transform("s", lambda x: x / F.col("n")).alias("c"),
    )
    a2 = _assign(a1, cent1, "c2")
    return a2.select(
        "vec_id",
        F.col("c1").cast("int").alias("c1"),
        F.col("c2").cast("int").alias("c2"),
        (F.col("c1") != F.col("c2")).alias("moved"),
        F.col("d_c2").alias("d2"),
    )
