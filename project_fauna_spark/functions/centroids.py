"""Two-level fixed-order label-centroid fold.

Centroid = elementwise mean via a TWO-LEVEL fold: level 1 groups by
(label, vec_id div fold_k) and folds each bucket's ≤ fold_k vectors in
vec_id order; level 2 folds the bucket partials in bucket order.
Per-group state is bounded at both levels (no whole-label
collect_list), and the fold order is fixed, so the double sums are
reproducible AND bit-identical to the oracles' matching two-level
``list_reduce`` folds.  (Decimal accumulation is not usable here:
DuckDB's double→decimal cast rounds through a double multiply.)

Shared by sim_label_centroid and sim_silhouette_centroid — the Spark
fold and the oracle SQL fragments below must stay in lockstep, which
is why both live in ONE module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Fixed fold width: level 1 folds ≤ FOLD_K vectors per
# (label, vec_id div FOLD_K) bucket, level 2 folds the bucket partials
# in bucket order — bounded per-group state, deterministic order.
FOLD_K = 256

# DuckDB spellings of the same fold, for oracle strings.
SQL_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
SQL_ZIPADD = "list_transform(range(1, len(a)+1), k -> a[k] + b[k])"


def sql_centroid_ctes(
    fold_k: int,
    emb_expr: str = SQL_EMB_D,
    where: str = "",
    tag: str = "",
) -> str:
    """The e/b/g/cent CTE chain (no leading WITH) building per-label
    centroids in DuckDB with the identical two-level fold.

    ``where`` restricts the source rows (e.g. a parity split for
    drift checks); ``tag`` suffixes the CTE names so two chains can
    coexist in one WITH.  ``cent`` carries ``n`` alongside the
    centroid — consumers that only need (label, centroid) ignore it.
    """
    t = f"_{tag}" if tag else ""
    return f"""
    e{t} AS (SELECT vec_id, label, {emb_expr} AS emb FROM embeddings {where}),
    b{t} AS (
      SELECT label, vec_id // {fold_k} AS bkt,
             list_reduce(list(emb ORDER BY vec_id), (a, b) -> {SQL_ZIPADD})
               AS part,
             COUNT(*) AS n1
      FROM e{t} GROUP BY label, vec_id // {fold_k}
    ),
    g{t} AS (
      SELECT label,
             list_reduce(list(part ORDER BY bkt), (a, b) -> {SQL_ZIPADD}) AS s,
             CAST(SUM(n1) AS BIGINT) AS n
      FROM b{t} GROUP BY label
    ),
    cent{t} AS (SELECT label, n, list_transform(s, x -> x / n) AS centroid
                FROM g{t})"""


def _fold_sorted(col: str) -> Column:
    """((x1 + x2) + x3) + … over the struct-sorted list's arrays."""
    embs = F.transform(F.array_sort(F.col(col)), lambda s: s.emb)
    return F.aggregate(
        F.slice(embs, 2, F.size(embs) - 1),
        F.element_at(embs, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )


def label_centroids(df: DataFrame, fold_k: int) -> DataFrame:
    """(label, centroid) per label over an embeddings frame with
    columns ``label, vec_id, embedding`` — the bounded two-level fold
    described in the module docstring."""
    demb = F.transform("embedding", lambda x: x.cast("double"))
    lvl1 = (
        df.groupBy("label", F.expr(f"vec_id div {fold_k}").alias("bkt"))
        .agg(
            F.collect_list(
                F.struct(F.col("vec_id"), demb.alias("emb"))
            ).alias("vs"),
            F.count("*").alias("n1"),
        )
        .select("label", "bkt", _fold_sorted("vs").alias("part"), "n1")
    )
    return (
        lvl1.groupBy("label")
        .agg(
            F.collect_list(
                F.struct(F.col("bkt").alias("vec_id"), F.col("part").alias("emb"))
            ).alias("ps"),
            F.sum("n1").alias("n"),
        )
        .select(
            "label",
            F.col("n"),
            F.transform(_fold_sorted("ps"), lambda x: x / F.col("n")).alias(
                "centroid"
            ),
        )
    )
