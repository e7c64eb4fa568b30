"""Skew-mitigation utilities: salted joins and bucketed co-location.

At 100 TB the two engineered answers to shuffle pathology are:

* **Salting** — when one join key carries a disproportionate share of
  rows (power-law user, null-ish default key), split it across ``s``
  synthetic sub-keys: the big side gets a random salt in [0, s), the
  small side is replicated ``s`` times.  AQE's skew-join splitting
  handles sort-merge cases adaptively; explicit salting is the tool
  when AQE can't see the skew (aggregations, broadcast-ineligible
  sides, streaming state).
* **Bucketing** — pre-shuffle both tables into the same bucket layout
  on the join key at write time; every future join/aggregation on that
  key is exchange-free.  The write pays the shuffle once; readers
  never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi join with the hot-key shuffle split across ``n_salts``.

    The big side assigns each row a deterministic pseudo-random salt
    (hash of the full row's key + a per-row component); the small side
    explodes ×``n_salts``.  Result is row-identical to the plain join
    for inner/left joins on unique small-side keys.
    """
    salt = (F.abs(F.xxhash64(F.col(big_key), F.monotonically_increasing_id())) % n_salts).alias(
        "_salt"
    )
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salts)]))
    )
    joined = big_s.join(
        small_s,
        (big_s[big_key] == small_s[small_key]) & (big_s["_salt"] == small_s["_salt"]),
        how,
    )
    return joined.drop("_salt")


def key_skew_profile(df: DataFrame, key: str, top_n: int = 10) -> DataFrame:
    """Diagnostic: per-key row counts + share of total for the top keys.

    Run this before choosing a salting factor; a key holding > ~1/cores
    of the data is a straggler candidate.
    """
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n_rows"))
        .withColumn("share", F.col("n_rows") / F.lit(float(total)))
        .orderBy(F.col("n_rows").desc())
        .limit(top_n)
    )
