"""Shared char-level word-hash fold (base 31, mod 1e9+7).

The per-word rolling polynomial hash used by ``text_fingerprint`` and
``text_winnowing_fingerprint`` — BOTH the Spark HOF spelling and the
DuckDB ``list_reduce`` spelling live here so the two can never drift
apart (cross-engine parity depends on them being bit-identical).
Non-registering home per the repo convention (shared Spark helpers in
functions/, shared SQL next to them when the pair must stay in sync).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WORDHASH_MOD = 1_000_000_007


def word_hashes(words: Column) -> Column:
    """array<string> → array<long>: per-word base-31 char fold mod P."""
    return F.transform(
        words,
        lambda w: F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.ascii(F.substr(w, i, F.lit(1))).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * 31 + c) % WORDHASH_MOD,
        ),
    )


# DuckDB spelling of the same fold over a ``words`` list column.
SQL_WORD_HASHES = f"""
             list_transform(words, w ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(w) + 1),
                                  i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % {WORDHASH_MOD}))
"""


_HEX = "0123456789abcdef"


def h32(col: Column, salt: str) -> Column:
    """Portable 32-bit salted hash: first 8 hex digits of md5, folded
    via digit positions — identical on both engines, no hex→int cast
    (the ``layout._h16`` pattern widened to 32 bits)."""
    h = F.md5(F.concat(F.lit(salt), col))
    val: Column = F.lit(0).cast("long")  # long from the start: 16^8 > int32 (ANSI throws)
    for pos in range(8):
        d = F.instr(F.lit(_HEX), F.substring(h, pos + 1, 1)) - 1
        val = val * 16 + d
    return val
