"""Query registry + determinism helpers shared by all operator modules.

Each engine operator is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables.  The driver harness
hash-compares the two at sf0.01 — order-insensitively, but VALUES must
match exactly, which drives two conventions:

* **Deterministic float aggregation.**  A cross-row ``sum(double)`` in
  Spark accumulates in shuffle order — nondeterministic in the last
  ulps, and not reproducible by any serial engine.  Convention: sums go
  through an exact ``decimal`` accumulator and are cast to ``double``
  only at the edge (``dsum``); averages are ``decimal-sum / count`` in
  double (``davg``).  Per-row double arithmetic is IEEE-deterministic
  and needs no special handling.
* **Stable tie-breaks.**  Any windowed/ordered operator orders by a
  unique key suffix so row_number/rank/frames agree across engines.

This module imports no operator module: importing one operator module
(as a Spark worker does when it unpickles a function by reference)
loads that module alone.  ``plans`` imports them all and orders the
registry.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Decorator: add a named query (and optional DuckDB oracle SQL).

    The oracle is a plain string, built when the query registers; an
    oracle that composes another query's oracle reads the shared text
    from ``operators/_oracle_shared``.  Registration order carries no
    meaning: ``plans/__init__`` reorders the registry after import.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dsum(col: Column, precision: int = 30, scale: int = 8) -> Column:
    """Order-independent double sum: exact decimal accumulate, double edge."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column, precision: int = 30, scale: int = 8) -> Column:
    """Deterministic average: decimal sum divided by count, in double."""
    return (
        F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")
        / F.count(col)
    )


# The DuckDB-side spellings of the same conventions, for oracle strings.
#
# BOTH decimal casts route through VARCHAR:
# - decimal→double: DuckDB's direct DECIMAL→DOUBLE converts the int128
#   payload to double and THEN divides by 10^scale — two roundings,
#   which disagrees with the single correct rounding Spark
#   (BigDecimal.doubleValue) performs once the scaled payload exceeds
#   2^53.  String→double parsing is correctly rounded in both engines.
# - double→decimal (the INPUT cast): DuckDB's direct cast resolves
#   exact scale ties HALF_EVEN, Spark (BigDecimal.valueOf =
#   Double.toString + setScale) HALF_UP.  Float-origin doubles are
#   dyadic rationals, so exact ties DO occur (e.g. 0.1983642578125 at
#   scale 12).  DuckDB's VARCHAR→DECIMAL parse rounds HALF_UP on the
#   same shortest-repr digits Spark uses, restoring bit equality.
def sql_dsum(expr: str, precision: int = 30, scale: int = 8) -> str:
    return (
        f"CAST(CAST(SUM(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL({precision},{scale}))) AS VARCHAR) AS DOUBLE)"
    )


def sql_davg(expr: str, precision: int = 30, scale: int = 8) -> str:
    return (
        f"CAST(CAST(SUM(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL({precision},{scale}))) AS VARCHAR) AS DOUBLE)"
        f" / COUNT({expr})"
    )
