"""Oracle-SQL fragments shared across operator modules.

Registers no queries: operator modules share SQL fragments through
this module instead of importing one another.

DuckDB rendering of the reference epoch→ISO pipeline
(/root/reference/src/animals_etl/utils.py:20-48): float-seconds
division with half-even µs rounding, unit auto-detect by magnitude.
"""

from __future__ import annotations

AS_OF = "2030-01-01 00:00:00"

# {e} is a BIGINT epoch expression; NULL/negative handled by callers
# via CASE.
_SQL_EPOCH_TO_US = """
    CAST(floor((CAST({e} AS DOUBLE) / (CASE
        WHEN {e} >= 1000000000000000000 THEN 1000000000.0
        WHEN {e} >= 1000000000000000 THEN 1000000.0
        WHEN {e} >= 1000000000000 THEN 1000.0
        ELSE 1.0 END))) AS BIGINT) * 1000000
    + CAST(round_even((CAST({e} AS DOUBLE) / (CASE
        WHEN {e} >= 1000000000000000000 THEN 1000000000.0
        WHEN {e} >= 1000000000000000 THEN 1000000.0
        WHEN {e} >= 1000000000000 THEN 1000.0
        ELSE 1.0 END)
      - floor(CAST({e} AS DOUBLE) / (CASE
        WHEN {e} >= 1000000000000000000 THEN 1000000000.0
        WHEN {e} >= 1000000000000000 THEN 1000000.0
        WHEN {e} >= 1000000000000 THEN 1000.0
        ELSE 1.0 END))) * 1000000.0, 0) AS BIGINT)
"""


def _sql_epoch_to_iso(e: str, as_of: str = AS_OF) -> str:
    us = _SQL_EPOCH_TO_US.format(e=e)
    return f"""
      CASE WHEN {e} IS NULL OR {e} < 0 THEN NULL
           WHEN make_timestamp({us}) > TIMESTAMP '{as_of}' THEN NULL
           WHEN ({us}) % 1000000 = 0
             THEN strftime(make_timestamp({us}), '%Y-%m-%dT%H:%M:%SZ')
           ELSE strftime(make_timestamp({us}), '%Y-%m-%dT%H:%M:%S.%fZ')
      END
    """


# Timestamp rendering at compared edges.  Raw TimestampType at a graded
# edge is only UTC-safe because collect() converts via the driver's
# system timezone — format to a string instead (engine convention).
TS_FMT = "yyyy-MM-dd HH:mm:ss"
SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"
TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
SQL_TS_FMT_US = "%Y-%m-%d %H:%M:%S.%f"


def _fmt_ts(col, fmt: str = TS_FMT):
    from pyspark.sql import functions as F

    return F.date_format(col, fmt)


# DuckDB spelling of the repo's index-ordered cosine fold.
SQL_COS = """
  list_reduce(list_transform(range(1, len({a})+1), k -> {a}[k] * {b}[k]), (s,v) -> s+v)
  / sqrt( list_reduce(list_transform({a}, x -> x*x), (s,v) -> s+v)
        * list_reduce(list_transform({b}, x -> x*x), (s,v) -> s+v) )
"""


# DuckDB twin of functions.shingles.shingles(): distinct word 3-grams.
SQL_SHINGLES = """
      SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+2], ' ')
                            for i in range(1, len(ws) - 1)]) AS sgl
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
"""

# Per-doc df-capped (rare) shingle lists; assumes a prior CTE named
# ``sh(doc_id, sgl)``; yields ``rare(doc_id, rsgl)``.  K is interpolated
# from functions.shingles.MAX_SHINGLE_DF so the Spark cap and every
# oracle literal can never drift (ADVICE r4).
from project_fauna_spark.functions.shingles import MAX_SHINGLE_DF  # noqa: E402

SQL_RARE_SHINGLES = f"""
    hdf AS (
      SELECT h, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(sgl) AS h FROM sh) GROUP BY h
    ),
    rare AS (
      SELECT s.doc_id,
             COALESCE(list(e.h) FILTER (WHERE e.h IS NOT NULL), []) AS rsgl
      FROM sh s
      LEFT JOIN (
        SELECT doc_id, h FROM (SELECT doc_id, unnest(sgl) AS h FROM sh) x
        JOIN hdf USING (h) WHERE hdf.c <= {MAX_SHINGLE_DF}
      ) e ON e.doc_id = s.doc_id
      GROUP BY s.doc_id
    )
"""


# Full connected-components-of-the-near-dup-graph oracle (the
# dedup_connected_components output), shared so downstream operators
# (cluster canonicalization) can grade against the exact same component
# structure without importing the dedup module at registration time.
SQL_CC_COMPONENTS = f"""
    WITH RECURSIVE sh AS MATERIALIZED ({SQL_SHINGLES}),
    {SQL_RARE_SHINGLES},
    pairs AS MATERIALIZED (
      -- df-capped inverted-index candidates + exact full-set verify —
      -- the SAME rule dedup_ngram_jaccard applies (edges here ARE its
      -- output); MATERIALIZED so the recursion below doesn't re-inline
      -- the pair computation every step
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN rare ar ON ar.doc_id = a.doc_id
      JOIN rare br ON br.doc_id = b.doc_id
      WHERE len(list_intersect(ar.rsgl, br.rsgl)) > 0
        AND CAST(len(list_intersect(ar.rsgl, br.rsgl)) AS DOUBLE)
            / (len(a.sgl) + len(b.sgl) - len(list_intersect(ar.rsgl, br.rsgl))) >= 0.5
        AND CAST(len(list_intersect(a.sgl, b.sgl)) AS DOUBLE)
            / (len(a.sgl) + len(b.sgl) - len(list_intersect(a.sgl, b.sgl))) >= 0.5
    ),
    edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT doc_id, doc_id AS r FROM documents
      UNION
      SELECT w.doc_id, e.dst AS r FROM reach w JOIN edges e ON e.src = w.r
    ),
    comp AS (SELECT doc_id, MIN(r) AS component_id FROM reach GROUP BY doc_id)
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS n_members
    FROM comp
"""


def sql_token_grams_cte(k: int) -> str:
    """The ``g(doc_id, gram)`` CTE body: all consecutive k-token
    windows of the space-split documents — the DuckDB twin of
    ``curation._token_grams`` (both the exact-substring cleaner and
    the boilerplate miner interpolate THIS fragment, so they can
    never disagree about what a window is)."""
    return f"""
      SELECT doc_id,
             unnest([array_to_string(ws[i:i+{k - 1}], ' ')
                     for i in range(1, len(ws) - {k - 2})]) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    """


# ---------------------------------------------------------------------------
# Deterministic IVF codebook (shared by llm_extras / clustering /
# curation / similarity).
# ---------------------------------------------------------------------------

_IVF_K = 8  # codebook size; real systems use sqrt(N) cells
_IVF_D = 64  # embedding dimensionality of the testdata
_IVF_NPROBE = 2


def _ivf_centroid(k: int) -> list:
    """Deterministic codebook vector: exact small rationals, so both
    engines materialize bit-identical doubles from the same literals.
    (Real IVF trains centroids with k-means; the codebook being fixed
    changes recall, not the plan shape under test.)"""
    return [((7 * k + 3 * d) % 13 - 6) / 6.0 for d in range(_IVF_D)]


def _ivf_sql_values() -> str:
    rows = []
    for k in range(_IVF_K):
        lits = ", ".join(repr(x) for x in _ivf_centroid(k))
        rows.append(f"({k}, [{lits}])")
    return ", ".join(rows)


def sql_h32(expr: str, salt: str) -> str:
    """DuckDB twin of ``functions.wordhash.h32`` (md5 hex-digit fold).
    The hex alphabet is imported from the Spark twin so the two spellings
    can never drift apart."""
    from project_fauna_spark.functions.wordhash import _HEX

    h = f"md5('{salt}' || {expr})"
    terms = [
        f"(strpos('{_HEX}', substring({h}, {p + 1}, 1)) - 1) * {16 ** (7 - p)}"
        for p in range(8)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# Timestamp render formats shared by the streaming-analog queries
# (Spark date_format pattern + its DuckDB strftime twin).
TS_OUT = "yyyy-MM-dd HH:mm:ss"
SQL_TS_OUT = "%Y-%m-%d %H:%M:%S"


# The Wilson score interval (shared by ts_conversion_wilson_ci and
# q_brand_return_rate), spelled ONCE and fed verbatim to both
# engines (Spark F.expr and the DuckDB oracle parse the identical
# expression tree over the same integer k/n, so every double op matches
# 1:1 — multiplication/division/sqrt are each correctly rounded IEEE).
# CRITICAL: every literal is written in scientific notation (1.96e0) —
# a bare `1.96` types as DECIMAL in Spark (exact decimal division,
# decimal(18,15) intermediates) but flips to DOUBLE at the first `/` in
# DuckDB, which diverges bitwise on ~0.3-5% of (k, n) inputs (measured:
# k=3, n=7 lands 2 ulp apart).  Scientific notation is DOUBLE in both
# parsers, restoring the identical-AST premise.
_WILSON_P = "(CAST(k AS DOUBLE) / n)"
_Z2 = "(1.96e0 * 1.96e0)"
_WILSON_LO = (
    f"(({_WILSON_P} + {_Z2}/(2*n) - 1.96e0*sqrt(({_WILSON_P}*(1.0e0 - {_WILSON_P})"
    f" + {_Z2}/(4*n))/n)) / (1.0e0 + {_Z2}/n))"
)
_WILSON_HI = (
    f"(({_WILSON_P} + {_Z2}/(2*n) + 1.96e0*sqrt(({_WILSON_P}*(1.0e0 - {_WILSON_P})"
    f" + {_Z2}/(4*n))/n)) / (1.0e0 + {_Z2}/n))"
)
