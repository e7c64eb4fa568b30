"""Foreign-session typed parity sweep (the builder's early-warning gate).

Usage (run from OUTSIDE the repo so imports resolve the driver's way —
copy to /tmp or invoke with cwd=/tmp)::

    python3 tools/parity_sweep.py <sf_dir> [names...]

Runs each named query (default: all registered, registry order) in a
PLAIN SparkSession against its DuckDB oracle on the same parquet dir;
typed compare (floats via %.9g repr, NaN-safe, NULL-vs-type-stable
sort keys — rollup/cube NULL group keys crash a naive tuple sort).

Truth-pair memoization (VERDICT r7 item 6): seven oracles splice the
exact-Jaccard truth SQL (``ORACLE["dedup_ngram_jaccard"]``) as a CTE.
On the round-7+ hot-vocabulary corpus that CTE costs ~9 minutes PER
ORACLE in DuckDB at sf0.1.  The sweep materializes the truth pairs
ONCE into a temp table and textually rewrites each splice site to read
from it — identical rows, paid once.  This is a sweep-harness-only
rewrite: the registered oracle strings stay self-contained because the
driver runs them in its own DuckDB connection.
"""
import math
import sys
import time

sys.path.insert(0, "/root/repo")
SF = sys.argv[1]
names = sys.argv[2:]

from pyspark.sql import SparkSession

# A bare builder on purpose, not get_spark: it stands in for the grading harness's session.
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import importlib.util

spec = importlib.util.spec_from_file_location(
    "entrymod", "/root/repo/__spark_entry__.py"
)
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
qs, oracles = m.queries(), m.oracle_sql()

import hashlib
import os

import duckdb

# Memo tables persist ACROSS sweep runs in an on-disk DuckDB file keyed
# by the corpus digest (VERDICT r7 item 6): the ~10-minute fragment
# builds are paid once per testdata GENERATION, not once per sweep.  A
# regenerated corpus changes the digest and naturally gets a fresh file.
_digest = hashlib.md5()
with open(f"{SF}/documents.parquet", "rb") as fh:
    _digest.update(fh.read())
_MEMO_DB = os.path.join(
    os.environ.get("TMPDIR", "/tmp"),
    f"fauna_oracle_memo_{os.path.basename(SF.rstrip('/'))}_{_digest.hexdigest()[:12]}.duckdb",
)
con = duckdb.connect(_MEMO_DB)
for t in [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]:
    con.execute(
        f"CREATE VIEW IF NOT EXISTS {t} AS SELECT * FROM '{SF}/{t}.parquet'"
    )

# ---- expensive-fragment memoization ------------------------------------------
# Two registered oracles are verbatim-spliced by other oracles AND cost
# ~9 minutes each in DuckDB at sf0.1: the exact-Jaccard truth pairs and
# the connected-components fixpoint (whose recursive CTE embeds the
# same pair computation).  Each source query is served from its memo
# BUILD: the temp table is ``CREATE TEMP TABLE AS (<verbatim oracle>)``,
# so selecting from it IS the raw oracle's output — one expensive pass
# verifies the source query and seeds every splice site.
from project_fauna_spark.plans import ORACLE as _REG_ORACLE

# Table names carry the fragment's own hash: editing a memoized oracle
# changes the name, so a stale memo from the previous spelling can
# never be reused silently.
def _memo_table(base: str, frag: str) -> str:
    return f"{base}_{hashlib.md5(frag.encode()).hexdigest()[:8]}"


# The first two fragments are SPLICED by other oracles (memo cuts their
# consumers from ~9 min to seconds).  The rest are self-contained but
# individually expensive (>3 min DuckDB at sf0.1, measured in the r8
# full sweep); memoizing them only pays on REPEAT sweeps of the same
# corpus — the first sweep's build IS the verification, and the corpus
# digest + fragment hash in the table name guarantee a stale memo can
# never serve a changed oracle or regenerated data.
_HEAVY = (
    ("dedup_ngram_jaccard", "ngram_truth_pairs_memo"),
    ("dedup_connected_components", "cc_components_memo"),
    ("dedup_component_size_histogram", "cc_size_hist_memo"),
    ("dedup_containment", "containment_memo"),
    ("dedup_threshold_sweep", "threshold_sweep_memo"),
    ("graph_degree_assortativity", "assortativity_memo"),
    ("graph_reciprocity", "reciprocity_memo"),
    # r8-restart additions: the warm-sweep tail once the dedup memos
    # land — DuckDB-side costs measured on the regenerated sf0.1 corpus
    # (survivorship 112 s, pagerank 109 s, ols 30 s, common-neighbors
    # 28 s, corpus-clean 26 s, degree-distribution 17 s).
    ("llm_dedup_survivorship_report", "survivorship_memo"),
    ("graph_pagerank_trade", "pagerank_memo"),
    ("graph_degree_distribution", "degree_dist_memo"),
    ("graph_common_neighbors", "common_neighbors_memo"),
    ("llm_corpus_clean", "corpus_clean_memo"),
    ("ml_ols_fit", "ols_fit_memo"),
)
_MEMOS = {
    name: (_REG_ORACLE[name], _memo_table(base, _REG_ORACLE[name]), [False])
    for name, base in _HEAVY
}

# The threshold sweep's candidate-pair pass (its ``inter`` CTE) is the
# ~300-second part of its cold build at sf0.1, and it is NOT a
# registered-oracle substring, so the verbatim splice machinery above
# cannot reuse it (VERDICT r10 item 3).  Carve it out TEXTUALLY: the
# aux build is ``<the oracle's own CTE prefix> SELECT * FROM inter`` —
# its rows ARE the oracle's intermediate, no algebraic rewrite — and
# the sweep's memo then builds as the original tail over the aux table.
# Both table names carry the hash of the ORIGINAL oracle text, so
# editing the oracle invalidates both; if the ``verified AS`` cut point
# ever stops matching, we fall back to the verbatim single-pass build.
_TS_NAME = "dedup_threshold_sweep"
_TS_SQL = _REG_ORACLE[_TS_NAME]
_TS_CUT = _TS_SQL.find("verified AS")
_TS_AUX = _memo_table("ts_inter_memo", _TS_SQL)


def _threshold_sweep_build_sql() -> str:
    exists = con.execute(
        "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
        [_TS_AUX],
    ).fetchone()[0]
    if not exists:
        prefix = _TS_SQL[:_TS_CUT].rstrip().rstrip(",")
        t0 = time.time()
        con.execute(f"CREATE TABLE {_TS_AUX} AS ({prefix}\n SELECT * FROM inter)")
        print(f"[{_TS_AUX} built {time.time()-t0:.1f}s]", flush=True)
    else:
        print(f"[{_TS_AUX} reused from memo db]", flush=True)
    return f"WITH inter AS (SELECT * FROM {_TS_AUX}),\n    {_TS_SQL[_TS_CUT:]}"


def _ensure_built(src_name: str) -> str:
    """Build (or reuse) one memo table; a fragment that itself splices
    another memoized fragment builds THROUGH that memo (size_histogram
    embeds the CC fixpoint — its build must not re-pay it)."""
    frag, table, built = _MEMOS[src_name]
    if built[0] is True:
        return table
    if built[0] == "building":  # cycle guard only; never a success marker
        raise RuntimeError(f"memo build cycle through {table}")
    built[0] = "building"
    try:
        exists = con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
            [table],
        ).fetchone()[0]
        if exists:
            print(f"[{table} reused from memo db]", flush=True)
            built[0] = True
            return table
        build_sql = frag
        for other, (ofrag, _, _) in _MEMOS.items():
            if other != src_name and ofrag in build_sql:
                build_sql = build_sql.replace(
                    ofrag, f" SELECT * FROM {_ensure_built(other)} "
                )
        if src_name == _TS_NAME and _TS_CUT != -1:
            build_sql = _threshold_sweep_build_sql()
        t0 = time.time()
        con.execute(f"CREATE TABLE {table} AS ({build_sql})")
        print(f"[{table} built {time.time()-t0:.1f}s]", flush=True)
        built[0] = True  # only after CREATE succeeded: a failed build must
        return table  # surface as ONE clear error, not downstream ERRs
    finally:
        if built[0] != True:  # noqa: E712 — tri-state, not truthiness
            built[0] = False  # build failed: let a retry re-attempt


def _memoize_truth(sql: str, name: str) -> str:
    """Rewrite splices of memoized oracle fragments to read memo tables
    (persistent in the digest-keyed DB — reused by later sweeps on the
    same corpus).  A memoized source query is served from its own memo
    (the build is its verification)."""
    if name in _MEMOS:
        return f"SELECT * FROM {_ensure_built(name)}"
    for src_name, (frag, _, _) in _MEMOS.items():
        if frag in sql:
            sql = sql.replace(frag, f" SELECT * FROM {_ensure_built(src_name)} ")
    return sql


# ---- typed row normalization ------------------------------------------------
def norm(v):
    if v is None:
        return (0, "")  # NULL sorts first, type-stable vs the (1, ...) wrappers
    if isinstance(v, bool):
        return (1, "bool", v)
    if isinstance(v, float):
        return (1, "f", "nan" if math.isnan(v) else f"{v:.9g}")
    if isinstance(v, list):
        return (1, "list", tuple(norm(x) for x in v))
    return (1, type(v).__name__, v)


if not names:
    names = list(qs)
fails = []
def _name_sorted_rows(cols, rows):
    """Reorder every row's values by sorted column name — the driver's
    canonicalization — so a column-ORDER difference between Spark and
    oracle neither produces cross-column false diffs nor silently
    passes on coincidentally equal values."""
    order = [i for i, _ in sorted(enumerate(cols), key=lambda t: t[1])]
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


for name in names:
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF)
        scols = sdf.columns
        srows = _name_sorted_rows(scols, sdf.collect())
        if name not in oracles:
            print(f"{name} rows-only {len(srows)} {time.time()-t0:.1f}s", flush=True)
            continue
        cur = con.execute(_memoize_truth(oracles[name], name))
        ocols = [d[0] for d in cur.description]
        orows = _name_sorted_rows(ocols, cur.fetchall())
        ok = srows == orows and sorted(scols) == sorted(ocols)
        if not ok:
            fails.append(name)
            if sorted(scols) != sorted(ocols):
                print("  cols:", scols, "vs", ocols)
            else:
                print(
                    "  rows:", len(srows), len(orows), "first diffs:",
                    [(a, b) for a, b in zip(srows, orows) if a != b][:2],
                )
        print(f"{name} {'OK' if ok else 'MISMATCH'} {time.time()-t0:.1f}s", flush=True)
    except Exception as e:
        fails.append(name)
        print(f"{name} ERR {str(e)[:200]}", flush=True)
print("SWEEP", SF, "FAILS:", fails)
sys.exit(1 if fails else 0)
