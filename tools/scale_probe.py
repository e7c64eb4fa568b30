"""Measured scaling probe: replicate testdata N× into /tmp, time queries.

Usage (run from OUTSIDE the repo, like parity_sweep.py)::

    python3 tools/scale_probe.py <mode> <N> <query> [query...]

Modes (each preserves per-copy structure so output claims are EXACT,
recorded per family in SCALING.md round-7/8 probes):

- ``tagged``   — documents only, each copy's words prefixed with a copy
  tag: DISJOINT vocab/shingle spaces per copy.  For cross-doc text ops
  (dedup, tf-idf, inverted index): pair/df structure is per-shard
  identical, so pair counts / output rows must scale exactly N×.
- ``docid``    — documents only, doc_id offset, text UNCHANGED.  For
  per-row ops with no cross-doc interaction (mm mapInPandas family):
  per-doc outputs identical by construction; N identical copies of a
  text collapse into the same digest bucket for hash-dedup ops (group
  count invariant, groups N× deeper).
- ``relational`` — lineitem/orders/events with per-copy key offsets
  (l_orderkey/o_orderkey +k·10⁹, event_id +k·10⁹, user_id +k·10⁸),
  dimension tables copied 1×: the fact:dim fan grows exactly like SF.
  Decimal-sum aggregates must scale exactly N× (1-ulp double cast);
  per-user window stacks emit exactly N× rows.
- ``vectors`` — embeddings only, vec_id offset (+k·10⁷), vector values
  and labels UNCHANGED.  For ANN/centroid ops whose query or group set
  is SF-invariant (sim_knn_brute_cosine's ``vec_id < 20`` probe set
  lives in copy 0; label sets repeat): output rows invariant, corpus
  scan N×.  NOT for ivf/dedup variants whose query set or pair output
  scales with the corpus (``vec_id % 100`` queries multiply, and
  identical cross-copy vectors make near-dup pair counts quadratic in
  N — a different experiment, not corpus scaling).
- ``vectors_repl`` — the query-set-invariant replication the plain
  ``vectors`` mode scoped out (VERDICT r9 item 5).  Copy 0 is verbatim;
  copy k>0 gets vec_id → k·10⁷ + 2·vec_id + 1 (odd, so never ≡ 0 mod
  the even IVF query moduli 50/100 — the ``vec_id % m = 0`` probe sets
  stay PINNED to copy 0) and label → label + k·1000 (disjoint label
  spaces per copy, so label-blocked near-dup pairs can never cross
  copies — identical cross-copy vectors would otherwise go quadratic).
  Vector VALUES are unchanged everywhere.  Structure: IVF search
  (sim_ann_ivf, sim_ivf_pq_search) emits top-k per pinned query →
  ``=invariant`` while candidates-per-query grow N×; label-blocked
  dedup (dedup_embedding_cosine) has per-copy-identical pair structure
  → ``=exactN``.

Timings are best-of-3 warm on local[32] with the library's 24g heap
(the 10M-row window stack GC-thrashes a default 1g JVM — sizing, not
plan shape).  Output: one line per query with 1× and N× wall + row
counts + the exact-N× row check.  Structural claims beyond row counts
(sum scaling, group invariance) stay in the per-family SCALING.md
records where their caveats can be stated honestly.
"""
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

MODE = sys.argv[1]
N = int(sys.argv[2])
NAMES = sys.argv[3:]
S1 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Key the replica dir on the SOURCE corpus fingerprint: the driver
# regenerates /root/testdata between (and within) rounds, and a
# .complete replica built from the previous generation would silently
# serve N× numbers incomparable with the fresh 1× run (the same stale-
# path-keyed-cache class the session checklist purges — found live at
# r11 start: relational/vectors_repl replicas predating the
# regeneration).  size+mtime is enough — regeneration rewrites files.
import hashlib

_fp = hashlib.md5()
for _t in sorted(os.listdir(S1)):
    _st = os.stat(os.path.join(S1, _t))
    _fp.update(f"{_t}:{_st.st_size}:{_st.st_mtime_ns};".encode())
OUT = f"/tmp/scale_probe_{MODE}_{N}x_{_fp.hexdigest()[:8]}"

import duckdb

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# DuckDB materializes an un-ORDERed COPY of a range-cross-join largely
# in memory (observed ~100 GB RSS at N=1000 on lineitem) — so scaled
# tables are written as a DIRECTORY of per-chunk parquet files, ≤50
# copies per chunk.  Spark reads `dir.parquet/` transparently; the
# probe never runs a DuckDB oracle over the scaled corpus.
CHUNK = 50


def _chunked_copy(con, select_tmpl: str, out_table: str) -> None:
    d = f"{OUT}/{out_table}.parquet"
    os.makedirs(d, exist_ok=True)
    for lo in range(0, N, CHUNK):
        hi = min(lo + CHUNK, N)
        copies = f"(SELECT unnest(range({lo},{hi})) AS k) c"
        con.execute(
            f"COPY ({select_tmpl.format(copies=copies)})"
            f" TO '{d}/chunk{lo}.parquet' (FORMAT PARQUET)"
        )


def build() -> None:
    if os.path.isdir(OUT) and os.path.exists(f"{OUT}/.complete"):
        return
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    copies = f"(SELECT unnest(range(0,{N})) AS k) c"
    if MODE == "tagged":
        con.execute(f"""
        COPY (SELECT doc_id + c.k*10000000 AS doc_id,
                     list_aggregate(list_transform(string_split(text,' '),
                       w -> 'c' || CAST(c.k AS VARCHAR) || w),'string_agg',' ') AS text,
                     lang, source, n_chars
              FROM '{S1}/documents.parquet', {copies})
        TO '{OUT}/documents.parquet' (FORMAT PARQUET)""")
        scaled = {"documents"}
    elif MODE == "docid":
        con.execute(f"""
        COPY (SELECT doc_id + c.k*10000000 AS doc_id, text, lang, source, n_chars
              FROM '{S1}/documents.parquet', {copies})
        TO '{OUT}/documents.parquet' (FORMAT PARQUET)""")
        scaled = {"documents"}
    elif MODE == "relational":
        _chunked_copy(con, f"""
        SELECT l_orderkey + c.k*1000000000 AS l_orderkey, l_partkey, l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM '{S1}/lineitem.parquet', {{copies}}""", "lineitem")
        _chunked_copy(con, f"""
        SELECT o_orderkey + c.k*1000000000 AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{S1}/orders.parquet', {{copies}}""", "orders")
        _chunked_copy(con, f"""
        SELECT event_id + c.k*1000000000 AS event_id, ts,
               user_id + c.k*100000000 AS user_id, event_type, value, props
        FROM '{S1}/events.parquet', {{copies}}""", "events")
        scaled = {"lineitem", "orders", "events"}
    elif MODE == "vectors":
        con.execute(f"""
        COPY (SELECT vec_id + c.k*10000000 AS vec_id, embedding, label
              FROM '{S1}/embeddings.parquet', {copies})
        TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)""")
        scaled = {"embeddings"}
    elif MODE == "vectors_repl":
        # The id/label remapping below is only collision-free when
        # 2*max(vec_id)+1 stays under the per-copy 10^7 id stride and
        # max(label) under the per-copy 1000 label stride; a larger
        # regenerated corpus would silently create cross-copy vec_id
        # collisions / overlapping label spaces and invalidate every
        # =invariant/=exactN structure claim (ADVICE r10).
        max_vid, max_lbl = con.execute(
            f"SELECT max(vec_id), max(label) FROM '{S1}/embeddings.parquet'"
        ).fetchone()
        if 2 * max_vid + 1 >= 10_000_000 or max_lbl >= 1000:
            raise SystemExit(
                f"vectors_repl preconditions violated: max(vec_id)={max_vid} "
                f"(need 2*max+1 < 1e7), max(label)={max_lbl} (need < 1000) — "
                "raise the copy strides before trusting structure checks"
            )
        _chunked_copy(con, f"""
        SELECT CASE WHEN c.k = 0 THEN vec_id
                    ELSE c.k*10000000 + 2*vec_id + 1 END AS vec_id,
               embedding,
               CAST(label + c.k*1000 AS INTEGER) AS label
        FROM '{S1}/embeddings.parquet', {{copies}}""", "embeddings")
        scaled = {"embeddings"}
    else:
        raise SystemExit(f"unknown mode {MODE!r}")
    for t in ALL_TABLES:
        if t not in scaled:
            shutil.copy(f"{S1}/{t}.parquet", f"{OUT}/{t}.parquet")
    open(f"{OUT}/.complete", "w").close()


build()

from project_fauna_spark.session import get_spark

spark = get_spark(master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")

from project_fauna_spark.plans import QUERIES


def _run_full(df) -> None:
    # Time the FULL plan via the noop sink, NOT .count(): under count()
    # Catalyst prunes every expression the count doesn't need (verified:
    # agg_pricing_summary's counted plan reads only its group keys — no
    # decimal sums), so count() walls time a group-key-only plan.  The
    # noop sink consumes every output column, so nothing is pruned past
    # what the query itself projects.  (ADVICE r8, medium.)
    df.write.format("noop").mode("overwrite").save()


def best_of_3(q, sf):
    rows = q(spark, sf).count()  # structure check only; also warms
    best = None
    for _ in range(3):
        t = time.time()
        _run_full(q(spark, sf))
        w = time.time() - t
        best = w if best is None or w < best else best
    return rows, best


# Per-query expected output structure: "name" or "name=exactN" expects
# rows_Nx == N * rows_1x (disjoint per-copy output, the tagged/relational
# default); "name=invariant" expects rows_Nx == rows_1x (group-invariant
# queries — docid-mode hash-dedup, fixed group sets — where N× input
# collapses into the same output groups).  Printing the one matching
# check avoids the misread where a correct invariant run shows
# rows_exact_Nx=False.  (ADVICE r8, low.)
for spec in NAMES:
    name, _, expect = spec.partition("=")
    expect = expect or "exactN"
    q = QUERIES[name]
    r1, w1 = best_of_3(q, S1)
    rN, wN = best_of_3(q, OUT)
    ok = rN == (N * r1 if expect == "exactN" else r1)
    print(
        f"{name}: 1x rows={r1} best={w1:.2f}s | {N}x rows={rN} best={wN:.2f}s"
        f" | ratio={wN / w1:.1f}x | rows_{expect}={ok}"
    )
