"""Output check for the query workloads against the registry's DuckDB
oracle (``plans.ORACLE``), normalized the way the oracle-parity tests
normalize: row count, sorted column names and the order-insensitive
multiset of row values, exact.

The full comparison runs once per corpus and engine version, after the
timed passes, and its verdicts are memoized under the work directory.
Every run still checks the row count of every timed call against the
memoized count.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, sorted((tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=repr)


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted((tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()), key=repr)


def compare(spark_out, duck_out) -> tuple[bool, str]:
    (s_cols, s_rows), (d_cols, d_rows) = spark_out, duck_out
    if s_cols != d_cols:
        return False, f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return False, f"row counts {len(s_rows)} vs {len(d_rows)}"
    bad = sum(a != b for a, b in zip(s_rows, d_rows))
    return (bad == 0), f"{bad} mismatched rows"


def corpus_digest(sf_dir: str) -> str:
    """Content digest of a corpus directory (its parquet bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def code_digest(root: str = ".") -> str:
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "project_fauna_spark")):
        dirnames.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def verdicts(spark, sf_dir: str, names: list[str], work: str) -> dict[str, dict]:
    """``{name: {"ok", "rows", "detail"}}``, computing missing ones."""
    from project_fauna_spark.cache import release_cached
    from project_fauna_spark.io import TABLES, table_path
    from project_fauna_spark.plans import ORACLE, QUERIES

    memo_dir = os.path.join(work, "oracle")
    os.makedirs(memo_dir, exist_ok=True)
    path = os.path.join(memo_dir, f"{corpus_digest(sf_dir)}-{code_digest()}.json")
    memo = {}
    if os.path.exists(path):
        with open(path) as f:
            memo = json.load(f)
    missing = [n for n in names if n not in memo]
    if not missing:
        return memo
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    con.execute(f"SET temp_directory='{os.path.join(work, 'tmp', 'duckdb')}'")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name in missing:
            spark.sparkContext.setJobGroup(f"oracle/{name}", f"oracle/{name}", False)
            release_cached()
            try:
                s_out = spark_rows(QUERIES[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — a crash is a wrong output
                memo[name] = {"ok": False, "rows": -1, "detail": repr(exc)[:300]}
                continue
            finally:
                release_cached()
            if name in ORACLE:
                d_out = duck_rows(con, ORACLE[name])
                ok, detail = compare(s_out, d_out)
                memo[name] = {"ok": ok, "rows": len(d_out[1]), "detail": detail}
            else:
                n = len(s_out[1])
                memo[name] = {"ok": n > 0, "rows": n, "detail": "rows-only (no oracle)"}
    finally:
        con.close()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(memo, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return memo
