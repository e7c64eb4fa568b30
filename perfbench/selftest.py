#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

Runs the query path at sf0.001 on a few names and the ETL at 1k
records, in a separate work directory, and asserts:

* the result record has exactly the contract's keys, with every
  end-to-end metric untraced and every per-layer metric traced;
* clean runs are correct;
* a corrupted query output row, a corrupted POSTed record and a dropped
  POST are each counted in ``failed``.

Usage, from the root of a checkout: ``python3 perfbench/selftest.py``
(about two minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

NAMES = ["agg_rollup", "text_fingerprint", "dedup_paragraph_hash"]


def check_schema(result: dict, metric_names) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    assert set(result["metrics"]) == set(metric_names), set(result["metrics"]) ^ set(metric_names)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
    json.dumps(result)


def queries(trace: bool = False, names=NAMES) -> dict:
    return run.run_workload("grading-sf0.01", 1, 0, trace, names=names, sf=0.001)


def etl(trace: bool = False) -> dict:
    return run.run_workload("etl-offline-100k", 1, 0, trace, n_records=1000)


def with_patched(module, attr, make):
    """Run with ``module.attr`` replaced by ``make(original)``."""
    orig = getattr(module, attr)

    def deco(fn):
        setattr(module, attr, make(orig))
        try:
            return fn()
        finally:
            setattr(module, attr, orig)
    return deco


def main() -> int:
    os.chdir(run.ROOT)
    sys.path.insert(0, run.ROOT)
    run.WORK = os.path.join("perfbench_work", "selftest")
    run.configure_env()
    import fixture
    import oracle

    r = queries()
    check_schema(r, run.E2E)
    assert r["correct"] and r["attempted"] == len(NAMES), r

    r = queries(trace=True)
    check_schema(r, run.PER_LAYER)
    assert r["correct"] and r["metrics"]["io.load_table_calls"]["value"] > 0, r

    # A corrupted output row: the memoized oracle verdict must fail.
    def corrupt_rows(orig):
        def spark_rows(df):
            cols, rows = orig(df)
            return cols, [("corrupted",) + tuple(rows[0][1:])] + rows[1:]
        return spark_rows

    run.WORK = os.path.join("perfbench_work", "selftest", "corrupt")
    r = with_patched(oracle, "spark_rows", corrupt_rows)(lambda: queries(names=NAMES[:1]))
    assert not r["correct"] and r["failed"] == 1, r
    run.WORK = os.path.join("perfbench_work", "selftest")

    r = etl()
    check_schema(r, run.E2E)
    assert r["correct"] and r["attempted"] > 900, r

    r = etl(trace=True)
    check_schema(r, run.PER_LAYER)
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert r["correct"] and m["http.listing_gets"] == 11 and m["sink.posts"] > 0, m

    # A dropped POST and a corrupted POSTed record are both counted.
    def tamper(kind):
        def make(orig):
            def check_posts(fx, posts_dir, receipts, batch_size):
                victim = os.path.join(posts_dir, sorted(os.listdir(posts_dir))[0])
                if kind == "drop":
                    os.remove(victim)
                else:
                    with open(victim) as f:
                        body = json.load(f)
                    body[0]["name"] = "corrupted"
                    with open(victim, "w") as f:
                        json.dump(body, f)
                return orig(fx, posts_dir, receipts, batch_size)
            return check_posts
        return make

    r = with_patched(fixture, "check_posts", tamper("drop"))(etl)
    assert not r["correct"] and r["failed"] >= 2, r  # its records and its receipt
    r = with_patched(fixture, "check_posts", tamper("corrupt"))(etl)
    assert not r["correct"] and r["failed"] == 1, r
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
