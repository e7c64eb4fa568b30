#!/usr/bin/env python3
"""Dump .explain('formatted') for every headline query.

Usage: python tools/dump_plans.py OUT_DIR [suffix] [name ...]

Writes OUT_DIR/<query>_<suffix>.txt (suffix defaults to ``before``)
for each headline query (or the subset given).  The explain output is the INITIAL plan (AQE shows
``isFinalPlan=false``) — what the optimizer chose before runtime
re-planning; Exchange counts, join strategies, PushedFilters and
Python-eval nodes are all visible at this stage.

Also prints a one-line plan summary per query — how many nodes of
each physical class ``plans.lint.nodes`` walks, subqueries and cached
plans included — so before/after diffs are quick to read.  The
registry-wide audit is the same run over every name:

    python tools/dump_plans.py OUT_DIR audit $(python -m project_fauna_spark --list-queries)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_fauna_spark.session import get_spark
from project_fauna_spark.cache import release_cached
from project_fauna_spark.plans import QUERIES
from project_fauna_spark.plans.lint import kinds, plan_of
from bench import HEADLINE

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def summarize(plan) -> str:
    """``Class=count`` for every physical node class in ``plan``, most
    frequent first."""
    return ", ".join(f"{k}={v}" for k, v in kinds(plan).most_common())


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="fauna-dump-plans")
    for name in names:
        if name not in QUERIES:
            continue
        try:
            df = QUERIES[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text, summary = buf.getvalue(), summarize(plan_of(df))
        except Exception as exc:  # noqa: BLE001
            text, summary = f"PLAN FAILED: {exc}\n", "PLAN FAILED"
        finally:
            release_cached()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"{name}: {summary}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
