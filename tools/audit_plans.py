#!/usr/bin/env python3
"""Registry-wide plan-shape audit (r12 optimization round).

Usage: python tools/audit_plans.py [sf_dir]

Builds (but does not execute) every registered query's plan and prints
one summary line per query: Exchange / join-strategy / Python-eval /
Window / Sort node counts from ``explain('formatted')`` text.  The
output is a ranking aid for the optimization pass — queries whose
INITIAL plan shows pathological shapes (cartesians, unexpected SMJ,
BatchEvalPython, very high Exchange counts) float to the top for
manual inspection.  Counts are initial-plan counts (AQE reuse and
coalescing land at runtime), so iterative fixpoints legitimately show
large numbers; the point is the diff and the outliers, not the
absolute values.
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
from dump_plans import summarize

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)


def main() -> None:
    spark = get_spark(app_name="fauna-audit-plans")
    for name in QUERIES:
        try:
            df = QUERIES[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            summary = summarize(buf.getvalue())
        except Exception as exc:  # noqa: BLE001
            summary = f"PLAN_FAILED={str(exc)[:120]}"
        finally:
            release_cached()
        print(f"{name}: {summary}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
