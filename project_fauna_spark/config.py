"""CLI / env configuration (reference parity: src/animals_etl/config.py:7-16).

Same flags, same env-var defaults, same precedence (flag > env >
default).  Spark-specific additions: ``--master`` (where to run) and
``--fixture-dir`` (offline file-backed transport instead of HTTP —
the mode tests and air-gapped runs use).
"""

from __future__ import annotations

import argparse
import os


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fauna-spark-etl", description="Spark Animals ETL (distributed)"
    )
    p.add_argument("--base-url", default=os.getenv("API_BASE_URL", "http://localhost:3123"))
    # A string default goes through ``type`` too, so CONCURRENCY is checked.
    p.add_argument("--concurrency", type=_positive_int, default=os.getenv("CONCURRENCY", "8"))
    p.add_argument("--batch-size", type=int, default=int(os.getenv("BATCH_SIZE", "100")))
    p.add_argument("--retries", type=int, default=int(os.getenv("MAX_RETRIES", "6")))
    p.add_argument(
        "--connect-timeout", type=float, default=float(os.getenv("CONNECT_TIMEOUT", "5"))
    )
    p.add_argument("--read-timeout", type=float, default=float(os.getenv("READ_TIMEOUT", "30")))
    p.add_argument("--master", default=os.getenv("SPARK_MASTER", "local[*]"))
    p.add_argument(
        "--fixture-dir",
        default=os.getenv("FAUNA_FIXTURE_DIR"),
        help="serve the API shape from this directory (offline mode)",
    )
    # analyst surface (additive; default behavior stays the reference ETL)
    p.add_argument(
        "--query",
        default=None,
        metavar="NAME",
        help="run a named registry query instead of the ETL and print JSON rows",
    )
    p.add_argument(
        "--sf-dir",
        default=os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="table directory for --query / --list-queries",
    )
    p.add_argument(
        "--limit", type=int, default=20, help="max rows to print for --query"
    )
    p.add_argument(
        "--list-queries",
        action="store_true",
        help="print every registered query name and exit",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="with --query: print the formatted physical plan instead of rows",
    )
    return p


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    return build_parser().parse_args(argv)
