"""Command-line entry point (reference parity: src/animals_etl/cli.py).

Same orchestration — ids → details → transform → batch-post — and the
same user-experience contract (cli.py:46-53): a config banner before
work starts, ``Validation error: <detail>`` + exit code 2 on a 422,
``Aborted.`` on Ctrl-C.  The execution substrate is a SparkSession
instead of an asyncio loop; concurrency maps to partition fan-out.
Both modes build their session with
:func:`~project_fauna_spark.session.get_spark`, so timestamps format in
UTC whatever the host timezone, and a session that runs the same code
again reuses its generated classes.
"""

from __future__ import annotations

import sys

from project_fauna_spark.sources.http import (
    FileBackedTransport,
    RetryPolicy,
    TransportFactory,
    UrllibTransport,
    ValidationHttpError,
)


def _transport_factory(args) -> TransportFactory:
    if args.fixture_dir:
        root = args.fixture_dir
        return lambda: FileBackedTransport(root)
    base, ct, rt = args.base_url, args.connect_timeout, args.read_timeout
    return lambda: UrllibTransport(base, connect_timeout=ct, read_timeout=rt)


def run_query(args) -> int:
    """Analyst mode: run one registry query and print rows as JSON
    lines (bounded by --limit; the full result never collects)."""
    import json

    from project_fauna_spark.plans import QUERIES
    from project_fauna_spark.session import get_spark

    if args.list_queries:
        for name in QUERIES:
            print(name)
        return 0
    if args.query not in QUERIES:
        print(f"Unknown query: {args.query}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="fauna-spark-query", master=args.master)
    df = QUERIES[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(f"# {args.query}: showed {len(rows)} row(s) (limit {args.limit})", file=sys.stderr)
    return 0


def run(args) -> int:
    from project_fauna_spark.pipeline import run_pipeline
    from project_fauna_spark.session import get_spark

    print(
        f"""
        ====== Animals ETL (Spark) ======
        Mode           : {'file-backed ' + args.fixture_dir if args.fixture_dir else args.base_url}
        Master         : {args.master}
        Concurrency    : {args.concurrency}
        Batch size     : {args.batch_size}
        Retries        : {args.retries}
        Timeouts (s)   : connect={args.connect_timeout} read={args.read_timeout}
        =================================
        """
    )
    spark = get_spark(app_name="fauna-spark-etl", master=args.master)
    policy = RetryPolicy(retries=args.retries)
    receipts = run_pipeline(
        spark,
        _transport_factory(args),
        batch_size=args.batch_size,
        policy=policy,
        partitions=args.concurrency,
    ).collect()
    n_batches = len(receipts)
    n_records = sum(r["n_records"] for r in receipts)
    print(f"Posted {n_records} records in {n_batches} batches.")
    return 0


def main(argv: list[str] | None = None) -> None:
    from project_fauna_spark.config import parse_args

    args = parse_args(argv)
    try:
        if args.list_queries or args.query:
            sys.exit(run_query(args))
        sys.exit(run(args))
    except ValidationHttpError as e:
        print(f"Validation error: {e.detail}", file=sys.stderr)
        sys.exit(2)
    except KeyboardInterrupt:
        print("Aborted.", file=sys.stderr)
    except Exception as e:  # executor-side 422s surface as wrapped PythonException
        if "ValidationHttpError" in str(e) or "validation error" in str(e):
            print(f"Validation error: {e}", file=sys.stderr)
            sys.exit(2)
        raise


if __name__ == "__main__":
    main()
