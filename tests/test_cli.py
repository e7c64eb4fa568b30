"""CLI entry-point tests (reference parity: cli.py:46-53, __main__.py).

The happy path drives ``python -m project_fauna_spark`` as a real
subprocess against the file-backed transport; the error-contract paths
(exit 2 on validation error, "Aborted." on interrupt) are exercised
in-process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from project_fauna_spark import cli
from project_fauna_spark.sources.http import ValidationHttpError
from tests.conftest import SF_SMOKE

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def api_dir(tmp_path):
    root = str(tmp_path / "api")
    os.makedirs(root)
    records = [
        {"id": i, "name": f"Animal{i}", "friends": f"A{i}, B{i}", "born_at": 1_500_000_000 + i}
        for i in range(1, 101)
    ]
    pages = [records[:50], records[50:]]
    for n, items in enumerate(pages, start=1):
        with open(os.path.join(root, f"listing_page_{n}.json"), "w") as f:
            json.dump(
                {
                    "page": n,
                    "total_pages": len(pages),
                    "items": [{"id": r["id"], "name": r["name"]} for r in items],
                },
                f,
            )
    for r in records:
        with open(os.path.join(root, f"detail_{r['id']}.json"), "w") as f:
            json.dump(r, f)
    return root


def test_python_m_end_to_end(api_dir):
    """``python -m project_fauna_spark`` runs the whole ETL offline."""
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "project_fauna_spark",
            "--fixture-dir",
            api_dir,
            "--batch-size",
            "30",
            "--master",
            "local[4]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Posted 100 records in 4 batches." in proc.stdout
    assert "====== Animals ETL (Spark) ======" in proc.stdout
    posts = os.listdir(os.path.join(api_dir, "posts"))
    assert len(posts) == 4


def test_python_m_formats_born_at_in_utc_under_any_host_timezone(api_dir):
    """``born_at`` ends in ``Z``, so it must be UTC even when the host
    timezone is not: the CLI configures its session like the library
    does."""
    env = dict(os.environ, PYTHONPATH=REPO_ROOT, TZ="America/New_York")
    proc = subprocess.run(
        [sys.executable, "-m", "project_fauna_spark", "--fixture-dir", api_dir,
         "--master", "local[2]"],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    born = {}
    for name in os.listdir(os.path.join(api_dir, "posts")):
        with open(os.path.join(api_dir, "posts", name)) as f:
            born.update((r["id"], r["born_at"]) for r in json.load(f))
    assert born[1] == "2017-07-14T02:40:01Z"


@pytest.fixture()
def cli_spark(spark):
    """The test session, with the shuffle partition count that an
    in-process CLI call resets through ``get_spark`` put back after."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", partitions)


def test_cli_builds_its_session_with_get_spark(cli_spark, monkeypatch, api_dir):
    """Both CLI modes take their session from ``session.get_spark``, so
    they get its static confs (the generated-class cache) as well as
    the runtime ones."""
    from project_fauna_spark import session
    from project_fauna_spark.cache import release_cached
    from project_fauna_spark.config import parse_args

    calls, real_get_spark = [], session.get_spark

    def recording_get_spark(*args, **kwargs):
        calls.append(kwargs.get("app_name"))
        return real_get_spark(*args, **kwargs)

    monkeypatch.setattr(session, "get_spark", recording_get_spark)
    try:
        query = ["--query", "agg_count_distinct", "--sf-dir", SF_SMOKE, "--explain"]
        assert cli.run_query(parse_args(query)) == 0
        assert cli.run(parse_args(["--fixture-dir", api_dir])) == 0
    finally:
        release_cached()
    assert calls == ["fauna-spark-query", "fauna-spark-etl"]


def test_concurrency_sets_fetch_fan_out(cli_spark, monkeypatch, api_dir):
    """``--concurrency N`` is the partition count of the exchange that
    feeds the detail fetch."""
    from project_fauna_spark import pipeline
    from project_fauna_spark.cache import release_cached
    from project_fauna_spark.config import parse_args
    from project_fauna_spark.plans.lint import kind, nodes, plan_of, seq

    fan_outs, real_run_pipeline = set(), pipeline.run_pipeline

    def recording_run_pipeline(*args, **kwargs):
        receipts = real_run_pipeline(*args, **kwargs)
        # The plan as built, before the CLI runs it.  The pinned records
        # are read twice, so the fetch shows up once per read of the pin.
        fan_outs.update(
            n.child().outputPartitioning().numPartitions()
            for n in nodes(plan_of(receipts))
            if kind(n) == "MapInArrowExec"
            and kind(n.child()) == "ShuffleExchangeExec"
            and [a.name() for a in seq(n.output())] == ["id", "name", "friends", "born_at"]
        )
        return receipts

    monkeypatch.setattr(pipeline, "run_pipeline", recording_run_pipeline)
    try:
        assert cli.run(parse_args(["--fixture-dir", api_dir, "--concurrency", "3"])) == 0
    finally:
        release_cached()
    assert fan_outs == {3}


def test_validation_error_exits_2(monkeypatch, api_dir):
    def boom(args):
        raise ValidationHttpError([{"msg": "bad payload"}])

    monkeypatch.setattr(cli, "run", boom)
    with pytest.raises(SystemExit) as ei:
        cli.main(["--fixture-dir", api_dir])
    assert ei.value.code == 2


@pytest.mark.parametrize("argv, env", [(["--concurrency", "0"], "8"), ([], "0")])
def test_concurrency_below_1_is_a_usage_error(monkeypatch, capsys, api_dir, argv, env):
    """A fetch fan-out below 1 is refused while parsing, before any
    session starts or the API is probed."""
    monkeypatch.setenv("CONCURRENCY", env)
    monkeypatch.setattr(cli, "run", lambda args: pytest.fail("run() was reached"))
    with pytest.raises(SystemExit) as ei:
        cli.main(["--fixture-dir", api_dir, *argv])
    assert ei.value.code == 2
    assert "--concurrency: must be at least 1, got 0" in capsys.readouterr().err


def test_interrupt_prints_aborted(monkeypatch, capsys, api_dir):
    def interrupted(args):
        raise KeyboardInterrupt

    monkeypatch.setattr(cli, "run", interrupted)
    cli.main(["--fixture-dir", api_dir])  # must not raise
    assert "Aborted." in capsys.readouterr().err


def test_env_var_defaults(monkeypatch):
    from project_fauna_spark.config import parse_args

    monkeypatch.setenv("API_BASE_URL", "http://example:999")
    monkeypatch.setenv("BATCH_SIZE", "17")
    monkeypatch.setenv("MAX_RETRIES", "3")
    args = parse_args([])
    assert args.batch_size == 17 and args.retries == 3
    assert args.base_url.startswith("http://example:9")
    # flag beats env
    args = parse_args(["--batch-size", "5"])
    assert args.batch_size == 5


def test_cli_list_queries_is_instant_and_complete():
    """--list-queries never builds a SparkSession and covers the whole
    registry."""
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, "-m", "project_fauna_spark", "--list-queries"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
    )
    assert proc.returncode == 0
    names = proc.stdout.split()
    from project_fauna_spark.plans import QUERIES

    assert set(names) == set(QUERIES)


def test_cli_query_mode_prints_json_rows():
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "project_fauna_spark",
            "--query",
            "join_broadcast_chain",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--limit",
            "5",
            "--master",
            "local[4]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    assert 0 < len(rows) <= 5
    assert all("revenue" in r or len(r) > 0 for r in rows)


def test_cli_unknown_query_exits_2():
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, "-m", "project_fauna_spark", "--query", "no_such_query"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
    )
    assert proc.returncode == 2
    assert "Unknown query" in proc.stderr


def test_cli_query_explain(tmp_path):
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "project_fauna_spark",
            "--query",
            "agg_count_distinct",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--explain",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0
    assert "== Physical Plan ==" in out.stdout
