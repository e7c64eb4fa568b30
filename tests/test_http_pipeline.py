"""End-to-end ETL tests against a file-backed fake API, mirroring the
reference test strategy (SURVEY.md §5: fakes + golden rows + retry
fault injection)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from project_fauna_spark.pipeline import (
    assert_output_contract,
    run_pipeline,
    transform_details,
)
from project_fauna_spark.sources.http import (
    FileBackedTransport,
    FlakyTransport,
    HttpError,
    RetryPolicy,
    ValidationHttpError,
    fetch_details_df,
    paginated_ids_df,
    request_with_retry,
)

AS_OF = "2030-01-01 00:00:00"
FAST = RetryPolicy(retries=6, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)


@pytest.fixture()
def api_dir(tmp_path):
    """Fixture API: 2 listing pages, 3 details (reference golden rows,
    tests/test_pipeline.py:24-32) + 97 generated records."""
    root = str(tmp_path / "api")
    os.makedirs(root)
    golden = [
        {"id": 1, "name": "Dog", "friends": "Kangaroo, Sea Lions", "born_at": None},
        {"id": 2, "name": "Cat", "friends": "", "born_at": 1348692957651},
        {"id": 3, "name": "Mouse", "friends": "Dog", "born_at": None},
    ]
    gen = [
        {"id": i, "name": f"Animal{i}", "friends": f"A{i}, B{i},", "born_at": 1_500_000_000 + i}
        for i in range(4, 101)
    ]
    records = golden + gen
    pages = [records[:50], records[50:]]
    for n, items in enumerate(pages, start=1):
        listing = {
            "page": n,
            "total_pages": len(pages),
            "items": [{"id": r["id"], "name": r["name"]} for r in items],
        }
        with open(os.path.join(root, f"listing_page_{n}.json"), "w") as f:
            json.dump(listing, f)
    for r in records:
        with open(os.path.join(root, f"detail_{r['id']}.json"), "w") as f:
            json.dump(r, f)
    return root


def test_retry_then_success():
    """X1: a 500 then a 200 succeeds without surfacing an error."""
    base = lambda method, path: (200, '{"ok": true}')
    flaky = FlakyTransport(base, n_failures=1)
    status, body = request_with_retry(flaky, "GET", "/x", FAST, sleep=lambda s: None)
    assert status == 200


def test_retry_budget_exhausted():
    always_500 = lambda method, path: (500, "boom")
    with pytest.raises(HttpError):
        request_with_retry(always_500, "GET", "/x", FAST, sleep=lambda s: None)


def test_422_raises_validation_error():
    t = lambda method, path: (422, json.dumps({"detail": [{"msg": "bad"}]}))
    with pytest.raises(ValidationHttpError) as ei:
        request_with_retry(t, "GET", "/x", FAST)
    assert ei.value.detail == [{"msg": "bad"}]


def test_4xx_fails_fast():
    calls = []

    def t(method, path):
        calls.append(path)
        return 404, "nope"

    with pytest.raises(HttpError):
        request_with_retry(t, "GET", "/x", FAST)
    assert len(calls) == 1  # X2: no retry on 4xx


def test_request_id_header_reaches_transport():
    """X3: a 3-arg transport receives the X-Request-Id header; an
    explicit req_id is propagated verbatim."""
    seen = []

    def t(method, path, headers):
        seen.append(headers)
        return 200, "{}"

    request_with_retry(t, "GET", "/x", FAST)
    assert "X-Request-Id" in seen[0] and len(seen[0]["X-Request-Id"]) == 36

    request_with_retry(t, "GET", "/x", FAST, req_id="fixed-id-123")
    assert seen[1]["X-Request-Id"] == "fixed-id-123"


def test_retries_log_request_id():
    """X3: retry and give-up transitions log structured [req#id] lines
    (reference http_client.py:149-155)."""
    lines = []
    flaky = FlakyTransport(lambda m, p: (200, "{}"), n_failures=2)
    request_with_retry(
        flaky, "GET", "/x", FAST, sleep=lambda s: None, req_id="rid-1", log=lines.append
    )
    retry_lines = [l for l in lines if "[retry" in l]
    assert len(retry_lines) == 2
    assert all(l.startswith("[req#rid-1]") for l in retry_lines)
    assert any("succeeded after 3 attempt(s)" in l for l in lines)

    lines.clear()
    always_500 = lambda method, path: (500, "boom")
    with pytest.raises(HttpError):
        request_with_retry(
            always_500, "GET", "/x", FAST, sleep=lambda s: None, req_id="rid-2", log=lines.append
        )
    assert any(l.startswith("[req#rid-2] [giving up]") for l in lines)

    lines.clear()
    with pytest.raises(HttpError):
        request_with_retry(
            lambda m, p: (404, "nope"), "GET", "/x", FAST, req_id="rid-3", log=lines.append
        )
    assert any("[fatal]" in l and "not retrying" in l for l in lines)


def test_backoff_schedule():
    p = RetryPolicy()
    import random

    rng = random.Random(0)
    delays = [p.sleep_seconds(a, rng) for a in range(1, 7)]
    bases = [min(4.0, 0.25 * 2 ** (a - 1)) for a in range(1, 7)]
    for d, b in zip(delays, bases):
        assert b <= d <= b + 0.5


def test_script_variant_backoff_profile():
    """The standalone-script profile (reference scripts/animals_etl.py:209):
    base 0.5, cap 8.0, same jitter — one constructor call away."""
    from project_fauna_spark.sources.http import SCRIPT_RETRY_PROFILE as p

    import random

    rng = random.Random(0)
    delays = [p.sleep_seconds(a, rng) for a in range(1, 7)]
    bases = [min(8.0, 0.5 * 2 ** (a - 1)) for a in range(1, 7)]
    for d, b in zip(delays, bases):
        assert b <= d <= b + 0.5


def test_paginated_ids(spark, api_dir):
    ids_df = paginated_ids_df(spark, lambda: FileBackedTransport(api_dir), policy=FAST)
    ids = sorted(r["id"] for r in ids_df.collect())
    assert ids == list(range(1, 101))


def test_fetch_details_drops_missing(spark, api_dir):
    ids = spark.range(1, 106).selectExpr("id")  # 101..105 don't exist
    details = fetch_details_df(ids, lambda: FileBackedTransport(api_dir), policy=FAST)
    rows = details.collect()
    assert len(rows) == 100  # five failures dropped, P3


def test_transform_golden_rows(spark, api_dir):
    ids = spark.range(1, 4).selectExpr("id")
    details = fetch_details_df(ids, lambda: FileBackedTransport(api_dir), policy=FAST)
    out = {r["id"]: r for r in transform_details(details, AS_OF).collect()}
    assert out[1]["friends"] == ["Kangaroo", "Sea Lions"]
    assert out[1]["born_at"] is None
    assert out[2]["friends"] == []
    assert out[2]["born_at"] == "2012-09-26T20:55:57.651000Z"
    assert out[3]["friends"] == ["Dog"]
    assert_output_contract(transform_details(details, AS_OF))


def _posted_bodies(root):
    posts_dir = os.path.join(root, "posts")
    bodies = []
    for name in os.listdir(posts_dir):
        with open(os.path.join(posts_dir, name)) as f:
            bodies.append(json.load(f))
    return bodies


def test_end_to_end_pipeline_batching(spark, api_dir):
    receipts = run_pipeline(
        spark, lambda: FileBackedTransport(api_dir), batch_size=30, as_of=AS_OF, policy=FAST
    )
    rows = receipts.collect()
    assert sum(r["n_records"] for r in rows) == 100
    assert all(r["n_records"] <= 30 for r in rows)
    assert all(r["status"] == 200 for r in rows)
    posted = [rec for body in _posted_bodies(api_dir) for rec in body]
    assert len(posted) == 100
    by_id = {p["id"]: p for p in posted}
    assert "born_at" not in by_id[1]  # T6: null omitted from JSON
    assert by_id[2]["born_at"] == "2012-09-26T20:55:57.651000Z"


def test_batch_size_clamp(spark, api_dir):
    receipts = run_pipeline(
        spark, lambda: FileBackedTransport(api_dir), batch_size=500, as_of=AS_OF, policy=FAST
    )
    assert all(r["n_records"] <= 100 for r in receipts.collect())


def test_pipeline_fetches_each_detail_once(spark, api_dir, tmp_path):
    """S2 exactly once: every listed id is GET once, plus one retry per
    injected failure — not once per consumer of the fetched frame."""
    counters = str(tmp_path / "counters")
    os.makedirs(counters)

    class CountingTransport:
        """Fails each path's first call with a retryable 500 and logs
        every detail GET to a per-process file: Spark's Python workers
        are separate processes, so in-memory counters never reach the
        driver."""

        def __init__(self):
            self.inner = FlakyTransport(FileBackedTransport(api_dir), n_failures=1)

        def __call__(self, method, path):
            status, body = self.inner(method, path)
            if method == "GET" and "?page=" not in path:
                with open(os.path.join(counters, f"{os.getpid()}.log"), "a") as f:
                    f.write(f"{status}\n")
            return status, body

    receipts = run_pipeline(spark, CountingTransport, batch_size=30, as_of=AS_OF, policy=FAST)
    assert sum(r["n_records"] for r in receipts.collect()) == 100
    statuses = []
    for name in os.listdir(counters):
        with open(os.path.join(counters, name)) as f:
            statuses.extend(int(line) for line in f)
    injected = statuses.count(500)
    assert injected == 100  # one injected failure per listed id
    assert len(statuses) == 100 + injected


def _inmemory_relations(plan) -> int:
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        n += node.getClass().getSimpleName() == "InMemoryRelation"
        cs = node.children()
        stack.extend(cs.apply(i) for i in range(cs.size()))
    return n


@pytest.mark.parametrize("batch_size", [7, 100])
def test_globally_indexed_batches_span_buckets(spark, tmp_path, batch_size):
    """Batch boundaries follow the global id order across many row-number
    buckets (and straddle them), whatever the input partitioning."""
    from project_fauna_spark.cache import release_cached
    from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed

    # 150 ids over 10 buckets of 16 ids; every 4th name is NULL (T6).
    rows = [(3 * i + 1, None if i % 4 == 0 else f"n{i}") for i in range(150)]
    expected = [
        {"id": rid, **({"name": name} if name is not None else {})} for rid, name in rows
    ]
    base = spark.createDataFrame(list(reversed(rows)), "id long, name string")
    seen = {}
    for n_parts in (1, 7):
        root = str(tmp_path / f"sink-{n_parts}")
        os.makedirs(root)
        receipts_df = post_batches_globally_indexed(
            base.repartition(n_parts),
            lambda: FileBackedTransport(root),
            order_col="id",
            batch_size=batch_size,
            policy=FAST,
            bucket_rows=16,
        )
        # The pinned input is read by both the bucket row numbers and
        # the bucket counts; no other node reads it.
        assert _inmemory_relations(receipts_df._jdf.queryExecution().optimizedPlan()) == 2
        receipts = sorted(tuple(r) for r in receipts_df.collect())
        release_cached()
        chunks = [expected[i : i + batch_size] for i in range(0, len(expected), batch_size)]
        assert sorted(_posted_bodies(root), key=lambda b: b[0]["id"]) == chunks
        assert receipts == [(i, len(c), 200) for i, c in enumerate(chunks)]
        seen[n_parts] = receipts
    assert seen[1] == seen[7]
