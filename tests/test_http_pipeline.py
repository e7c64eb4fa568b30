"""End-to-end ETL tests against a file-backed fake API, mirroring the
reference test strategy (SURVEY.md §5: fakes + golden rows + retry
fault injection)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from project_fauna_spark.pipeline import (
    assert_output_contract,
    run_pipeline,
    transform_details,
)
from project_fauna_spark.plans.lint import kinds, plan_of
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


def test_urllib_transport_times_out_connect_then_reads(monkeypatch):
    """``connect_timeout`` reaches the connect call; ``read_timeout``
    then bounds each read: a loopback listener that answers at once is
    read in full, one that stalls past the read timeout raises it."""
    import socket
    import threading
    import time

    from project_fauna_spark.sources.http import UrllibTransport

    listener = socket.create_server(("127.0.0.1", 0))
    requests = []

    def serve():
        for stall in (0.0, 3.0):
            conn, _ = listener.accept()
            with conn:
                requests.append(conn.recv(65536).split(b"\r\n")[0])
                time.sleep(stall)
                try:
                    conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
                except OSError:
                    pass

    threading.Thread(target=serve, daemon=True).start()
    connect_timeouts = []
    real_connect = socket.create_connection

    def recording_connect(address, timeout, *args, **kwargs):
        connect_timeouts.append(timeout)
        return real_connect(address, timeout, *args, **kwargs)

    monkeypatch.setattr(socket, "create_connection", recording_connect)
    port = listener.getsockname()[1]
    t = UrllibTransport(f"http://127.0.0.1:{port}", connect_timeout=4.0, read_timeout=0.5)
    try:
        assert t("GET", "/animals/v1/animals/7") == (200, "ok")
        assert connect_timeouts == [4.0]
        start = time.monotonic()
        with pytest.raises(TimeoutError):
            t("GET", "/animals/v1/animals/8")
        assert time.monotonic() - start < 2.0
    finally:
        listener.close()
    assert requests == [b"GET /animals/v1/animals/7 HTTP/1.1", b"GET /animals/v1/animals/8 HTTP/1.1"]


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
        with open(os.path.join(posts_dir, name), encoding="utf-8") as f:
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


def _groups(spark, keys, partitions):
    """``pmod(hash(key), partitions)`` of each long ``key``, by Spark."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    return dict(df.select("k", F.pmod(F.hash("k"), F.lit(partitions))).collect())


def _membership_rule(spark, rows, order_col, batch_size, partitions):
    """The sink's documented membership, computed apart from it: group
    ``pmod(hash(order_col), partitions)``, sorted ``batch_size`` chunks
    per group, then the groups' leftovers chunked in ``order_col``
    order.  Returns the bodies, full batches first."""
    group_of = _groups(spark, [r[order_col] for r in rows], partitions)
    full, leftovers = [], []
    for g in range(partitions):
        members = sorted((r for r in rows if group_of[r[order_col]] == g), key=lambda r: r[order_col])
        cut = len(members) - len(members) % batch_size
        full += [members[i : i + batch_size] for i in range(0, cut, batch_size)]
        leftovers += members[cut:]
    leftovers.sort(key=lambda r: r[order_col])
    return full + [leftovers[i : i + batch_size] for i in range(0, len(leftovers), batch_size)]


def _post(tmp_path, name, df, batch_size, partitions=8):
    """Run the sink over ``df``; return its receipts and posted bodies."""
    from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed

    root = str(tmp_path / name)
    os.makedirs(root)
    receipts = post_batches_globally_indexed(
        df,
        lambda: FileBackedTransport(root),
        order_col="id",
        batch_size=batch_size,
        policy=FAST,
        partitions=partitions,
    ).collect()
    posts = os.path.join(root, "posts")
    bodies = _posted_bodies(root) if os.path.isdir(posts) else []
    return sorted(tuple(r) for r in receipts), bodies


def _sorted_bodies(bodies):
    return sorted(bodies, key=lambda b: [r["id"] for r in b])


@pytest.mark.parametrize("batch_size", [7, 100])
def test_globally_indexed_batches_span_buckets(spark, tmp_path, batch_size):
    """Receipts number the batches of every hash group (bucket) in one
    global sequence: posted bodies follow the documented membership
    rule whatever the input partitioning, and receipts are
    ``(i, len, 200)`` with the only partial batch last."""
    # 150 ids; every 4th name is NULL (T6).
    rows = [(3 * i + 1, None if i % 4 == 0 else f"n{i}") for i in range(150)]
    records = [{"id": rid, **({"name": name} if name is not None else {})} for rid, name in rows]
    expected = _membership_rule(spark, records, "id", batch_size, partitions=8)
    base = spark.createDataFrame(list(reversed(rows)), "id long, name string")
    seen = {}
    for n_parts in (1, 7):
        receipts, bodies = _post(tmp_path, f"sink-{n_parts}", base.repartition(n_parts), batch_size)
        assert _sorted_bodies(bodies) == _sorted_bodies(expected)
        assert receipts == [(i, len(b), 200) for i, b in enumerate(expected)]
        assert [n for _, n, _ in receipts[:-1]] == [batch_size] * (len(receipts) - 1)
        seen[n_parts] = receipts
    assert seen[1] == seen[7]


def test_sink_edge_cases(spark, tmp_path):
    """Empty input posts nothing; n < size is one partial batch;
    leftovers that fill whole batches leave no partial batch; keys that
    all hash to one group are posted from that group."""
    schema = "id long, name string"

    def frame(ids):
        return spark.createDataFrame([(i, f"n{i}") for i in ids], schema)

    assert _post(tmp_path, "empty", frame([]), 10) == ([], [])

    receipts, bodies = _post(tmp_path, "small", frame(range(5)), 10)
    assert receipts == [(0, 5, 200)]
    assert [[r["id"] for r in b] for b in bodies] == [list(range(5))]

    # Two groups of 6 ids at size 4: each posts one full batch and
    # leaves 2, so the 4 leftovers form one more full batch.
    group_of = _groups(spark, range(200), 2)
    ids = [i for i in range(200) if group_of[i] == 0][:6] + [
        i for i in range(200) if group_of[i] == 1
    ][:6]
    receipts, bodies = _post(tmp_path, "exact", frame(ids), 4, partitions=2)
    assert receipts == [(i, 4, 200) for i in range(3)]
    assert sorted(r["id"] for b in bodies for r in b) == sorted(ids)

    # Every key in group 0 of 3: all full batches come from one task.
    group_of = _groups(spark, range(300), 3)
    ids = [i for i in range(300) if group_of[i] == 0][:23]
    records = [{"id": i, "name": f"n{i}"} for i in ids]
    expected = _membership_rule(spark, records, "id", 5, partitions=3)
    receipts, bodies = _post(tmp_path, "skew", frame(ids).repartition(4), 5, partitions=3)
    assert _sorted_bodies(bodies) == _sorted_bodies(expected)
    assert receipts == [(i, 5, 200) for i in range(4)] + [(4, 3, 200)]


def test_sink_plan_has_no_pin_window_aggregate_or_broadcast(spark, tmp_path, api_dir):
    """The sink is two shuffles and two Arrow maps over its input: no
    pin, window, aggregate or broadcast.  ``run_pipeline`` pins nothing
    and adds only the fetch's shuffle."""
    from project_fauna_spark import cache
    from project_fauna_spark.plans.lint import kind, nodes
    from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed

    receipts = post_batches_globally_indexed(
        spark.createDataFrame([(1, "a")], "id long, name string"),
        lambda: FileBackedTransport(str(tmp_path)),
        order_col="id",
    )
    for phase in ("optimizedPlan", "executedPlan"):
        found = [kind(n) for n in nodes(plan_of(receipts, phase))]
        assert not [
            k
            for k in found
            if k in ("InMemoryRelation", "WindowExec", "Window", "BroadcastExchangeExec")
            or "Aggregate" in k
        ], found
    assert kinds(plan_of(receipts))["ShuffleExchangeExec"] == 2

    cache.release_cached()
    receipts = run_pipeline(spark, lambda: FileBackedTransport(api_dir), policy=FAST)
    assert not cache._TRACKED
    assert kinds(plan_of(receipts))["ShuffleExchangeExec"] == 3


def _write_api(root, records, page_size):
    os.makedirs(root)
    pages = [records[i : i + page_size] for i in range(0, len(records), page_size)]
    for n, items in enumerate(pages, start=1):
        listing = {"page": n, "total_pages": len(pages), "items": [{"id": r["id"]} for r in items]}
        with open(os.path.join(root, f"listing_page_{n}.json"), "w", encoding="utf-8") as f:
            json.dump(listing, f)
    for r in records:
        with open(os.path.join(root, f"detail_{r['id']}.json"), "w", encoding="utf-8") as f:
            json.dump(r, f, ensure_ascii=False)


def test_pipeline_posts_non_ascii_records(spark, tmp_path):
    """The JVM writes posted JSON as raw UTF-8 (no \\u escapes); the
    transport reads and writes it as UTF-8 whatever the locale."""
    root = str(tmp_path / "api")
    _write_api(
        root,
        [
            {"id": 1, "name": "Åsa 猫", "friends": "Zoë, 熊猫 ,\u00a0Émile", "born_at": 1348692957651},
            {"id": 2, "name": "Ñandú", "friends": None, "born_at": None},
            {"id": 3, "name": "Dog", "friends": "Кот", "born_at": 1_500_000_000},
        ],
        page_size=2,
    )
    receipts = run_pipeline(spark, lambda: FileBackedTransport(root), as_of=AS_OF, policy=FAST)
    assert [tuple(r) for r in receipts.collect()] == [(0, 3, 200)]
    (body,) = _posted_bodies(root)
    assert body == [
        {
            "id": 1,
            "name": "Åsa 猫",
            "friends": json.dumps(["Zoë", "熊猫", "Émile"], ensure_ascii=False, separators=(",", ":")),
            "born_at": "2012-09-26T20:55:57.651000Z",
        },
        {"id": 2, "name": "Ñandú", "friends": "[]"},
        {"id": 3, "name": "Dog", "friends": '["Кот"]', "born_at": "2017-07-14T02:40:00Z"},
    ]


_PANDAS_PROBE = """
import os, sys
from project_fauna_spark.pipeline import run_pipeline
from project_fauna_spark.session import get_spark
from project_fauna_spark.sources.http import FileBackedTransport, RetryPolicy

api_dir, log_dir = sys.argv[1:]


# Logs whether pandas is loaded when a task builds the transport and
# when it drops it.
class RecordingTransport:
    def __init__(self):
        self.inner = FileBackedTransport(api_dir)
        self.record()

    def record(self):
        with open(os.path.join(log_dir, str(os.getpid())), "a") as f:
            f.write(f"{'pandas' in sys.modules}\\n")

    def __call__(self, method, path):
        return self.inner(method, path)

    def __del__(self):
        self.record()


spark = get_spark(master="local[2]", shuffle_partitions=2)
policy = RetryPolicy(retries=1, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)
receipts = run_pipeline(spark, RecordingTransport, batch_size=30, policy=policy).collect()
print(os.getpid(), sum(r["n_records"] for r in receipts))
spark.stop()
"""


def test_etl_workers_never_import_pandas(api_dir, tmp_path):
    """The ETL's Python workers build their Arrow batches from buffers,
    so none of them loads pandas.  A fresh session in its own
    interpreter keeps workers that other tests' pandas stages warmed
    out of the count."""
    log_dir = str(tmp_path / "workers")
    os.makedirs(log_dir)
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _PANDAS_PROBE, api_dir, log_dir],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=600, check=False,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    driver_pid, n_posted = out.stdout.split()[-2:]
    assert int(n_posted) == 100
    seen = {}
    for pid in os.listdir(log_dir):
        with open(os.path.join(log_dir, pid)) as f:
            seen[int(pid)] = set(f.read().split())
    workers = {pid: flags for pid, flags in seen.items() if pid != int(driver_pid)}
    assert workers, "no transport was built in a Python worker"
    assert all(flags == {"False"} for flags in workers.values()), workers
