"""Distributed HTTP source operators with the reference's reliability
semantics, re-expressed for Spark executors.

Reference parity (citations into /root/reference/):

* Paginated listing scan S1 — pipeline.py:8-29: read page 1 for
  ``total_pages``, fetch remaining pages concurrently, project
  ``items[].id``.  Here: driver probes page 1 (one request), then
  ``spark.range`` fans pages across executors via ``mapInArrow`` —
  page concurrency = partitions, replacing the asyncio semaphore (X4,
  pipeline.py:19).
* Point-get detail fetch S2 — pipeline.py:31-55: per-id GET, failed
  ids dropped (P3).  Here: each task fetches its ids; a failed id
  yields no row.  :func:`fetch_listed_details_df` runs S1 and S2 in
  one Python stage: each task GETs its listing pages, then the ids on
  them, so the ids never cross a shuffle.
* Retry/backoff X1 — http_client.py:29-44,84-157: retry transient
  {500,502,503,504} + transport errors up to 6 times, sleeping
  ``min(cap, base·2^(attempt-1)) + U[0, 0.5]`` (base 0.25, cap 4.0).
* Fail-fast X2 — http_client.py:106-137: 4xx never retries; 422
  surfaces a typed validation error with the response ``detail``.
* Non-JSON tolerance S4 — api.py:27-31: a non-JSON body degrades to a
  safe empty value (empty page / missing detail), with a warning.

Transports are injectable callables so the same operators run against
a real HTTP stack or the file-backed fake used in offline tests.  At
scale the pattern is unchanged: each task owns its ids, holds one
connection pool, and the driver never proxies data.

Every task holds one :class:`_TaskClient`, whose two request loops
(listing page → ids, ids → detail rows) serve all three operators.
Workers build Arrow batches from buffers (:func:`arrow_batch`); none
imports pandas.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import sys
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, types as T

RETRYABLE_STATUSES = frozenset({500, 502, 503, 504})

# (status_code, body_text); Transport = Callable[[method, path], Response]
Response = tuple[int, str]
Transport = Callable[[str, str], Response]
TransportFactory = Callable[[], Transport]


class HttpError(Exception):
    """Non-retryable HTTP failure (4xx, or retry budget exhausted)."""

    def __init__(self, status: int, message: str):
        super().__init__(f"HTTP {status}: {message}")
        self.status = status


class ValidationHttpError(HttpError):
    """422 with parsed ``detail`` (reference http_client.py:20-27)."""

    def __init__(self, detail: object):
        super().__init__(422, f"validation error: {detail!r}")
        self.detail = detail


@dataclass(frozen=True)
class RetryPolicy:
    """Exponential backoff + jitter (reference http_client.py:29-44)."""

    retries: int = 6
    backoff_base: float = 0.25
    backoff_cap: float = 4.0
    jitter_max: float = 0.5

    def sleep_seconds(self, attempt: int, rng: random.Random | None = None) -> float:
        base = min(self.backoff_cap, self.backoff_base * (2 ** (attempt - 1)))
        return base + (rng or random).uniform(0.0, self.jitter_max)


# The reference ships TWO backoff profiles: the package client uses
# base 0.25 / cap 4.0 (http_client.py:29-44 — RetryPolicy's defaults
# above) while the standalone script uses base 0.5 / cap 8.0
# (scripts/animals_etl.py:209).  Both are this one dataclass with
# different constants:
SCRIPT_RETRY_PROFILE = RetryPolicy(retries=6, backoff_base=0.5, backoff_cap=8.0)


def transport_takes_headers(transport: Transport) -> bool:
    """True if the transport callable accepts a third (headers) arg.

    ``inspect.signature`` costs more than a file-backed request, so a
    task resolves this once for the transport it owns and passes the
    answer to every :func:`request_with_retry` call it makes.
    """
    try:
        sig = inspect.signature(transport)
    except (TypeError, ValueError):
        return False
    positional = [
        p
        for p in sig.parameters.values()
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    has_var = any(p.kind == p.VAR_POSITIONAL for p in sig.parameters.values())
    return has_var or len(positional) >= 3


def _log_stderr(msg: str) -> None:
    print(msg, file=sys.stderr)


def request_with_retry(
    transport: Transport,
    method: str,
    path: str,
    policy: RetryPolicy = RetryPolicy(),
    sleep: Callable[[float], None] = time.sleep,
    req_id: str | None = None,
    log: Callable[[str], None] | None = None,
    takes_headers: bool | None = None,
) -> Response:
    """One logical request with the full reliability taxonomy applied.

    X3 tracing (reference http_client.py:93-96,149-155): every logical
    request carries a UUID ``X-Request-Id`` header (passed to
    transports that accept a headers argument; 2-arg transports keep
    working), and retry / give-up / fatal transitions emit structured
    ``[req#<id>]`` stderr lines in the reference's format.
    ``takes_headers`` is :func:`transport_takes_headers` of
    ``transport``; when omitted it is worked out on this call.
    """
    rid = req_id or str(uuid.uuid4())
    headers = {"X-Request-Id": rid}
    emit = log or _log_stderr
    if takes_headers is None:
        takes_headers = transport_takes_headers(transport)

    attempt = 0
    while True:
        attempt += 1
        try:
            if takes_headers:
                status, body = transport(method, path, headers)
            else:
                status, body = transport(method, path)
        except Exception as exc:  # network-layer error: retryable
            if attempt > policy.retries:
                emit(f"[req#{rid}] [giving up] {method} {path}: {exc}")
                raise HttpError(-1, f"transport error after {attempt} attempts: {exc}") from exc
            delay = policy.sleep_seconds(attempt)
            emit(
                f"[req#{rid}] [retry {attempt}/{policy.retries}] {method} {path} "
                f"failed: network: {exc}. Sleeping {delay:.2f}s"
            )
            sleep(delay)
            continue
        if status == 422:
            try:
                detail = json.loads(body).get("detail")
            except (ValueError, AttributeError):
                detail = body
            emit(f"[req#{rid}] 422 validation error on {method} {path}: {detail}")
            raise ValidationHttpError(detail)
        if 400 <= status < 500:
            emit(f"[req#{rid}] [fatal] {method} {path} returned {status}, not retrying")
            raise HttpError(status, body[:200])
        if status in RETRYABLE_STATUSES:
            if attempt > policy.retries:
                emit(f"[req#{rid}] [giving up] {method} {path}: HTTP {status}")
                raise HttpError(status, f"giving up after {attempt} attempts")
            delay = policy.sleep_seconds(attempt)
            emit(
                f"[req#{rid}] [retry {attempt}/{policy.retries}] {method} {path} "
                f"failed: HTTP {status}. Sleeping {delay:.2f}s"
            )
            sleep(delay)
            continue
        if attempt > 1:
            emit(f"[req#{rid}] succeeded after {attempt} attempt(s)")
        return status, body


def _safe_json(body: str, default: dict) -> dict:
    """Non-JSON tolerance S4: bad body → safe empty value + warning."""
    try:
        parsed = json.loads(body)
        return parsed if isinstance(parsed, dict) else default
    except ValueError:
        print("warning: non-JSON response; substituting empty value", file=sys.stderr)
        return default


DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("friends", T.StringType()),
        T.StructField("born_at", T.LongType()),
    ]
)
_DETAIL_ARROW = pa.schema(
    [("id", pa.int64()), ("name", pa.string()), ("friends", pa.string()), ("born_at", pa.int64())]
)
_IDS_ARROW = pa.schema([("id", pa.int64())])


def _arrow_array(values: list, type_: pa.DataType) -> pa.Array:
    """An int64 or utf8 Arrow array of ``values``; ``None`` is null."""
    n = len(values)
    valid = np.fromiter((v is not None for v in values), dtype=bool, count=n)
    validity = None if valid.all() else pa.py_buffer(np.packbits(valid, bitorder="little"))
    if type_ == pa.int64():
        data = np.fromiter((0 if v is None else int(v) for v in values), dtype=np.int64, count=n)
        return pa.Array.from_buffers(type_, n, [validity, pa.py_buffer(data)])
    encoded = [b"" if v is None else v.encode() for v in values]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum([len(b) for b in encoded], out=offsets[1:])
    buffers = [validity, pa.py_buffer(offsets), pa.py_buffer(b"".join(encoded))]
    return pa.Array.from_buffers(type_, n, buffers)


def arrow_batch(schema: pa.Schema, columns: dict[str, list]) -> pa.RecordBatch:
    """A RecordBatch of int64 / utf8 Python-list ``columns``.

    Built from buffers because ``pa.array`` on a Python list imports
    pandas (pyarrow probes whether the list is a pandas object), which
    would cost every Python worker that import.
    """
    arrays = [_arrow_array(columns[f.name], f.type) for f in schema]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


class _TaskClient:
    """One Spark task's transport and its two request loops."""

    def __init__(self, transport_factory: TransportFactory, base_path: str, policy: RetryPolicy):
        self.transport = transport_factory()
        self.takes_headers = transport_takes_headers(self.transport)
        self.base_path = base_path
        self.policy = policy

    def _get(self, path: str) -> Response:
        return request_with_retry(
            self.transport, "GET", path, self.policy, takes_headers=self.takes_headers
        )

    def listed_ids(self, page: int) -> list[int]:
        """S1 for one page: the ids it lists, in listing order."""
        _, body = self._get(f"{self.base_path}?page={page}")
        payload = _safe_json(body, {"items": []})
        return [int(item["id"]) for item in payload.get("items", [])]

    def details(self, ids: list[int]) -> pa.RecordBatch:
        """S2 + P3: one GET per id; a failed id yields no row."""
        cols: dict[str, list] = {name: [] for name in _DETAIL_ARROW.names}
        for rid in ids:
            try:
                _, body = self._get(f"{self.base_path}/{rid}")
            except HttpError:
                continue  # P3: drop failed id, keep going
            detail = _safe_json(body, {})
            if detail.get("id") is not None:
                cols["id"].append(int(detail["id"]))
                cols["name"].append(detail.get("name"))
                cols["friends"].append(detail.get("friends"))
                cols["born_at"].append(detail.get("born_at"))
        return arrow_batch(_DETAIL_ARROW, cols)


def _total_pages(transport_factory: TransportFactory, base_path: str, policy: RetryPolicy) -> int:
    """The driver's one probe request: page 1 says how many pages exist."""
    _, body = request_with_retry(transport_factory(), "GET", f"{base_path}?page=1", policy)
    return int(_safe_json(body, {"items": [], "total_pages": 1}).get("total_pages", 1))


def paginated_ids_df(
    spark: SparkSession,
    transport_factory: TransportFactory,
    base_path: str = "/animals/v1/animals",
    partitions: int = 8,
    policy: RetryPolicy = RetryPolicy(),
) -> DataFrame:
    """S1: paginated listing scan → DataFrame of row ids.

    Driver sends exactly ONE probe request (page 1 → total_pages);
    every page fetch happens on executors.  Replaces the reference's
    driver-side asyncio fan-out with partition-parallel tasks.
    """
    total_pages = _total_pages(transport_factory, base_path, policy)

    def fetch_pages(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = _TaskClient(transport_factory, base_path, policy)
        for batch in batches:
            ids = [i for page in batch.column(0).to_pylist() for i in client.listed_ids(page)]
            yield arrow_batch(_IDS_ARROW, {"id": ids})

    pages = spark.range(1, total_pages + 1).repartition(min(partitions, max(1, total_pages)))
    return pages.mapInArrow(fetch_pages, schema="id long")


def fetch_details_df(
    ids_df: DataFrame,
    transport_factory: TransportFactory,
    base_path: str = "/animals/v1/animals",
    partitions: int = 8,
    policy: RetryPolicy = RetryPolicy(),
) -> DataFrame:
    """S2 + P3: point-get each id; failed ids are dropped (no row)."""

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = _TaskClient(transport_factory, base_path, policy)
        for batch in batches:
            yield client.details(batch.column("id").to_pylist())

    return ids_df.repartition(partitions).mapInArrow(fetch, schema=DETAIL_SCHEMA)


def fetch_listed_details_df(
    spark: SparkSession,
    transport_factory: TransportFactory,
    base_path: str = "/animals/v1/animals",
    partitions: int = 8,
    policy: RetryPolicy = RetryPolicy(),
) -> DataFrame:
    """S1 + S2 + P3 in one Python stage: listing pages → details.

    The work units are ``total_pages × k`` (page, slice) pairs with
    ``k = ceil(partitions / total_pages)``, spread round-robin over
    ``partitions`` tasks.  A task GETs the page of each of its units
    and point-GETs every k-th id on it, so ``partitions`` is the fetch
    fan-out even when there are fewer pages than tasks, and every
    listed id is GET once.  A page is listed k times (once with the
    usual many pages); the ids never cross a shuffle.
    """
    total_pages = _total_pages(transport_factory, base_path, policy)
    k = -(-partitions // max(1, total_pages))

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = _TaskClient(transport_factory, base_path, policy)
        for batch in batches:
            ids: list[int] = []
            for unit in batch.column(0).to_pylist():
                page, part = divmod(unit, k)
                ids.extend(client.listed_ids(page + 1)[part::k])
            yield client.details(ids)

    units = spark.range(0, total_pages * k, numPartitions=1).repartition(partitions)
    return units.mapInArrow(fetch, schema=DETAIL_SCHEMA)


# ---------------------------------------------------------------------------
# Offline transports (tests / local runs)
# ---------------------------------------------------------------------------


@dataclass
class UrllibTransport:
    """Real-HTTP transport on the stdlib (no extra dependencies).

    GETs hit ``base_url + path``; POSTs send the body (our POST
    convention passes the JSON body as the second argument) to the
    sink path.  Per-request headers (X-Request-Id) are forwarded.
    The reference's timeout pair applies as it does there:
    ``connect_timeout`` bounds connection setup (TCP connect and any
    TLS handshake), ``read_timeout`` every socket read and write after
    it.  One connection per request, no redirects and no proxies.
    """

    base_url: str
    sink_path: str = "/animals/v1/home"
    connect_timeout: float = 5.0
    read_timeout: float = 30.0

    def __call__(self, method: str, path: str, headers: dict | None = None) -> Response:
        import http.client
        import urllib.parse

        url = urllib.parse.urlsplit(self.base_url)
        conn_type = http.client.HTTPSConnection if url.scheme == "https" else http.client.HTTPConnection
        conn = conn_type(url.netloc, timeout=self.connect_timeout)
        headers = dict(headers or {})
        if method.startswith("POST"):
            method, target, body = "POST", url.path + self.sink_path, path.encode("utf-8")
            headers = {"Content-Type": "application/json", **headers}
        else:
            target, body = url.path + path, None
        try:
            conn.connect()
            conn.sock.settimeout(self.read_timeout)
            conn.request(method, target, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read().decode("utf-8", errors="replace")
        finally:
            conn.close()


@dataclass
class FileBackedTransport:
    """Serves the reference API shape from a directory of JSON files.

    Layout: ``listing_page_{n}.json``, ``detail_{id}.json``; POST
    bodies are appended to ``posts/`` with a unique name.  Runs on
    executors (local-mode tests share the filesystem).
    """

    root: str

    def __call__(self, method: str, path: str) -> Response:
        if method == "GET" and "?page=" in path:
            n = int(path.rsplit("=", 1)[1])
            return self._read(f"listing_page_{n}.json")
        if method == "GET":
            rid = path.rsplit("/", 1)[1]
            return self._read(f"detail_{rid}.json")
        if method.startswith("POST"):
            body = path  # POST transports receive the body as "path"
            os.makedirs(os.path.join(self.root, "posts"), exist_ok=True)
            name = f"batch_{time.time_ns()}_{os.getpid()}_{random.randrange(1 << 30)}.json"
            with open(os.path.join(self.root, "posts", name), "w", encoding="utf-8") as f:
                f.write(body)
            return 200, "{}"
        return 405, "method not allowed"

    def _read(self, name: str) -> Response:
        try:
            f = open(os.path.join(self.root, name), encoding="utf-8")
        except FileNotFoundError:
            return 404, "not found"
        with f:
            return 200, f.read()


@dataclass
class FlakyTransport:
    """Wraps a transport; fails each distinct path's first ``n_failures``
    calls with a retryable 500 — exercises X1 end-to-end."""

    inner: Transport
    n_failures: int = 1
    seen: dict = field(default_factory=dict)

    def __call__(self, method: str, path: str) -> Response:
        k = (method, path)
        self.seen[k] = self.seen.get(k, 0) + 1
        if self.seen[k] <= self.n_failures:
            return 500, "transient"
        return self.inner(method, path)
