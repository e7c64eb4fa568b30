"""Seeded fixture for the offline HTTP ETL workload.

Writes the file-backed fake API that ``sources.http.FileBackedTransport``
serves (``listing_page_{n}.json`` and ``detail_{id}.json``), derives the
records a correct pipeline must POST, and provides the transport the
workload hands to ``pipeline.run_pipeline``: the file-backed API with
injected faults (a 503 on the first GET of 1% of detail paths) and
per-transport counters.

Records mix second / millisecond / microsecond / nanosecond epochs with
NULL, negative and future ``born_at`` values, and ``friends`` strings
that are NULL, empty or padded with ASCII and Unicode whitespace.
About 0.5% of listed ids have no detail file, so their GET returns 404
and a correct pipeline drops them.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from project_fauna_spark.sources.http import FileBackedTransport

PAGE_SIZE = 100
_ANIMALS = (
    "Dog Cat Mouse Kangaroo Sea Lions Otter Lynx Heron Ibis Koala Tapir Yak "
    "Zebu Quokka Okapi Gecko Newt Bison Puffin Dingo"
).split()
_PAD = ["", " ", "  ", "\t", "\u00a0", " \u3000"]


def is_flaky(rid: int, seed: int) -> bool:
    """1% of detail paths answer 503 to their first GET."""
    return (rid * 2654435761 + seed * 40503) % 1000 < 10


def _born_at(rng: random.Random, now_s: int) -> int | None:
    kind = rng.random()
    if kind < 0.08:
        return None
    if kind < 0.12:
        return -rng.randrange(1, 10**9)
    if kind < 0.17:  # 50 to 150 years ahead: the future guard nulls it
        secs = now_s + rng.randrange(50, 150) * 31_557_600
    else:
        secs = rng.randrange(0, now_s - 86_400)
    unit = rng.randrange(4)
    if unit == 0:
        return secs
    if unit == 1:
        return secs * 1000 + rng.randrange(1000)
    if unit == 2:
        return secs * 10**6 + rng.randrange(10**6)
    # Nanoseconds, µs-granular as real clocks in this range are.
    return secs * 10**9 + rng.randrange(10**6) * 1000


def _friends(rng: random.Random) -> str | None:
    kind = rng.random()
    if kind < 0.1:
        return None
    if kind < 0.2:
        return ""
    toks = []
    for _ in range(rng.randrange(1, 5)):
        name = rng.choice(_ANIMALS) if rng.random() > 0.1 else ""
        toks.append(rng.choice(_PAD) + name + rng.choice(_PAD))
    return ",".join(toks)


def expected_iso(born_at: int | None, now_s: float) -> str | None:
    """The reference transform: unit by magnitude, float seconds, ISO-Z."""
    if born_at is None or born_at < 0:
        return None
    div = 1e9 if born_at >= 10**18 else 1e6 if born_at >= 10**15 else 1e3 if born_at >= 10**12 else 1.0
    secs = born_at / div
    if secs > now_s:
        return None
    return datetime.fromtimestamp(secs, tz=timezone.utc).isoformat().replace("+00:00", "Z")


def expected_friends(friends: str | None) -> list[str]:
    return [t.strip() for t in (friends or "").split(",") if t.strip()]


@dataclass
class Fixture:
    root: str
    # id -> (name, friends, born_at) for every id the listing names.
    records: dict[int, tuple[str, str | None, int | None]]
    missing: set[int]


POOL_SEED = 42


def _ensure_pool(root: str, n_pool: int) -> dict:
    """Write ``n_pool`` detail records once per work directory.

    Creating 100k files is slower than the pipeline that reads them, so
    the records are generated once from a fixed seed and every run's
    ``--seed`` picks its listing from them.  0.5% of pool ids get no
    detail file.
    """
    meta_path = os.path.join(root, f"pool-{n_pool}.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    rng = random.Random(POOL_SEED)
    now_s = int(time.time())
    os.makedirs(root, exist_ok=True)
    pool = {"records": [], "missing": []}
    for rid in rng.sample(range(1, n_pool * 20), n_pool):
        rec = [rid, f"{rng.choice(_ANIMALS)} {rid}", _friends(rng), _born_at(rng, now_s)]
        pool["records"].append(rec)
        if rng.random() < 0.005:
            pool["missing"].append(rid)
            continue
        detail = {"id": rid, "name": rec[1], "friends": rec[2], "born_at": rec[3]}
        with open(os.path.join(root, f"detail_{rid}.json"), "w") as f:
            f.write(json.dumps(detail))
    tmp = f"{meta_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(pool, f)
    os.replace(tmp, meta_path)
    return pool


def make_fixture(root: str, seed: int, n_records: int) -> Fixture:
    """List ``n_records`` ids, chosen and ordered by ``seed``, from a
    pool of detail records 20% larger."""
    pool = _ensure_pool(root, n_records * 6 // 5)
    chosen = random.Random(seed).sample(pool["records"], n_records)
    records = {rid: (name, friends, born) for rid, name, friends, born in chosen}
    missing = set(pool["missing"]) & records.keys()
    n_pages = math.ceil(n_records / PAGE_SIZE)
    for page in range(n_pages):
        items = [
            {"id": rid, "name": name, "born_at": born}
            for rid, name, _, born in chosen[page * PAGE_SIZE:(page + 1) * PAGE_SIZE]
        ]
        listing = {"page": page + 1, "total_pages": n_pages, "items": items}
        with open(os.path.join(root, f"listing_page_{page + 1}.json"), "w") as f:
            f.write(json.dumps(listing))
    return Fixture(root, records, missing)


@dataclass
class FaultyTransport:
    """``FileBackedTransport`` plus injected 503s and request counters.

    One instance lives per Spark task (the program calls its factory
    once per partition or batch group).  When ``counters_dir`` is set,
    the instance appends its counters as one JSON line to a per-process
    file when it is released, so the traced run can sum them on the
    driver.
    """

    root: str
    seed: int
    counters_dir: str | None = None
    inner: FileBackedTransport = field(init=False)
    seen: set = field(default_factory=set)
    counts: dict = field(default_factory=dict)

    def __post_init__(self):
        self.inner = FileBackedTransport(self.root)

    def _count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def __call__(self, method: str, path: str):
        if method == "GET" and "?page=" in path:
            self._count("listing_gets")
        elif method == "GET":
            self._count("detail_gets")
            rid = int(path.rsplit("/", 1)[1])
            if is_flaky(rid, self.seed) and rid not in self.seen:
                self.seen.add(rid)
                self._count("retries")
                return 503, "injected transient failure"
        else:
            self._count("posts")
            self._count("post_bytes", len(path))
        t0 = time.perf_counter()
        status, body = self.inner(method, path)
        self._count("get_s" if method == "GET" else "post_s", time.perf_counter() - t0)
        if status == 404:
            self._count("not_found")
        return status, body

    def __del__(self):
        if self.counters_dir and self.counts:
            path = os.path.join(self.counters_dir, f"{os.getpid()}.jsonl")
            with open(path, "a") as f:
                f.write(json.dumps(self.counts) + "\n")


def sum_counters(counters_dir: str) -> dict[str, float]:
    total: dict[str, float] = {}
    for fn in sorted(os.listdir(counters_dir)):
        with open(os.path.join(counters_dir, fn)) as f:
            for line in f:
                for k, v in json.loads(line).items():
                    total[k] = total.get(k, 0) + v
    return total


def check_posts(fx: Fixture, posts_dir: str, receipts: list, batch_size: int) -> tuple[int, int]:
    """Compare what was POSTed with what the seed says must be posted.

    Returns ``(expected, wrong)``: ``wrong`` counts every expected record
    that is missing or differs, every unexpected or duplicated record,
    and every receipt that disagrees with the batches actually posted.
    """
    now_s = time.time()
    expected = {rid: rec for rid, rec in fx.records.items() if rid not in fx.missing}
    seen: dict[int, int] = {}
    wrong = 0
    bodies = []
    for fn in os.listdir(posts_dir) if os.path.isdir(posts_dir) else []:
        with open(os.path.join(posts_dir, fn)) as f:
            bodies.append(json.load(f))
    for body in bodies:
        for rec in body:
            rid = rec.get("id")
            seen[rid] = seen.get(rid, 0) + 1
            want = expected.get(rid)
            if want is None or seen[rid] > 1:
                wrong += 1
                continue
            name, friends, born = want
            iso = expected_iso(born, now_s)
            ok = (
                rec.get("name") == name
                and json.loads(rec.get("friends", "null")) == expected_friends(friends)
                and rec.get("born_at") == iso
                and (iso is not None or "born_at" not in rec)
                and set(rec) <= {"id", "name", "friends", "born_at"}
            )
            wrong += not ok
    wrong += sum(1 for rid in expected if rid not in seen)
    n = len(expected)
    sizes = sorted((r["n_records"] for r in receipts), reverse=True)
    want_sizes = [batch_size] * (n // batch_size) + ([n % batch_size] if n % batch_size else [])
    posted_sizes = sorted((len(b) for b in bodies), reverse=True)
    wrong += sum(a != b for a, b in zip(sizes, want_sizes)) + abs(len(sizes) - len(want_sizes))
    wrong += sum(a != b for a, b in zip(posted_sizes, sizes)) + abs(len(posted_sizes) - len(sizes))
    wrong += sum(1 for r in receipts if r["status"] != 200)
    return n, wrong
