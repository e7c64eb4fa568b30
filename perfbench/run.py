#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of project_fauna_spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (all closed loops: one driver thread submits one call at a
time to ``local[nproc]`` Spark built by ``session.get_spark``):

* ``grading-sf0.01`` — the grading harness's loop: queries built and
  executed once each, pins released first, after one
  ``__spark_entry__.entry`` smoke.  Fixed per-query cost dominates.
* ``etl-offline-100k`` — the paper's pipeline (``pipeline.run_pipeline``)
  over a seeded 100k-record file-backed fake API with injected 503s and
  404s, run the way ``cli.run`` runs it.

The query workloads read ``perfbench/corpus``, a byte-for-byte copy of
the harness corpus the queries are graded on (sf0.001 and sf0.01);
``--seed`` fixes their query order.  For the
ETL, ``--seed`` generates the fixture.  A query workload's timed section
is ``--seconds`` divided by the workload's nominal pass time (8 s on a
4-core host) whole passes over its queries; the ETL's is one pipeline
run in a fresh session.  Every run therefore measures the same calls.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (failed calls plus wrong outputs) and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Provenance, per-call records and (traced) spans go to a
sidecar file under ``perfbench_work/``, named on stderr.

The timed end-to-end metrics are CPU seconds (user + system) of the
whole process tree — this Python process, the JVM and its Python
workers — read from ``/proc``: ``cpu_s`` per pass or pipeline run and
``records_per_cpu_s``.  On a shared 4-vCPU virtual host, CPU steal
stretched the wall time of the same grading pass from 10 to 18 s
between runs, while its CPU time grew by 14%: a stolen tick is charged
to the host's steal counter, not to the process, and what remains is
the slower sharing of a busy core.  Wall times are still recorded per
call and per pass in the sidecar.  ``setup_s`` is wall time.

This is not ``bench.py`` (a warm best-of-2 headline sweep); the sf0.1
headline sweep and streaming (``project_fauna_spark/streaming``) are
not covered yet.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = "perfbench_work"  # relative to ROOT: engine code derives table names from paths
CORPUS = os.path.join("perfbench", "corpus")

with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCHMARK = json.load(_f)
# Metric name -> unit: what each untraced / traced run prints.
E2E = {m["name"]: m["unit"] for m in _BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCHMARK["per_layer"]}
ETL_POLICY = dict(retries=6, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Host and process-tree measurements
# ---------------------------------------------------------------------------


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _tree_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def host_mark() -> tuple[int, float]:
    return _steal_ticks(), tree_cpu_s()


def host_since(mark: tuple[int, float], seconds: float) -> dict:
    """A timed section's wall time beside the CPU time of the process
    tree and the host's CPU steal over the same section."""
    steal, cpu = mark
    return {"s": seconds, "cpu_s": tree_cpu_s() - cpu,
            "steal_s": (_steal_ticks() - steal) / os.sysconf("SC_CLK_TCK")}


class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_kb(self) -> int:
        total = 0
        for pid in _tree_stats():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------


def configure_env() -> None:
    """Keep every file Spark, its workers and the engine write inside
    the checkout."""
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    local = os.path.abspath(os.path.join(WORK, "spark-local"))
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.abspath(os.path.join(WORK, 'warehouse'))} "
        "pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        finally:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
    # A later session in this process must launch a fresh JVM.
    SparkContext._gateway = SparkContext._jvm = None


def configure_ms(spark) -> float:
    from project_fauna_spark.session import configure_session

    samples = []
    for _ in range(5):
        t = time.perf_counter()
        configure_session(spark)
        samples.append((time.perf_counter() - t) * 1e3)
    return statistics.median(samples)


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def _patch_load_table(wrapper_factory):
    """Point every engine module's ``load_table`` at a wrapper; return
    an undo function."""
    import project_fauna_spark.io as io

    orig = io.load_table
    wrapped = wrapper_factory(orig)
    patched = []
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith("project_fauna_spark") and getattr(mod, "load_table", None) is orig:
            setattr(mod, "load_table", wrapped)
            patched.append(mod)

    def undo():
        for mod in patched:
            setattr(mod, "load_table", orig)

    return undo


def entry_smoke(spark, smoke_dir: str) -> int:
    """``__spark_entry__.entry`` reads a fixed harness path; serve it the
    benchmark's copy of the sf0.001 corpus instead."""
    import __spark_entry__

    def redirect(orig):
        def load_table(s, sf_dir, name):
            return orig(s, smoke_dir, name)
        return load_table

    undo = _patch_load_table(redirect)
    try:
        rows = __spark_entry__.entry(spark).collect()
    finally:
        undo()
    if not rows:
        raise RuntimeError("entry smoke returned no rows")
    return len(rows)


class QueryRunner:
    """Times one query call: build, then execute to a ``noop`` write."""

    def __init__(self, spark, workload: str, tracer=None):
        from project_fauna_spark.cache import release_cached
        from project_fauna_spark.plans import QUERIES

        self.spark, self.workload, self.tracer = spark, workload, tracer
        self.queries, self.release = QUERIES, release_cached
        self.layers: dict[str, float] = {}
        # Traced-only repeat calls, left out of pass times and CPU.
        self.repeat_s = self.repeat_cpu_s = 0.0
        self._io_calls: list[float] = []
        self._group = ""
        self._span = ("", None)  # (run id, parent span) of io spans
        if tracer is not None:
            self._undo = _patch_load_table(self._timed_load_table)

    def _timed_load_table(self, orig):
        def load_table(spark, sf_dir, name):
            outer = self._group
            self._set_group(f"{outer}/io")
            t = time.perf_counter()
            try:
                with self.tracer.span("io.load_table", *self._span):
                    return orig(spark, sf_dir, name)
            finally:
                self._io_calls.append(time.perf_counter() - t)
                self._set_group(outer)

        return load_table

    def _set_group(self, group: str) -> None:
        from tracing import job_group

        self._group = group
        job_group(self.spark, group)

    def _add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def _execute(self, df) -> int:
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return int(obs.get["rows"])

    def run(self, name: str, sf_dir: str, run_id: str,
            repeat: bool = False) -> tuple[float, float, int]:
        """Return (seconds, process-tree CPU seconds, output rows) of one
        first invocation; when traced and ``repeat``, also time a second
        invocation while the first one's pins are held."""
        self.release()
        if self.tracer is None:
            group = f"{self.workload}/{name}"
            self._set_group(f"{group}/build")
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            df = self.queries[name](self.spark, sf_dir)
            self._set_group(f"{group}/execute")
            rows = self._execute(df)
            dt, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            self.release()
            return dt, cpu, rows
        cpu0, repeat_cpu = tree_cpu_s(), self.repeat_cpu_s
        dt, rows = self._run_traced(name, sf_dir, run_id, f"{self.workload}/{run_id}", repeat)
        return dt, tree_cpu_s() - cpu0 - (self.repeat_cpu_s - repeat_cpu), rows

    def _run_traced(self, name, sf_dir, run_id, group, repeat) -> tuple[float, int]:
        tr = self.tracer
        with tr.span("query", run_id) as qspan:
            self._io_calls = []
            self._set_group(f"{group}/build")
            with tr.span("build", run_id, qspan) as bspan:
                self._span = (run_id, bspan)
                t0 = time.perf_counter()
                df = self.queries[name](self.spark, sf_dir)
                t_build = time.perf_counter() - t0
            io_calls = list(self._io_calls)
            self._set_group(f"{group}/plan")
            with tr.span("plan", run_id, qspan):
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t_plan = time.perf_counter() - t
            tr.new_sql_plans()  # discard executions launched while building
            self._set_group(f"{group}/execute")
            with tr.span("execute", run_id, qspan):
                t = time.perf_counter()
                rows = self._execute(df)
                t_exec = time.perf_counter() - t
            plans = tr.new_sql_plans()
            pin_bytes = tr.pin_bytes()
            if repeat:
                self._set_group(f"{group}/repeat")
                with tr.span("repeat", run_id, qspan):
                    cpu, t = tree_cpu_s(), time.perf_counter()
                    self._execute(self.queries[name](self.spark, sf_dir))
                    self.repeat_s += time.perf_counter() - t
                    self.repeat_cpu_s += tree_cpu_s() - cpu
            pins = self.release()
        build_jobs = tr.group_jobs(f"{group}/build")
        io_jobs = tr.group_jobs(f"{group}/build/io")
        exec_jobs = tr.group_jobs(f"{group}/execute")
        stages = tr.stage_totals(exec_jobs)
        self._add("io.load_table_calls", len(io_calls))
        self._add("io.load_table_s", sum(io_calls))
        self._add("io.schema_jobs", len(io_jobs))
        self._add("build.s", t_build)
        self._add("build.jobs", len(build_jobs) + len(io_jobs))
        self._add("plan.s", t_plan)
        self._add("plan.nodes", plans["nodes"])
        self._add("plan.exchanges", plans["exchanges"])
        self._add("plan.python_nodes", plans["python_nodes"])
        self._add("python.bytes_sent", plans["py_sent"])
        self._add("python.bytes_received", plans["py_recv"])
        self._add("cache.pins", pins)
        self._add("cache.pin_bytes", pin_bytes)
        self._add("cache.pin_queries", 1 if pins else 0)
        self._add("exec.s", t_exec)
        self._add("exec.jobs", len(exec_jobs))
        for key, value in stages.items():
            self._add(f"exec.{key}", value)
        return t_build + t_plan + t_exec, rows

    def close(self) -> None:
        if self.tracer is not None:
            self._undo()


def query_workload(ctx: dict, spec: dict) -> dict:
    import oracle

    seed = ctx["seed"]
    names = list(ctx.get("names") or spec["queries"])
    sf_dir = os.path.join(CORPUS, f"sf{ctx.get('sf') or spec['sf']:g}")
    warm_dir = os.path.join(CORPUS, f"sf{spec['warmup_sf']:g}")

    # --- set-up: session, registry import, smoke or warm-up -------------
    t_setup = time.perf_counter()
    ctx["start_session"]()
    spark, tracer = ctx["spark"], ctx["tracer"]
    t = time.perf_counter()
    import __spark_entry__  # noqa: F401 — imports the whole registry

    ctx["layers"]["session.import_s"] = time.perf_counter() - t
    runner = QueryRunner(spark, spec["name"])
    entry_smoke(spark, warm_dir)
    for name in names:
        runner.run(name, warm_dir, "warmup")
    ctx["setup_s"] = time.perf_counter() - t_setup + ctx["fixed_setup_s"]

    # --- timed passes ----------------------------------------------------
    order = names[:]
    random.Random(seed).shuffle(order)
    runner = QueryRunner(spark, spec["name"], tracer)
    cpus: dict[str, list[float]] = {n: [] for n in names}
    rows: dict[str, list[int]] = {n: [] for n in names}
    failures: list[str] = []
    records = []

    def one_pass(i: int) -> None:
        for name in order:
            try:
                dt, cpu, n = runner.run(name, sf_dir, f"{name}#{i}", repeat=i == 0)
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                log(f"{name} failed: {exc!r}"[:500])
                failures.append(name)
                continue
            cpus[name].append(cpu)
            rows[name].append(n)
            records.append({"query": name, "pass": i, "s": dt, "cpu_s": cpu, "rows": n})

    # A fixed pass count (``--seconds`` over the nominal pass time of the
    # reference host) keeps every run's statistic over the same calls.
    # The traced run makes half as many passes, to stay within the run's
    # time limit on a busy host.  It repeats each query in its first pass
    # only, and leaves the repeats out of its pass times and CPU, so its
    # figures can be set beside the untraced ones.
    n_passes = max(1, round(ctx["seconds"] / spec["pass_s"]))
    if tracer is not None:
        n_passes = (n_passes + 1) // 2
    passes = []
    for i in range(n_passes):
        t, mark = time.perf_counter(), host_mark()
        repeat_s, repeat_cpu = runner.repeat_s, runner.repeat_cpu_s
        one_pass(i)
        passes.append(host_since(mark, time.perf_counter() - t - (runner.repeat_s - repeat_s)))
        passes[-1]["cpu_s"] -= runner.repeat_cpu_s - repeat_cpu
    runner.close()
    # Per-layer values are per pass, so they do not depend on how many
    # passes fitted in the run.
    ctx["layers"].update({k: v / len(passes) for k, v in runner.layers.items()})
    ctx["layers"]["cache.repeat_s"] = runner.repeat_s

    # --- correctness: memoized oracle verdicts, row counts every run -----
    verdicts = oracle.verdicts(spark, sf_dir, names, WORK)
    wrong = 0
    for name in names:
        v = verdicts[name]
        for n in rows[name]:
            if not v["ok"] or n != v["rows"]:
                wrong += 1
                log(f"{name}: wrong output (rows {n}, expected {v['rows']}; {v['detail']})")
    ctx["provenance"]["corpus_digest"] = oracle.corpus_digest(sf_dir)
    ctx["records"] = records
    ctx["provenance"]["passes"] = passes
    # CPU, not wall time: host CPU steal stretches wall time by up to 2x
    # from run to run but is not charged to the process tree (see the
    # module docstring).  Medians over passes and over each query's calls.
    cpu = statistics.median(p["cpu_s"] for p in passes)
    per_query = [statistics.median(c) for c in cpus.values() if c]
    rows_per_pass = sum(verdicts[n]["rows"] for n in names)
    return {
        "attempted": len(order) * len(passes),
        "failed": len(failures) + wrong,
        "wall_s": min(p["s"] for p in passes),
        "cpu_s": cpu,
        "query_cpu_p50_s": statistics.median(per_query) if per_query else float("nan"),
        "records_per_cpu_s": rows_per_pass / cpu,
        "samples": sum(len(c) for c in cpus.values()),
        "passes": len(passes),
    }


# ---------------------------------------------------------------------------
# ETL workload
# ---------------------------------------------------------------------------


def etl_workload(ctx: dict, spec: dict) -> dict:
    import functools

    import fixture

    seed, n_records = ctx["seed"], ctx.get("n_records") or spec["records"]
    batch_size = spec["batch_size"]
    root = os.path.join(WORK, "etl")
    for stale in os.listdir(root) if os.path.isdir(root) else []:
        if not stale.startswith("api-"):
            shutil.rmtree(os.path.join(root, stale))
    fx = fixture.make_fixture(os.path.join(root, f"api-{n_records}"), seed, n_records)
    shutil.rmtree(os.path.join(fx.root, "posts"), ignore_errors=True)
    ctx["provenance"]["fixture"] = {"records": n_records, "missing": len(fx.missing)}

    t_setup = time.perf_counter()
    ctx["start_session"]()
    spark, tracer = ctx["spark"], ctx["tracer"]
    t = time.perf_counter()
    from project_fauna_spark.pipeline import run_pipeline, transform_details
    from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed
    from project_fauna_spark.sources.http import (
        RetryPolicy, fetch_details_df, paginated_ids_df,
    )
    from pyspark.sql import functions as F

    ctx["layers"]["session.import_s"] = time.perf_counter() - t
    spark.sparkContext.addPyFile(os.path.join(HERE, "fixture.py"))
    ctx["setup_s"] = time.perf_counter() - t_setup + ctx["fixed_setup_s"]

    policy = RetryPolicy(**ETL_POLICY)
    posts_dir = os.path.join(fx.root, "posts")
    wrong, expected_total = 0, 0

    def factory_for(tag: str | None):
        counters = None
        if tag is not None:
            counters = os.path.abspath(os.path.join(root, f"counters-{tag}"))
            os.makedirs(counters, exist_ok=True)
        return functools.partial(fixture.FaultyTransport, os.path.abspath(fx.root), seed, counters), counters

    def check(receipts) -> None:
        nonlocal wrong, expected_total
        n, bad = fixture.check_posts(fx, posts_dir, receipts, batch_size)
        expected_total += n
        wrong += bad
        shutil.rmtree(posts_dir, ignore_errors=True)

    measured, layers = [], ctx["layers"]

    def one_pass(i: int) -> None:
        from tracing import job_group

        factory, counters = factory_for("e2e" if tracer else None)
        job_group(spark, f"{spec['name']}/pipeline/build")
        mark = host_mark()
        t0 = time.perf_counter()
        receipts_df = run_pipeline(spark, factory, batch_size=batch_size, policy=policy)
        t_build = time.perf_counter() - t0
        t_plan = 0.0
        if tracer:
            tracer.new_sql_plans()
            job_group(spark, f"{spec['name']}/pipeline/plan")
            t = time.perf_counter()
            receipts_df._jdf.queryExecution().executedPlan()
            t_plan = time.perf_counter() - t
        job_group(spark, f"{spec['name']}/pipeline/execute")
        t = time.perf_counter()
        receipts = [r.asDict() for r in receipts_df.collect()]
        t_exec = time.perf_counter() - t
        wall = time.perf_counter() - t0
        ctx["provenance"]["passes"] = [host_since(mark, wall)]
        posted = sum(r["n_records"] for r in receipts)
        measured.append((wall, ctx["provenance"]["passes"][0]["cpu_s"], posted))
        check(receipts)
        if not tracer:
            return
        tracer.add("pipeline.build", "e2e", t0, t0 + t_build)
        tracer.add("pipeline.plan", "e2e", t0 + t_build, t0 + t_build + t_plan)
        tracer.add("pipeline.execute", "e2e", t0 + wall - t_exec, t0 + wall)
        plans = tracer.new_sql_plans()
        jobs = tracer.group_jobs(f"{spec['name']}/pipeline/execute")
        stages = tracer.stage_totals(jobs)
        c = fixture.sum_counters(counters)
        layers.update({
            "build.s": t_build, "build.jobs": len(tracer.group_jobs(f"{spec['name']}/pipeline/build")),
            "build.share": t_build / wall, "plan.s": t_plan, "plan.nodes": plans["nodes"],
            "plan.exchanges": plans["exchanges"], "plan.python_nodes": plans["python_nodes"],
            "python.bytes_sent": plans["py_sent"], "python.bytes_received": plans["py_recv"],
            "exec.s": t_exec, "exec.jobs": len(jobs),
            **{f"exec.{k}": v for k, v in stages.items()},
            "http.listing_gets": c.get("listing_gets", 0), "http.detail_gets": c.get("detail_gets", 0),
            "http.retries": c.get("retries", 0), "http.not_found": c.get("not_found", 0),
            "http.transport_s": c.get("get_s", 0.0),
            "http.useful_ratio": posted / max(1, c.get("detail_gets", 0)),
            "sink.posts": c.get("posts", 0), "sink.records": posted,
            "sink.bytes": c.get("post_bytes", 0),
            "sink.fill": posted / max(1, c.get("posts", 0) * batch_size),
            "sink.transport_s": c.get("post_s", 0.0),
        })
        staged(tracer)

    def staged(tr) -> None:
        """Split the pipeline at its layer boundaries, one materialized
        stage at a time, for the per-layer times."""
        from tracing import job_group

        factory, _ = factory_for("staged")
        kept = []

        def stage(name: str, df):
            job_group(spark, f"{spec['name']}/staged/{name}")
            with tr.span(name, "staged"):
                t = time.perf_counter()
                df = df.persist()
                n = df.count()
                kept.append(df)
                return df, n, time.perf_counter() - t

        ids, _, layers["http.ids_s"] = stage(
            "ids", paginated_ids_df(spark, factory, policy=policy))
        details, _, layers["http.details_s"] = stage(
            "details", fetch_details_df(ids, factory, policy=policy))
        out, n_rows, layers["functions.transform_s"] = stage(
            "transform", transform_details(details))
        layers["functions.rows_per_s"] = n_rows / layers["functions.transform_s"]
        job_group(spark, f"{spec['name']}/staged/sink")
        with tr.span("sink", "staged"):
            t = time.perf_counter()
            receipts = post_batches_globally_indexed(
                out.withColumn("friends", F.to_json("friends")), factory,
                order_col="id", batch_size=batch_size, policy=policy,
            ).collect()
            layers["sink.s"] = time.perf_counter() - t
        check([r.asDict() for r in receipts])
        for df in kept:
            df.unpersist()

    # One pipeline run in a fresh session, as ``cli.run`` makes it; a
    # second run in the same session would be warm and much faster.
    one_pass(0)
    (wall, cpu, posted), = measured
    return {
        "attempted": max(1, expected_total),
        "failed": wrong,
        "wall_s": wall,
        "cpu_s": cpu,
        "query_cpu_p50_s": cpu,
        "records_per_cpu_s": posted / cpu,
        "samples": 1,
        "passes": 1,
    }


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def run_workload(workload: str, seed: int, seconds: float, trace: bool, **overrides) -> dict:
    """Run one workload in this process; return the full result record."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import pyspark

    spec = next(w for w in WORKLOADS if w["name"] == workload)
    steal0, wall0 = _steal_ticks(), time.time()
    provenance = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
        "spark": pyspark.__version__, "python": platform.python_version(),
        "git_commit": _git_commit(),
    }
    ctx: dict = {"seed": seed, "seconds": seconds, "spark": None, "tracer": None,
                 "layers": {}, "provenance": provenance, "records": [], **overrides}

    # Time to import the engine's session module counts toward set-up.
    t = time.perf_counter()
    from project_fauna_spark.session import get_spark

    ctx["fixed_setup_s"] = time.perf_counter() - t

    def start_session() -> None:
        t = time.perf_counter()
        ctx["spark"] = get_spark(app_name=f"perfbench-{workload}")
        ctx["spark"].sparkContext.setLogLevel("ERROR")
        provenance["driver_memory"] = ctx["spark"].conf.get("spark.driver.memory", None)
        ctx["layers"]["session.start_s"] = time.perf_counter() - t
        if trace:
            from tracing import Tracer

            ctx["tracer"] = Tracer(ctx["spark"])

    ctx["start_session"] = start_session
    body = query_workload if spec["kind"] == "queries" else etl_workload
    # The RSS sampler polls /proc from a thread, so it runs only when
    # tracing; peak RSS moved too much between runs to be end-to-end.
    rss = RssSampler() if trace else contextlib.nullcontext()
    try:
        with rss:
            out = body(ctx, spec)
            if trace:
                ctx["layers"]["session.configure_ms"] = configure_ms(ctx["spark"])
    finally:
        if ctx["spark"] is not None:
            stop_session(ctx["spark"])
    provenance["steal_s"] = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    provenance["elapsed_s"] = time.time() - wall0

    if trace:
        layers = {k: ctx["layers"].get(k, 0.0) for k in PER_LAYER}
        total = layers["build.s"] + layers["plan.s"] + layers["exec.s"]
        if spec["kind"] == "queries":
            layers["build.share"] = layers["build.s"] / total if total else 0.0
        cores = os.cpu_count() or 1
        layers["exec.utilization"] = (
            layers["exec.task_run_s"] / (layers["exec.s"] * cores) if layers["exec.s"] else 0.0
        )
        layers["query.cpu_p50_s"] = out["query_cpu_p50_s"]
        layers["trace.wall_s"] = out["wall_s"]
        layers["trace.cpu_s"] = out["cpu_s"]
        layers["trace.overhead_s"] = ctx["tracer"].overhead_s / out["passes"]
        layers["rss.peak_mb"] = rss.peak_kb / 1024
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        values = {"setup_s": ctx["setup_s"], **out}
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in E2E.items()}
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    sidecar = {
        "result": result, "provenance": provenance, "samples": out["samples"],
        "error_frac": out["failed"] / out["attempted"], "calls": ctx["records"],
        "setup_s": ctx.get("setup_s"),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")
    if trace:
        ctx["tracer"].write(path, sidecar)
    else:
        with open(path, "w") as f:
            json.dump(sidecar, f)
    log(f"provenance {json.dumps(provenance)}")
    log(f"error_frac={sidecar['error_frac']:.6f} samples={out['samples']} sidecar={path}")
    return result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in WORKLOADS])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "project_fauna_spark")):
        log("project_fauna_spark is not in this checkout; nothing to measure")
        return 2
    configure_env()
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
