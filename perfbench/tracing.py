"""Spans, Spark job groups and status-store readers for the traced run.

Everything here is called from the benchmark's own files, around the
calls it makes into the engine's public functions; the engine itself
is not instrumented.  The untraced run uses only :func:`job_group`.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_EXCHANGES = {"Exchange", "BroadcastExchange", "ShuffleExchange"}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def job_group(spark: SparkSession, group: str) -> None:
    """Tag every job the calling thread launches from now on."""
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel=False)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


class Tracer:
    """In-memory spans plus readers of Spark's two status stores.

    Spans carry a name, start and end (seconds since the tracer was
    made), the id of the span that caused them and a per-query or
    per-run id.  ``overhead_s`` accumulates the time spent reading the
    status stores, so the traced run can report its own cost.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql_seen = self._max_execution_id()

    @contextmanager
    def span(self, name: str, run_id: str, parent: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": run_id, "parent": parent,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter() - self.t0

    def add(self, name: str, run_id: str, start: float, end: float) -> None:
        """Record a finished span from two ``perf_counter`` readings."""
        self.spans.append({"id": len(self.spans), "name": name, "run_id": run_id,
                           "parent": None, "start": start - self.t0, "end": end - self.t0})

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        t = time.perf_counter()
        self._drain()
        ids = list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.overhead_s += time.perf_counter() - t
        return ids

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the last attempt of every stage the jobs ran."""
        t = time.perf_counter()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(_seq(store.job(jid).stageIds()))
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if str(sd.status().toString()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self.overhead_s += time.perf_counter() - t
        return out

    def _max_execution_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def new_sql_plans(self) -> dict[str, float]:
        """Walk the executed plan graph of every SQL execution since the
        last call: node, Exchange and Python-node counts, and the bytes
        the Python nodes' SQL metrics say crossed to and from workers."""
        t = time.perf_counter()
        self._drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = dict.fromkeys(("nodes", "exchanges", "python_nodes", "py_sent", "py_recv"), 0.0)
        i = execs.size() - 1
        newest = self._sql_seen
        while i >= 0:
            eid = execs.apply(i).executionId()
            if eid <= self._sql_seen:
                break
            newest = max(newest, eid)
            values = store.executionMetrics(eid)
            for node in _seq(store.planGraph(eid).allNodes()):
                name = node.name()
                out["nodes"] += 1
                out["exchanges"] += name in _EXCHANGES
                if not _is_python_node(name):
                    continue
                out["python_nodes"] += 1
                for m in _seq(node.metrics()):
                    key = {_PY_SENT: "py_sent", _PY_RECV: "py_recv"}.get(m.name())
                    val = values.get(m.accumulatorId())
                    if key and val.isDefined():
                        hit = _SIZE.search(val.get())
                        if hit:
                            out[key] += float(hit.group(1)) * _UNITS[hit.group(2)]
            i -= 1
        self._sql_seen = newest
        self.overhead_s += time.perf_counter() - t
        return out

    def pin_bytes(self) -> int:
        """Bytes held by persisted RDDs (memory plus disk) right now."""
        t = time.perf_counter()
        total = sum(
            info.memSize() + info.diskSize() for info in self._jsc.getRDDStorageInfo()
        )
        self.overhead_s += time.perf_counter() - t
        return total

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)
