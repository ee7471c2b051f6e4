"""Per-layer tracing, measured from outside the program.

The tracer times calls into the layers' public functions and reads Spark's
own counters; it changes nothing inside the package:

- ``session.load_table`` is wrapped before the operator modules import it;
- every request runs under its own Spark job group, and after the timed
  window the status store's job and stage data are joined back onto the
  requests. Jobs started from a stream's execution thread carry no group;
  they go to the request that was running when they were submitted;
- a ``StreamingQueryListener`` sums the micro-batch durations;
- the JVM's garbage-collector beans give the collection time.

Per-layer figures are per call of that layer, so runs that complete a
different number of calls stay comparable.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Request:
    key: str
    layer: str
    group: str
    start: float = 0.0  # wall clock, seconds
    end: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = True
    load_table_calls: int = 0
    load_table_s: float = 0.0
    # CPU seconds used while the request ran, by process.
    cpu_driver_s: float = 0.0
    cpu_jvm_s: float = 0.0
    cpu_workers_s: float = 0.0

    @property
    def cpu_s(self) -> float:
        return self.cpu_driver_s + self.cpu_jvm_s + self.cpu_workers_s


@dataclass
class _StreamTotals:
    batches: int = 0
    trigger_ms: float = 0.0
    planning_ms: float = 0.0
    add_batch_ms: float = 0.0
    commit_ms: float = 0.0
    state_rows: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)


class _StreamProbe(StreamingQueryListener):
    def __init__(self, totals: _StreamTotals) -> None:
        self.totals = totals

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        with self.totals.lock:
            t = self.totals
            t.batches += 1
            t.trigger_ms += d.get("triggerExecution", 0)
            t.planning_ms += d.get("queryPlanning", 0)
            t.add_batch_ms += d.get("addBatch", 0)
            t.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            t.state_rows += sum(op.numRowsUpdated for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects per-layer figures for one traced run."""

    def __init__(self) -> None:
        self._local = threading.local()
        self.overhead_s = 0.0
        self._overhead_lock = threading.Lock()
        self.stream = _StreamTotals()
        self._gc_start_ms = 0
        self._window_start = 0.0

    # -- hooks installed before the program is imported -------------------

    def wrap_load_table(self) -> None:
        """Time ``session.load_table``; must run before the operator modules
        bind it with ``from ... import load_table``."""
        from presto_weather_spark import session

        original = session.load_table
        local = self._local

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                req = getattr(local, "request", None)
                if req is not None:
                    req.load_table_calls += 1
                    req.load_table_s += time.perf_counter() - t0

        session.load_table = load_table

    def start_window(self, spark) -> None:
        spark.streams.addListener(_StreamProbe(self.stream))
        self._gc_start_ms = _gc_ms(spark)
        self._window_start = time.time()

    # -- per request --------------------------------------------------------

    def begin(self, spark, req: Request) -> None:
        t0 = time.perf_counter()
        self._local.request = req
        spark.sparkContext.setJobGroup(req.group, req.key)
        self._add_overhead(time.perf_counter() - t0)

    def end(self, spark) -> None:
        t0 = time.perf_counter()
        self._local.request = None
        spark.sparkContext._jsc.clearJobGroup()
        self._add_overhead(time.perf_counter() - t0)

    def _add_overhead(self, dt: float) -> None:
        with self._overhead_lock:
            self.overhead_s += dt

    # -- after the window ----------------------------------------------------

    def layer_metrics(self, spark, requests: list[Request], layers) -> dict[str, float]:
        """Per-layer figures for the requests of the timed window."""
        # Deliver every queued job, stage and stream event first.
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        gc_s = (_gc_ms(spark) - self._gc_start_ms) / 1000.0
        jobs, stages = _status(spark)
        by_group = {r.group: r for r in requests}
        ordered = sorted(requests, key=lambda r: r.start)

        def owner(job) -> Request | None:
            req = by_group.get(job.get("jobGroup"))
            if req is not None:
                return req
            t = job.get("submissionTime", 0) / 1000.0
            for r in ordered:
                if r.start <= t <= r.end:
                    return r
            return None

        stage_run_ms: dict[int, float] = defaultdict(float)
        stage_shuffle: dict[int, float] = defaultdict(float)
        for s in stages:
            stage_run_ms[s["stageId"]] += s.get("executorRunTime", 0)
            stage_shuffle[s["stageId"]] += s.get("shuffleWriteBytes", 0)

        per = {name: defaultdict(float) for name in layers}
        seen_stages: set[int] = set()
        for job in jobs:
            if job.get("submissionTime", 0) / 1000.0 < self._window_start:
                continue
            req = owner(job)
            if req is None:
                continue
            acc = per.setdefault(req.layer, defaultdict(float))
            acc["jobs"] += 1
            acc["tasks"] += job.get("numTasks", 0) - job.get("numSkippedTasks", 0)
            for sid in job.get("stageIds", ()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                acc["task_run_ms"] += stage_run_ms.get(sid, 0.0)
                acc["shuffle_bytes"] += stage_shuffle.get(sid, 0.0)
        for r in requests:
            acc = per.setdefault(r.layer, defaultdict(float))
            acc["calls"] += 1
            acc["plan_s"] += r.plan_s
            acc["exec_s"] += r.exec_s
            acc["cpu_s"] += r.cpu_s

        out: dict[str, float] = {}
        n_req = max(len(requests), 1)
        for layer, acc in per.items():
            calls = acc["calls"]
            div = max(calls, 1)
            out[f"{layer}.calls"] = calls
            out[f"{layer}.plan_s"] = acc["plan_s"] / div
            out[f"{layer}.exec_s"] = acc["exec_s"] / div
            out[f"{layer}.cpu_s"] = acc["cpu_s"] / div
            out[f"{layer}.jobs"] = acc["jobs"] / div
            out[f"{layer}.tasks"] = acc["tasks"] / div
            out[f"{layer}.task_run_s"] = acc["task_run_ms"] / 1000.0 / div
            out[f"{layer}.shuffle_write_mb"] = acc["shuffle_bytes"] / 1e6 / div
        out["session.load_table_calls"] = sum(r.load_table_calls for r in requests) / n_req
        out["session.load_table_s"] = sum(r.load_table_s for r in requests) / n_req
        with self.stream.lock:
            st = self.stream
            out["streaming.batches"] = st.batches / n_req
            out["streaming.trigger_s"] = st.trigger_ms / 1000.0 / n_req
            out["streaming.planning_s"] = st.planning_ms / 1000.0 / n_req
            out["streaming.add_batch_s"] = st.add_batch_ms / 1000.0 / n_req
            out["streaming.commit_s"] = st.commit_ms / 1000.0 / n_req
            out["streaming.state_rows"] = st.state_rows / n_req
        out["spark.gc_s"] = gc_s / n_req
        out["spark.jvm_cpu_s"] = sum(r.cpu_jvm_s for r in requests) / n_req
        out["spark.python_workers_cpu_s"] = sum(r.cpu_workers_s for r in requests) / n_req
        out["spark.python_driver_cpu_s"] = sum(r.cpu_driver_s for r in requests) / n_req
        out["spark.persisted_mb"] = _persisted_mb(spark)
        out["trace.overhead_s"] = self.overhead_s / n_req
        return out


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def _persisted_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs (the program's caches and
    local checkpoints), read without releasing any of it."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _status(spark) -> tuple[list[dict], list[dict]]:
    """All retained jobs and stage attempts, as the REST API would list them."""
    jvm = spark._jvm
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        )
    )
    return jobs, stages
