"""Spans and per-layer probes, all from outside the engine's package.

- ``Tracer`` keeps spans (id, parent, name, start, end, attributes) in
  memory; ``self_times`` derives each span name's self time (duration
  minus the time its child spans cover).
- ``stage_profile`` reads Spark's own status store for the jobs of one
  job group: jobs, stages, tasks, executor run time, GC, shuffle bytes,
  fetch wait, spill, input bytes, and the wall time no stage was running.
- ``plan_profile`` walks an executed physical plan (through adaptive
  query stages and into cached relations) and sums the SQL metrics of
  scans, broadcasts, Python/Arrow nodes and in-memory scans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


class StatusStore:
    """Reads ``AppStatusStore`` records as JSON through the JVM's own
    Jackson mapper (one py4j call per job or stage)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the stages of the job that just returned."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages_for_group(self, group: str) -> tuple[list[dict], list[dict]]:
        self.drain()
        jobs = [self._json(self._store.job(j)) for j in self.job_ids(group)]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for attempt in self._json(
                self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            ):
                stages.append(attempt)
        return jobs, stages

    def cached_bytes(self) -> int:
        """Bytes the persisted RDDs hold in memory and on disk."""
        return sum(int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo())


def _epoch_s(v) -> float | None:
    """A status-store date (epoch milliseconds) in seconds."""
    return v / 1000.0 if isinstance(v, (int, float)) else None


def stage_profile(jobs: list[dict], stages: list[dict], t0: float, t1: float) -> dict:
    """Aggregate status-store records of one op executed in the wall
    interval [t0, t1] (epoch seconds)."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    intervals = sorted(
        (max(t0, a), min(t1, b))
        for s in ran
        if (a := _epoch_s(s.get("submissionTime"))) is not None
        and (b := _epoch_s(s.get("completionTime"))) is not None
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a

    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in ran))

    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": total("numCompleteTasks") + total("numFailedTasks"),
        "spark.task_run_s": total("executorRunTime") / 1000.0,
        "spark.no_stage_s": max(0.0, (t1 - t0) - covered),
        "spark.gc_s": total("jvmGcTime") / 1000.0,
        "spark.failed_tasks": total("numFailedTasks"),
        "tables.input_bytes": total("inputBytes"),
        "operators.shuffle.write_bytes": total("shuffleWriteBytes"),
        "operators.shuffle.read_bytes": total("shuffleReadBytes"),
        "operators.shuffle.fetch_wait_s": total("shuffleFetchWaitTime") / 1000.0,
        "operators.shuffle.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


def _metric_map(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _children(node) -> list:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    ch = node.children()
    out = [ch.apply(i) for i in range(ch.size())]
    if name.endswith("QueryStage"):
        out.append(node.plan())
    return out


def walk_plan(jvm, executed_plan, seen: set[int]):
    """Yield (node name, SQL metrics, inside a cached relation) for every
    node of an executed plan, descending into each cached relation's plan
    once; ``seen`` collects the cached relations met."""
    stack = [(executed_plan, False)]
    while stack:
        node, cached = stack.pop()
        name = node.nodeName()
        yield name, _metric_map(node), cached
        if name == "InMemoryTableScan":
            rel = jvm.System.identityHashCode(node.relation().cacheBuilder())
            if rel not in seen:
                seen.add(rel)
                stack.append((node.relation().cachedPlan(), True))
        stack.extend((child, cached) for child in _children(node))


def plan_profile(jvm, executed_plan) -> dict:
    """Sum the SQL metrics of an executed plan and its cached relations."""
    prof = defaultdict(float)
    seen: set[int] = set()
    for name, m, _ in walk_plan(jvm, executed_plan, seen):
        if "pythonDataSent" in m:
            prof["operators.python.nodes"] += 1
            prof["operators.python.bytes_sent"] += m.get("pythonDataSent", 0)
            prof["operators.python.bytes_received"] += m.get("pythonDataReceived", 0)
            prof["operators.python.rows_received"] += m.get("pythonNumRowsReceived", 0)
        if name == "BroadcastExchange":
            prof["operators.broadcast.count"] += 1
            prof["operators.broadcast.bytes"] += m.get("dataSize", 0)
            prof["operators.broadcast.collect_s"] += m.get("collectTime", 0) / 1000.0
            prof["operators.broadcast.build_s"] += m.get("buildTime", 0) / 1000.0
        if "numFiles" in m:
            prof["tables.files_read"] += m.get("numFiles", 0)
            prof["tables.scan_bytes"] += m.get("filesSize", 0)
            prof["tables.scan_s"] += m.get("scanTime", 0) / 1000.0
        if name == "InMemoryTableScan":
            prof["operators.cache.scans"] += 1
    prof["operators.cache.persisted"] = float(len(seen))
    return dict(prof)
