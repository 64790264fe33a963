"""Tracing and telemetry, all from outside the engine.

* ``Tracer`` keeps spans in memory (name, start, end, parent, round id) and
  hands them out once at exit.
* ``SparkProbe`` reads what Spark already records for one call: job,
  stage and task counts from the status tracker (one job group per call),
  Catalyst phase times from ``queryExecution().tracker()``, and the SQL
  metrics of the final (AQE) plan of every SQL execution the call ran, as
  the SQL status store records them.
* host and process telemetry: load average, a single-thread numpy canary,
  CPU seconds and peak RSS of the process tree, JVM GC time.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "round": self.round_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, round_id: str | None = None) -> dict:
        """Per-layer self time: span duration minus its children's."""
        spans = [s for s in self.spans
                 if round_id is None or s["round"] == round_id]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            layer = s["name"].split(":")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


# ---------------------------------------------------------------- Spark side

JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
# Python-boundary nodes: scalar UDF batches (functions.st) and
# map-in-pandas stages (functions.raster tiling)
PY_NODES = {"ArrowEvalPython": "st", "BatchEvalPython": "st",
            "MapInPandas": "raster", "PythonMapInArrow": "raster",
            "MapInArrow": "raster"}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60000, "h": 3600000}


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it: ``13,940``, ``8 ms``,
    ``236.0 B``, or ``total (min, med, max ...)\n5.9 MiB (...)``. Sizes
    come back in bytes and durations in ms; row counts are exact, sizes and
    durations keep the store's three significant digits."""
    if not text:
        return 0.0
    if "\n" in text:  # "<header>\n<total> (<min>, <med>, <max> ...)"
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


def _seq(s) -> list:
    out = []
    it = s.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class SparkProbe:
    """Per-call counts from Spark's own bookkeeping. Every call runs under
    its own job group; afterwards the status tracker gives its jobs and
    tasks, and the SQL status store gives the final (AQE) plan graph and
    metrics of every SQL execution the call started, including the jobs
    an operator runs while it builds its DataFrame."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.bus.waitUntilEmpty(30000)
        # executions before the first traced call are never scanned again
        self.seen = max([e.executionId() for e in _seq(self.store.executionsList())],
                        default=-1)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, jdf=None) -> dict:
        self.bus.waitUntilEmpty(30000)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        acc = dict(job_counts(self.sc, group))
        for k in ("cover_rows", "candidates", "shuffle_bytes", "spill_bytes",
                  "st.py_rows", "st.py_bytes_sent", "st.py_total_ms", "st.py_init_ms",
                  "raster.tiles", "raster.py_bytes_sent", "raster.py_total_ms",
                  "raster.py_init_ms"):
            acc[k] = 0.0
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        for e in _seq(self.store.executionsList()):
            eid = e.executionId()
            if eid > self.seen and jobs & set(_seq(e.jobs().keys())):
                self._add_execution(eid, acc)
        if jdf is not None:
            phases = {k: v.durationMs()
                      for k, v in _scala_map(jdf.queryExecution().tracker().phases()).items()}
            for ph in ("analysis", "optimization", "planning"):
                acc[f"plan.{ph}_ms"] = float(phases.get(ph, 0))
        return acc

    def _add_execution(self, eid: int, acc: dict) -> None:
        vals = self.store.executionMetrics(eid)
        graph = self.store.planGraph(eid)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        feeds_generate = {e.fromId() for e in _seq(graph.edges())
                          if e.toId() in nodes and nodes[e.toId()].name() == "Generate"}
        for nid, node in nodes.items():
            m = {}
            for sm in _seq(node.metrics()):
                v = vals.get(sm.accumulatorId())
                m[sm.name()] = parse_metric(v.get() if v.isDefined() else None)
            name = node.name()
            rows = m.get("number of output rows", 0.0)
            if name == "Generate" and nid not in feeds_generate:
                acc["cover_rows"] += rows
            if name in JOIN_NODES:
                acc["candidates"] += rows
            acc["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
            acc["spill_bytes"] += m.get("spill size", 0.0)
            layer = PY_NODES.get(name)
            if layer:
                acc["st.py_rows" if layer == "st" else "raster.tiles"] += rows
                acc[f"{layer}.py_bytes_sent"] += m.get("data sent to Python workers", 0.0)
                acc[f"{layer}.py_total_ms"] += m.get("time to run Python workers", 0.0)
                acc[f"{layer}.py_init_ms"] += m.get("time to initialize Python workers", 0.0)


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            stages += 1
            tasks += si.numTasks if si is not None else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ------------------------------------------------------------ host / process


def canary_s() -> float:
    """Single-thread numpy canary: 40 multiply-sums over 1M doubles."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64)
    acc = float((a * 1.0000001).sum())
    t0 = time.perf_counter()
    for _ in range(40):
        acc += float((a * 1.0000001).sum())
    assert acc > 0
    return time.perf_counter() - t0


def host_sample() -> dict:
    return {"load1": os.getloadavg()[0], "canary_s": canary_s(), "steal_s": steal_s()}


def steal_s() -> float:
    """Seconds the hypervisor ran other guests on this machine's CPUs
    since boot, summed over CPUs (the ``steal`` column of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _ppid_map() -> dict:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _ppid_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of this process and all descendants,
    with those of descendants that ended and were waited for. Time the
    hypervisor gave to other guests (steal) is not in it."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15]) / tck
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_peak_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
