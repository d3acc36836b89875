"""Tracing for the benchmark's traced runs, all from outside the engine.

* `Tracer` keeps spans (name, start, end, parent) in memory; the run
  writes them out when it ends.
* `PlanListener` is a JVM QueryExecutionListener (through the py4j
  callback server) that hands back the QueryExecution of every SQL
  execution, so the benchmark can walk the AQE-final plan of the noop
  write and of every action a builder runs.
* `plan_metrics` sums the SQL metrics of such a plan into the layer
  counters; `planning_s` reads how long one execution spent optimizing
  and planning; `stage_metrics` sums the task metrics of a set of jobs
  from Spark's status store.
* `tree_peak_rss_mb` reads the peak RSS of a process tree from /proc.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

class Tracer:
    """In-memory spans. `span` nests: a span opened inside another
    records it as its parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called `name` recorded at
        index `since` or later."""
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name)


class PlanListener:
    """Collects the QueryExecution of each finished SQL execution."""

    def __init__(self) -> None:
        self.executions: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        self.executions.append(qe)

    def take(self, sc) -> list:
        """Wait for the listener bus to deliver pending events, then
        return and forget the executions seen so far."""
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        out, self.executions = self.executions, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def plan_listener(spark) -> PlanListener:
    """A PlanListener registered with the session. It stays registered:
    unregistering a py4j proxy does not match the registered one, so a
    second registration would deliver every event twice."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _walk(node, acc: defaultdict) -> None:
    """Visit every node of an executed plan once: AQE wrappers are
    followed to their final plan, query stages into their plan, and
    reused exchanges are skipped so shared work counts once."""
    name = node.nodeName()
    if name.startswith("ReusedExchange"):
        return
    if name.startswith("AdaptiveSparkPlan"):
        _walk(node.executedPlan(), acc)
        return
    if name.endswith("QueryStage"):
        _walk(node.plan(), acc)
        return
    m = _node_metrics(node)
    if name.startswith("Scan "):
        acc["catalog.scan_ms"] += m.get("scanTime", 0)
        acc["catalog.bytes_read"] += m.get("filesSize", 0)
        acc["catalog.rows_scanned"] += m.get("numOutputRows", 0)
    elif name.startswith("BatchScan"):
        acc["sources.rows_read"] += m.get("numOutputRows", 0)
        acc["sources.python_bytes_in"] += m.get("pythonDataReceived", 0)
    elif "pythonDataSent" in m:
        acc["functions.python_ms"] += m.get("pythonTotalTime", 0)
        acc["functions.python_init_ms"] += (m.get("pythonBootTime", 0)
                                            + m.get("pythonInitTime", 0))
        acc["functions.python_bytes_out"] += m.get("pythonDataSent", 0)
        acc["functions.python_bytes_in"] += m.get("pythonDataReceived", 0)
        acc["functions.python_rows"] += m.get("pythonNumRowsReceived", 0)
    if name == "Exchange" and "shuffleBytesWritten" in m:
        acc["operators.exchanges"] += 1
        acc["operators.shuffle_bytes"] += m["shuffleBytesWritten"]
        acc["operators.shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        acc["operators.shuffle_write_ms"] += m.get("shuffleWriteTime", 0) / 1e6
    if name == "BroadcastExchange":
        acc["operators.broadcast_bytes"] += m.get("dataSize", 0)
        acc["operators.broadcast_collect_ms"] += m.get("collectTime", 0)
        acc["operators.broadcast_build_ms"] += m.get("buildTime", 0)
    acc["operators.codegen_ms"] += m.get("pipelineTime", 0)
    acc["operators.agg_ms"] += m.get("aggTime", 0)
    acc["operators.peak_mem_bytes"] += m.get("peakMemory", 0)
    acc["operators.spill_bytes"] += m.get("spillSize", 0)
    for child in (node.children(), node.subqueries()):
        it = child.iterator()
        while it.hasNext():
            _walk(it.next(), acc)


def plan_metrics(executions: list) -> dict[str, float]:
    acc: defaultdict = defaultdict(float)
    for qe in executions:
        _walk(qe.executedPlan(), acc)
    return dict(acc)


def planning_s(qe) -> float:
    """Seconds `qe` spent in logical optimization and physical planning,
    from Spark's own QueryPlanningTracker (millisecond resolution)."""
    phases = qe.tracker().phases()
    total_ms = 0
    for phase in ("optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total_ms += summary.get().durationMs()
    return total_ms / 1e3


def stage_metrics(sc, job_groups: list[str]) -> dict[str, float]:
    """Task metrics of every stage that ran for the jobs of
    `job_groups`, plus the job count of each group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    acc: defaultdict = defaultdict(float)
    stages = set()
    for group in job_groups:
        jobs = tracker.getJobIdsForGroup(group)
        acc[f"jobs.{group}"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            stages.update(info.stageIds if info else ())
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        acc["operators.stages"] += 1
        acc["operators.tasks"] += sd.numCompleteTasks()
        acc["operators.failed_tasks"] += sd.numFailedTasks()
        acc["operators.task_busy_s"] += sd.executorRunTime() / 1e3
        acc["operators.task_cpu_s"] += sd.executorCpuTime() / 1e9
        acc["operators.gc_s"] += sd.jvmGcTime() / 1e3
    return dict(acc)


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over `root_pid` and its live descendants."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
