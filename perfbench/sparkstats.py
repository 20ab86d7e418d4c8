"""Readers over Spark's own status stores, reached through py4j.

- ``group_metrics``: the per-stage task metrics of every job started
  under one job group (run and CPU time, GC, shuffle, spill, failed
  attempts, task-duration skew).
- ``sql_nodes``: the plan nodes, with their SQL metrics, of every
  query execution started after a marker (e.g. the ``MapInArrow``
  bytes sent to and received from Python workers, a join's output
  rows).
- ``heap_committed_mb``, ``peak_unified_mb``, ``jvm_gc_s``: the driver
  JVM's committed heap, the peak on-heap memory Spark's memory manager
  held, and the JVM's collection time.
- ``cache_state``: what Spark's cache manager and persisted-RDD table
  hold, for the guard that keeps a pass from silently reusing data an
  earlier pass persisted.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
         "TiB": 2.0 ** 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
           "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number: sizes in bytes,
    times in seconds, counts as they are. Aggregated metrics read
    "total (min, med, max ...)\\n<total> (<min>, ...)"; the total is
    taken."""
    text = text.rsplit("\n", 1)[-1]
    m = _VALUE_RE.match(text)
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value


def _jvm(spark):
    sc = spark.sparkContext
    return sc, sc._jvm, sc._gateway


def drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event posted so
    far, so the status stores reflect the actions that have returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_metrics(spark, group: str) -> dict:
    """Task metrics summed over every stage attempt of the jobs run
    under job group ``group``."""
    sc, jvm, gw = _jvm(spark)
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(job_id).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = {"run_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "tasks": 0,
           "failed_tasks": 0, "task_skew": 1.0}
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    heaviest = -1.0
    for sid in sorted(stage_ids):
        try:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, gw.new_array(jvm.double, 0))
        except Py4JJavaError:  # a skipped stage was never submitted
            continue
        for i in range(attempts.size()):
            s = attempts.apply(i)
            run_ms = s.executorRunTime()
            out["run_s"] += run_ms / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2 ** 20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2 ** 20
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / 2 ** 20
            out["tasks"] += (s.numCompleteTasks() + s.numFailedTasks()
                             + s.numKilledTasks())
            out["failed_tasks"] += s.numFailedTasks()
            # skew is read on the stage that ran longest: the one that
            # sets the call's time
            if run_ms > heaviest and s.numTasks() >= 2:
                summary = store.taskSummary(sid, s.attemptId(), quantiles)
                if summary.isDefined():
                    dur = summary.get().duration()
                    med, top = dur.apply(0), dur.apply(1)
                    out["task_skew"] = top / med if med > 0 else 1.0
                    heaviest = run_ms
    return out


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the driver JVM
    since it started (its GarbageCollectorMXBeans)."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(0, beans.get(i).getCollectionTime())
               for i in range(beans.size())) / 1e3


def heap_committed_mb(spark) -> float:
    """Heap the driver JVM has committed (its MemoryMXBean)."""
    usage = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getMemoryMXBean().getHeapMemoryUsage())
    return usage.getCommitted() / 2 ** 20


def peak_unified_mb(spark) -> float:
    """Peak on-heap memory held by Spark's memory manager (execution:
    sort, aggregation and join buffers; storage: broadcast and cached
    blocks) over the session, from the executor peak metrics. Call
    after ``drain_listener``."""
    sc = spark.sparkContext
    execs = sc._jsc.sc().statusStore().executorList(True)
    peak = 0
    for i in range(execs.size()):
        metrics = execs.apply(i).peakMemoryMetrics()
        if metrics.isDefined():
            peak += metrics.get().getMetricValue("OnHeapUnifiedMemory")
    return peak / 2 ** 20


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_nodes(spark, since: int) -> list[dict]:
    """Plan nodes of the query executions numbered ``since`` and later,
    each as ``{"name", "metrics": {metric: value}, "inputs": [node]}``
    where ``inputs`` are the nodes feeding it."""
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = sq.executionsList(since, 1 << 20)
    out: list[dict] = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = sq.executionMetrics(eid)
        graph = sq.planGraph(eid)
        nodes = graph.allNodes()
        by_id = {}
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = {}
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            by_id[node.id()] = {"name": node.name().strip(),
                                "metrics": metrics, "inputs": []}
        edges = graph.edges()
        for e in range(edges.size()):
            edge = edges.apply(e)
            src, dst = by_id.get(edge.fromId()), by_id.get(edge.toId())
            if src is not None and dst is not None:
                dst["inputs"].append(src)
        out.extend(by_id.values())
    return out


def metric_sum(nodes: list[dict], node_name: str, metric: str) -> float:
    """``metric`` summed over the nodes whose name starts with
    ``node_name``."""
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if n["name"].startswith(node_name))


def cache_state(spark) -> tuple[int, int]:
    """(cached plans in the cache manager, persisted RDDs)."""
    manager = spark._jsparkSession.sharedState().cacheManager()
    cached = 0 if manager.isEmpty() else 1
    return cached, spark.sparkContext._jsc.getPersistentRDDs().size()


def job_task_counts(spark, group: str) -> tuple[int, int]:
    """(task attempts, failed task attempts) of the jobs in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    attempts = failed = 0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(job_id)
        attempts += (j.numCompletedTasks() + j.numFailedTasks()
                     + j.numKilledTasks())
        failed += j.numFailedTasks()
    return attempts, failed
