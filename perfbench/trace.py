"""In-memory spans around the benchmark's calls into the engine.

A span records its name, start, end, parent span and run id. A leaf
span (the default) is one call into a layer: it runs under its own
Spark job group, is preceded by the cache guard, and on exit gathers
the process-tree CPU it cost plus the task metrics (status store) and
plan-node SQL metrics of what it ran. Spans are written out once, when
the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

import host
import sparkstats


class CacheTrap(Exception):
    """Something is persisted before a pass or a traced call: the
    measurement could silently reuse an earlier result."""


def guard(spark) -> None:
    cached, rdds = sparkstats.cache_state(spark)
    if cached or rdds:
        raise CacheTrap(f"cache manager holds {'a plan' if cached else 'nothing'}"
                        f", {rdds} persisted RDD(s) remain")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def _open(self, name: str) -> dict:
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time()}
        self._stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()
        self.spans.append(rec)

    @contextmanager
    def group(self, name: str):
        """A span that only groups child spans."""
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def span(self, name: str):
        """One traced call into a layer."""
        guard(self.spark)
        sc = self.spark.sparkContext
        since = sparkstats.execution_count(self.spark)
        cpu0 = host.tree_cpu_s()
        rec = self._open(name)
        job_group = f"trace-{self.run_id}-{rec['id']}"
        sc.setJobGroup(job_group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            self._close(rec)
            sc.setLocalProperty("spark.jobGroup.id", None)
        sparkstats.drain_listener(self.spark)
        m = sparkstats.group_metrics(self.spark, job_group)
        rec.update(gc_s=m["gc_s"], shuffle_mb=m["shuffle_write_mb"],
                   spill_mb=m["spill_mb"], failed_tasks=m["failed_tasks"],
                   task_skew=m["task_skew"], tasks=m["tasks"])
        rec["nodes"] = sparkstats.sql_nodes(self.spark, since)

    @contextmanager
    def untimed(self):
        """Staging work between traced calls (e.g. writing a layer's
        input to parquet); it is in no span and no metric."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"trace-{self.run_id}-untimed", "untimed")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        """Spans with their self time (duration minus the part of it
        covered by child spans) as JSON."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            rec = {k: v for k, v in s.items() if k != "nodes"}
            rec["self_s"] = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
