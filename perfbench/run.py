#!/usr/bin/env python3
"""fagi_spark benchmark: seeded workloads on local[4], closed loop.

    python3 perfbench/run.py --workload geocode_conflate --seed 42 \\
        --seconds 10 --trace 0

Run from the repository root. One client drives one Spark session; the
next pass starts only when the previous one has finished. Inputs are
generated from ``--seed`` and written to parquet under
``.perfbench_data/`` before the session starts. Every pass's outputs are
checked (``workloads.py``); a pass that raises, fails its check or finds
something persisted before it starts counts as failed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and writes the spans to ``.perfbench_out/``). The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

``--smoke`` runs the same code on ~2k-row inputs; ``smoke.py`` runs
every workload in both modes and checks the metrics. ``expected.json``
is checked-in data: the outputs' counts and digest for the seeds it
names, which the output check compares against.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA_DIR = os.path.join(ROOT, ".perfbench_data")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4
MIN_PASSES = 2
DRIVER_MEMORY = "2g"
UNTRACED_IN_TRACE = 2   # untraced passes a traced run times for its base

import host  # noqa: E402  (stdlib-only; safe before the repo is found)

with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
# every metric's unit, as BENCHMARK.json lists it
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def start_session(conf: dict):
    """local[4] session whose scratch space stays inside the checkout."""
    tmp = os.path.join(DATA_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(DATA_DIR, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import fagi_spark from the checkout and the
    # benchmark's own modules from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    from fagi_spark.session import get_spark
    spark = get_spark(
        "perfbench", master=f"local[{CORES}]",
        **{"spark.sql.files.maxPartitionBytes": "16m",
           "spark.sql.files.openCostInBytes": "1m",
           "spark.ui.showConsoleProgress": "false",
           # a fixed, pre-touched heap is resident whole from the start,
           # so peak_rss_mb can subtract it exactly; how much of it the
           # engine holds is read from Spark's memory manager instead,
           # whose peaks the executor polls at this interval
           "spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
               f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
           "spark.executor.metrics.pollingInterval": "10ms",
           **conf})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and the Python workers below it,
    and wait until every one of them has exited."""
    from pyspark import SparkContext
    pids = host.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # workers orphaned by the JVM are no longer our descendants: wait on
    # the pids taken before the stop
    deadline = time.monotonic() + 15
    while alive := [p for p in pids if host.alive(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def log(*parts) -> None:
    print(*parts, flush=True)


class Run:
    """One invocation: inputs, session, warm-up, then timed passes or
    traced rounds."""

    def __init__(self, args):
        self.args = args
        import workloads  # pulls in pyspark and fagi_spark
        from trace import Tracer, guard
        # interpreter start and imports: the first part of set-up
        self.boot_s = host.process_age_s()
        self.workloads, self.Tracer, self.guard = workloads, Tracer, guard
        cls = workloads.WORKLOADS.get(args.workload)
        if cls is None:
            raise SystemExit(f"unknown workload {args.workload!r}")
        self.wl = cls(DATA_DIR, args.seed, args.smoke)
        self.expected = (workloads.load_expected(EXPECTED)
                         .get(cls.name, {}).get(self.wl.scale, {})
                         .get(str(args.seed)))
        self.reference = None
        self.spark = None
        self.failures: list[str] = []

    # -- set-up -----------------------------------------------------------

    def make_inputs(self) -> None:
        """Generate (or find cached) inputs; outside every timing."""
        os.makedirs(os.path.join(DATA_DIR, "inputs"), exist_ok=True)
        os.makedirs(self.wl.work, exist_ok=True)
        self.wl.make_inputs()

    def setup(self, spark=None) -> float:
        """Start the session (or reuse ``spark``) and run the warm-up
        pass; returns this process's set-up time: process start to
        session ready, plus the warm-up pass, without input
        generation."""
        from sparkstats import execution_count, jvm_gc_s
        cpu0 = host.tree_cpu_s()
        gc0 = 0.0 if spark is None else jvm_gc_s(spark)
        t0 = time.perf_counter()
        if spark is None:
            spark = start_session(self.wl.conf())
        else:
            for k, v in self.wl.conf().items():
                spark.conf.set(k, v)
        self.spark = spark
        self.session_s = time.perf_counter() - t0
        self.session_cpu_s = host.tree_cpu_s() - cpu0
        self.session_gc_s = jvm_gc_s(spark) - gc0
        self.wl.prepare(self.spark)
        self.warmup_since = execution_count(self.spark)
        res = self.one_pass("warmup")
        if res is None:
            raise SystemExit("warm-up pass failed; see stderr")
        wall, _, summary = res
        self.reference = summary
        return self.boot_s + self.session_s + wall

    # -- passes -----------------------------------------------------------

    def one_pass(self, label: str):
        """(wall seconds, process-tree CPU seconds, output summary) of one
        checked pass, or None when the pass failed. Its Spark jobs run
        under job group ``pass-<label>``."""
        spark = self.spark
        sc = spark.sparkContext
        try:
            self.guard(spark)
            sc.setJobGroup(f"pass-{label}", label)
            j0 = host.cpu_jiffies()
            c0 = host.tree_cpu_s()
            t0 = time.perf_counter()
            out = self.wl.run_pass(spark, label)
            wall = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - c0
            steal = host.steal_pct(j0, host.cpu_jiffies())
            sc.setLocalProperty("spark.jobGroup.id", None)
            summary = self.wl.summarize(out)
            self.wl.cleanup(out)
            # recorded outputs where the seed has them, else the warm-up's
            want = self.expected or self.reference
            if want is not None and summary != want:
                raise self.workloads.PassError(
                    f"outputs {summary} differ from the expected {want}")
        except Exception:
            err = traceback.format_exc()
            sys.stderr.write(f"pass {label} failed:\n{err}")
            self.failures.append(f"{label}: {err.strip().splitlines()[-1]}")
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            cached, rdds = self.cache_left()
        log(f"pass {label}: {wall:.3f} s, steal {steal:.2f}%, "
            f"load1 {host.load1():.2f}, left cached {cached}/{rdds}, {summary}")
        return wall, cpu, summary

    def cache_left(self):
        """What a pass left persisted; cleared so the next pass starts
        from nothing, as a fresh job process would."""
        from sparkstats import cache_state
        state = cache_state(self.spark)
        if any(state):
            self.spark.catalog.clearCache()
        return state

    def timed_passes(self, budget_s: float, min_passes: int):
        """Passes until at least ``min_passes`` were attempted and the
        successful ones add up to ``budget_s`` (or, when passes keep
        failing, twice that has gone by); returns (attempted,
        [(label, wall, cpu)] of the successful ones)."""
        done = []
        k = 0
        t_end = time.monotonic() + 2 * budget_s
        while k < min_passes or (sum(d[1] for d in done) < budget_s
                                 and time.monotonic() < t_end):
            res = self.one_pass(str(k))
            if res is not None:
                done.append((str(k), res[0], res[1]))
            k += 1
        return k, done

    # -- modes ------------------------------------------------------------

    def end_to_end(self, setup_s: float) -> tuple:
        from sparkstats import (drain_listener, heap_committed_mb,
                                job_task_counts, peak_unified_mb)
        attempted, done = self.timed_passes(
            self.args.seconds, 1 if self.args.smoke else MIN_PASSES)
        # passes keep getting faster while the JIT compiler warms up;
        # the metrics read the later half of the passes
        steady = done[len(done) // 2:]
        walls = [d[1] for d in steady]
        cpus = [d[2] for d in steady]
        drain_listener(self.spark)
        # every attempted pass, the failed ones too: under local[4] one
        # failed task attempt fails its job and so its pass
        tasks = failed_tasks = 0
        for k in range(attempted):
            a, f = job_task_counts(self.spark, f"pass-{k}")
            tasks, failed_tasks = tasks + a, failed_tasks + f
        failed = attempted - len(done)
        rows = self.wl.rows
        if failed:
            log(f"{failed} of {attempted} passes failed")
        log(f"task_retry_frac {failed_tasks / max(1, tasks):.6f} "
            f"pass_fail_frac {failed / attempted:.6f}")
        metrics = {
            "rows_per_sec": rows / statistics.median(walls) if walls else 0.0,
            "setup_s": setup_s,
            # the median pass, like rows_per_sec: how many passes fit
            # in --seconds varies
            "cpu_s_per_krow": (statistics.median(cpus) * 1000.0 / rows
                               if cpus else 0.0),
            "cpu_util": sum(cpus) / (sum(walls) * CORES) if walls else 0.0,
            # resident memory outside the Java heap (JVM and Python
            # workers) plus the peak the engine held inside it: the
            # heap's used size follows the collector's sizing, not the
            # program
            "peak_rss_mb": (host.tree_peak_rss_mb() - heap_committed_mb(self.spark)
                            + peak_unified_mb(self.spark)),
            "task_ok_frac": 1.0 - failed_tasks / max(1, tasks),
            "pass_ok_frac": (attempted - failed) / attempted,
        }
        return attempted, failed, metrics

    def per_layer(self) -> tuple:
        from sparkstats import drain_listener, sql_nodes
        wl = self.workloads
        drain_listener(self.spark)
        # Python worker start-up and per-task init inside the warm-up
        python_boot_s = sum(
            n["metrics"].get("time to start Python workers", 0.0)
            + n["metrics"].get("time to initialize Python workers", 0.0)
            for n in sql_nodes(self.spark, self.warmup_since))
        _, done = self.timed_passes(
            0.0, 1 if self.args.smoke else UNTRACED_IN_TRACE)
        base = statistics.median(d[1] for d in done) if done else float("nan")
        tracer = self.Tracer(self.spark, f"{self.wl.name}-s{self.args.seed}")
        rounds = []
        t_end = time.monotonic() + self.args.seconds
        attempted = failed = 0
        while attempted == 0 or time.monotonic() < t_end:
            attempted += 1
            try:
                with tracer.group(f"round-{attempted}"):
                    calls, ratios = self.wl.trace_round(self.spark, tracer)
                rounds.append((calls, ratios))
            except Exception:
                failed += 1
                err = traceback.format_exc()
                sys.stderr.write(f"traced round {attempted} failed:\n{err}")
                self.failures.append(f"trace round {attempted}: "
                                     f"{err.strip().splitlines()[-1]}")
                self.cache_left()
        os.makedirs(OUT_DIR, exist_ok=True)
        spans_path = os.path.join(
            OUT_DIR, f"spans-{self.wl.name}-s{self.args.seed}.json")
        tracer.write(spans_path)
        # session start runs no Spark task: no shuffle, spill or skew
        metrics = {"session.start.wall_s": self.session_s,
                   "session.start.cpu_s": self.session_cpu_s,
                   "session.start.gc_s": self.session_gc_s}

        def med(values):
            return statistics.median(values) if values else 0.0

        for call in wl.CALLS:
            for c in wl.COUNTERS:
                metrics[f"{call}.{c}"] = med(
                    [r[0][call][c] for r in rounds if call in r[0]])
        for name in wl.RATIOS:
            metrics[name] = med([r[1][name] for r in rounds if name in r[1]])
        metrics["session.python_boot_s"] = python_boot_s
        metrics["trace.layers_sum_frac"] = med(
            [sum(v["wall_s"] for v in r[0].values()) / base for r in rounds])
        layers = {"session": self.session_s}
        for call in wl.CALLS:
            layer = call.split(".")[0]
            layers[layer] = layers.get(layer, 0.0) + metrics[f"{call}.wall_s"]
        log(f"untraced median pass {base:.3f} s; layer self time (s): "
            + ", ".join(f"{k} {v:.3f}" for k, v in layers.items())
            + f"; spans in {os.path.relpath(spans_path, ROOT)}")
        return attempted, failed, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fagi_spark")):
        sys.stderr.write("run from the repository root: no fagi_spark/ here\n")
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    run.make_inputs()
    try:
        setup_s = run.setup()
        if args.trace:
            attempted, failed, metrics = run.per_layer()
        else:
            attempted, failed, metrics = run.end_to_end(setup_s)
    finally:
        if run.spark is not None:
            stop_session(run.spark)
    result = {"correct": not run.failures, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": UNITS[k]}
                          for k, v in metrics.items()}}
    log(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
