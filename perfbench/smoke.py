#!/usr/bin/env python3
"""Smoke check of the benchmark: every workload on ~2k-row inputs, in
both modes, in one Spark session and one warm-up per workload.
Fails unless every end-to-end and per-layer metric named in
BENCHMARK.json is reported, numeric and non-negative, and
every pass's outputs pass their check.

    python3 perfbench/smoke.py      # from the repository root
"""

from __future__ import annotations

import math
import sys

import run


def check(metrics: dict, wanted: list[dict], where: str) -> list[str]:
    problems = []
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None:
            problems.append(f"{where}: {m['name']} missing")
        elif not isinstance(v, (int, float)) or not math.isfinite(v) or v < 0:
            problems.append(f"{where}: {m['name']} = {v!r}")
    return problems


def main() -> int:
    bench = run.BENCH
    sys.path.insert(0, run.ROOT)
    spark = run.start_session({})
    problems = []
    try:
        for w in bench["workloads"]:
            args = run.parse_args(["--workload", w["name"], "--seed", "1",
                                   "--seconds", "0", "--smoke"])
            r = run.Run(args)
            r.make_inputs()
            setup_s = r.setup(spark)
            problems += check(r.end_to_end(setup_s)[2], bench["end_to_end"],
                              f"{w['name']} trace=0")
            problems += check(r.per_layer()[2], bench["per_layer"],
                              f"{w['name']} trace=1")
            problems += [f"{w['name']}: {f}" for f in r.failures]
            for k in r.wl.conf():
                spark.conf.unset(k)
    finally:
        run.stop_session(spark)
    for p in problems:
        print(p)
    print("smoke ok" if not problems else f"smoke FAILED: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
