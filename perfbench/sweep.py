#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py [--workload rollup_full ...] [--seeds 1-10] [--seconds S] [--trace 0|1]

Runs every workload of ``BENCHMARK.json`` (or the ones named) once per seed.
For every metric: its unit, the median of the runs and the distance between
their first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of that median; and the operations attempted and failed.  One
engine-free host-speed reading (``BENCH/freq_control.py::measure``, one
pinned core) is taken before and after the set, with the host fingerprint,
so a slow set can be told apart from a slow host.  Prints one JSON object;
each run's result line goes to stderr as it finishes.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import fingerprint  # noqa: E402  (needs ROOT on the path)


def host_reading() -> dict:
    r = fingerprint()
    path = os.path.join(ROOT, "BENCH", "freq_control.py")
    if os.path.exists(path):  # the control is repository history, not the benchmark
        spec = importlib.util.spec_from_file_location("freq_control", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        r["freq_ops_per_core"] = mod.measure(1, 1.0)
    return r


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def sweep(workload: str, seed_list: list[int], seconds: str, trace: str) -> dict:
    runs = []
    for seed in seed_list:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", trace],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        res = json.loads(out[-1])
        runs.append(res)
        detail = json.loads(out[-2])["detail"]
        print(json.dumps({"workload": workload, "seed": seed, "run_s": time.perf_counter() - t0,
                          "steal": detail["loop_steal_frac"], "phase_s": detail["phase_s"],
                          "op_walls": detail["op_walls"], **res}),
              file=sys.stderr, flush=True)
    metrics = {}
    for name, first in runs[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        metrics[name] = {
            "median": med, "unit": first["unit"],
            "iqr_over_median": (q3 - q1) / med if med else None,
        }
    return {
        "runs": len(runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", action="append", help="repeatable; default: every workload in BENCHMARK.json")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default=None, help="default: BENCHMARK.json run_seconds")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or str(bench["run_seconds"])
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    before = host_reading()
    results = {w: sweep(w, seeds(args.seeds), seconds, args.trace) for w in workloads}
    print(json.dumps({
        "seconds": seconds, "host_before": before, "host_after": host_reading(),
        "workloads": results,
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
