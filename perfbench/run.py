#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process, one client, one operation at a
time (a closed loop) on ``local[nproc]``.  The run

1. records a host fingerprint, starts the session and sets up the workload
   (inputs from the seed, warm-up operations): ``setup_s``;
2. repeats the workload's operation until ``--seconds`` have passed;
3. checks every operation's output bit for bit against the numpy oracle;
4. with ``--trace 1``, also reads Spark's own metrics after every other
   operation and runs the per-layer profile (perfbench/trace.py);
5. prints a detail line, then as its last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

Work files live under ``.perfbench_work/`` in the repository root and are
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace, workloads  # noqa: E402  (needs ROOT on the path)

PREPARE_REPS = 3  # set-up is repeated and its median reported
MAX_FAILURES = 3  # stop repeating an operation that keeps failing
MIN_OPS = 2  # the loop runs at least this many operations
# set-up ends with warm-up operations, at least the workload's
# ``warmup_ops`` and at least this long: the JVM keeps speeding an operation
# up for several repetitions after the first
WARMUP_S = 20.0

END_TO_END = {
    "wall_s": "s",
    "points_per_s": "1/s",
    "stored_bytes_per_point": "B",
    "setup_s": "s",
    "peak_exec_mem_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.transcripts.scan_s": "s",
    "operators.channels.dedup_s": "s",
    "operators.channels.derive_s": "s",
    "operators.channels.window_task_max_over_med": "ratio",
    "operators.channels.spill_bytes": "B",
    "operators.features.aggregate_s": "s",
    "operators.features.finalize_s": "s",
    "operators.features.agg_build_s": "s",
    "operators.features.shuffle_bytes": "B",
    "operators.features.shuffle_records": "count",
    "operators.rollup.merge_1h_s": "s",
    "operators.rollup.merge_1d_s": "s",
    "operators.rollup.rolling_s": "s",
    "jobs.rollup.stage_s": "s",
    "jobs.rollup.ranges_run": "count",
    "jobs.rollup.range_s_p50": "s",
    "jobs.rollup.range_s_max": "s",
    "jobs.rollup.points_written": "count",
    "sources.transcripts.delta_scan_s": "s",
    "operators.incremental.delta_stats_s": "s",
    "operators.incremental.merge_partial_s": "s",
    "operators.incremental.seam_convs": "count",
    "operators.matrix.wide_s": "s",
    "operators.matrix.wide_rolling_s": "s",
    "jobs.features.write_s": "s",
    "operators.archive.build_s": "s",
    "operators.archive.decode_s": "s",
    "operators.archive.py_bytes_sent": "B",
    "operators.archive.py_bytes_received": "B",
    "kernels.codecs.encode_s": "s",
    "kernels.codecs.decode_s": "s",
    "spark.exchanges": "count",
    "spark.jobs": "count",
    "spark.spill_bytes": "B",
    "trace.overhead_frac": "ratio",
}


def fingerprint() -> dict:
    """The host the numbers were measured on."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), "")
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": cpu, "mem_total_kb": mem_kb}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot.  Over an interval, steal /
    total is the share of this machine's CPU time the hypervisor gave to
    other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def host_env(work: str) -> dict:
    """Size the session to this host and keep every file inside ``work``."""
    host = fingerprint()
    nproc, mem_kb = host["nproc"], host["mem_total_kb"]
    # at most a fifth of physical memory (the session default of 16g
    # exceeds a 15 GB host), and at most 2g: the inputs are small and the
    # host is shared
    driver_mem_mb = min(2048, mem_kb // 1024 // 5)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the Python workers unpickle engine functions by module path
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {**host, "driver_mem_mb": driver_mem_mb}


def start_session(work: str, host: dict):
    from features_engineering_of_motion_data_spark.session import get_spark

    heap = f"{host['driver_mem_mb']}m"
    return get_spark(
        master=f"local[{host['nproc']}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # initial heap = max heap, so G1 does not resize the heap at
            # timing-dependent moments of a run.  No perf-data file: it
            # would go to /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            # persisted layer inputs keep their hash(conv_id) partitioning,
            # so the profile adds no exchange the production plan lacks
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _med(xs) -> float:
    return float(statistics.median(xs))


def run_op(w, k, failures: list) -> dict | None:
    try:
        return w.op(k)
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        failures.append(traceback.format_exc())
        return None


def timed_loop(w, seconds: float, h, tracing: bool) -> tuple[list, list, list, list]:
    """Closed loop: the next operation starts when the previous one ends.
    After each operation, outside its wall, the largest task execution
    memory Spark recorded for it is read back.  When ``tracing``, every
    other operation is traced instead: all its Spark metrics are read back,
    and that time is included in its ``traced_wall``."""
    ops, traced, harvests, failures = [], [], [], []
    loop0 = time.perf_counter()
    while len(failures) < MAX_FAILURES and (
        time.perf_counter() - loop0 < seconds
        or len(ops) + len(traced) < MIN_OPS
        or (tracing and not traced)
    ):
        mark = h.mark()
        if tracing and (len(ops) + len(traced)) % 2 == 1:
            t = time.perf_counter()
            res = run_op(w, len(ops) + len(traced), failures)
            harvests.append(h.harvest(mark))
            if res is not None:
                res["traced_wall"] = time.perf_counter() - t
                traced.append(res)
        else:
            res = run_op(w, len(ops) + len(traced), failures)
            if res is not None:
                res["peak_mem"] = h.peak_task_mem(mark)
                ops.append(res)
    if not ops or (tracing and not traced):
        raise RuntimeError("no operation completed:\n" + "\n".join(failures))
    return ops, traced, harvests, failures


def check_all(w, done: list, failures: list) -> tuple[int, int]:
    attempted = failed = len(failures)
    for res in done:
        try:
            a, f = w.check(res)
        except Exception:  # noqa: BLE001 - an unreadable output is a failure
            failures.append(traceback.format_exc())
            a, f = 1, 1
        attempted += a
        failed += f
    return attempted, failed


def end_to_end(ops: list, done: list, setup_s: float) -> dict:
    return {
        "wall_s": _med([r["wall"] for r in ops]),
        "points_per_s": _med([r["points"] / r["wall"] for r in ops]),
        "stored_bytes_per_point": _med([r["bytes"] / r["points"] for r in done]),
        "setup_s": setup_s,
        "peak_exec_mem_mb": _med([r["peak_mem"] for r in ops]) / 2**20,
    }


def per_layer(spark, h, w, ops, traced, harvests, start_s: float, work: str, seed: int) -> dict:
    prof = os.path.join(work, "profile")
    m, _executed = trace.layer_profile(
        spark, h, w.path, w.hot_channels(),
        trace.append_profile_inputs(w.df, seed, prof), prof,
    )
    m.update(w.job_layers(traced))
    first = harvests[0]
    m.update({
        "session.start_s": start_s,
        "spark.exchanges": first["exchanges"],
        "spark.jobs": first["jobs"],
        "spark.spill_bytes": first["spill_bytes"],
        "trace.overhead_frac": _med([r["traced_wall"] for r in traced])
        / _med([r["wall"] for r in ops]) - 1.0,
    })
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = host_env(work)

    t0 = time.perf_counter()
    spark = start_session(work, host)
    start_s = time.perf_counter() - t0
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "w"), host["nproc"])
        prep = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            w.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        i = 0
        while i < w.warmup_ops or time.perf_counter() - t < WARMUP_S:
            w.op(f"warmup{i}")
            i += 1
        warmup_s = time.perf_counter() - t
        setup_s = start_s + _med(prep) + warmup_s

        h = trace.Harvester(spark)
        loop0, j0 = time.perf_counter(), cpu_jiffies()
        ops, traced, harvests, failures = timed_loop(w, args.seconds, h, bool(args.trace))
        loop_s, j1 = time.perf_counter() - loop0, cpu_jiffies()
        done = ops + traced
        t = time.perf_counter()
        attempted, failed = check_all(w, done, failures)
        check_s = time.perf_counter() - t
        if args.trace:
            metrics = per_layer(spark, h, w, ops, traced, harvests, start_s, work, args.seed)
            units = PER_LAYER
        else:
            metrics = end_to_end(ops, done, setup_s)
            units = END_TO_END
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host, "corpus": w.describe(), "ops": len(done),
            "phase_s": {"start": start_s, "prepare": sum(prep), "warmup": warmup_s,
                        "warmup_ops": i, "loop": loop_s, "check": check_s},
            "loop_steal_frac": (j1[0] - j0[0]) / max(1, j1[1] - j0[1]),
            "op_walls": [r["wall"] for r in done], "failures": failures,
        }
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
