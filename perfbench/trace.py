"""Traced-run instrumentation: Spark's own SQL and stage metrics, read back
from the status stores after each action, plus the per-layer profile.

Nothing inside the engine is instrumented.  The profile times calls into
each module's public functions, each forced through a ``noop`` sink (never
``count(lit(1))``, which lets Catalyst prune unused aggregates and windows),
and reads the metrics Spark recorded for that action.  Each layer's input is
cached after the call before it, so a layer's time is its own self time.
Cached frames keep their hash(conv_id) partitioning (the session sets
``canChangeCachedPlanOutputPartitioning=false``), so a layer runs with the
exchanges its production plan has and no others.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

import numpy as np
from pyspark import StorageLevel

from features_engineering_of_motion_data_spark.kernels import codecs
from features_engineering_of_motion_data_spark.operators.archive import (
    build_archive,
    decode_archive,
)
from features_engineering_of_motion_data_spark.operators.channels import (
    dedup_turns,
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
    finalize_features,
)
from features_engineering_of_motion_data_spark.operators.incremental import (
    delta_tier_stats,
    merge_partial_stats,
    seam_phantoms,
)
from features_engineering_of_motion_data_spark.operators.matrix import (
    wide_rolling_matrix,
    wide_tier_matrix,
)
from features_engineering_of_motion_data_spark.operators.rollup import (
    rolling_merge,
    rollup_merge,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
    read_transcripts_delta,
    snapshot_manifest,
)

from . import corpus

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def force(df) -> None:
    """Run every operator of ``df``'s plan: the noop sink consumes all
    columns, so nothing is pruned."""
    df.write.format("noop").mode("overwrite").save()


def _total(text: str, units: dict) -> float:
    """Total of a formatted SQL metric, e.g. ``"total (min, med, max ...)\\n
    1.8 s (...)"`` or ``"10.3 MiB"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    return float(m.group(1).replace(",", "")) * units[m.group(2)] if m else 0.0


def _executed_ops(graph) -> set:
    """Operators of an execution's own plan, as Spark describes them (e.g.
    ``HashAggregate(keys=[conv_id#0, ...], functions=[...])``).  The plan
    graph also draws the plan behind every cached input under its
    ``InMemoryTableScan``; this action only read those, so they are left
    out."""
    nodes, edges = graph.allNodes(), graph.edges()
    names = {nodes.apply(i).id(): nodes.apply(i).name() for i in range(nodes.size())}
    descs = {nodes.apply(i).id(): nodes.apply(i).desc() for i in range(nodes.size())}
    children: dict[int, list] = {}
    for i in range(edges.size()):
        e = edges.apply(i)
        children.setdefault(e.toId(), []).append(e.fromId())
    has_parent = {c for cs in children.values() for c in cs}
    out, stack = set(), [n for n in names if n not in has_parent]
    while stack:
        n = stack.pop()
        out.add(descs[n])
        if names[n] != "InMemoryTableScan":
            stack += children.get(n, [])
    return out


class Harvester:
    """Reads what Spark recorded for the SQL executions since a mark."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._core = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = spark.sparkContext._gateway

    def mark(self) -> int:
        """Executions recorded so far (the store keeps them in id order)."""
        self._bus.waitUntilEmpty()
        return self._sql.executionsCount()

    def _executions(self, mark: int) -> list:
        self._bus.waitUntilEmpty()
        execs = self._sql.executionsList(mark, 1_000_000)
        return [execs.apply(i) for i in range(execs.size())]

    def _stages(self, e) -> list:
        sids = e.stages().toList()
        out = []
        for i in range(sids.size()):
            data = self._core.stageData(
                sids.apply(i), False, self._gw.jvm.java.util.ArrayList(), False,
                self._gw.new_array(self._gw.jvm.double, 0),
            )
            out.extend(data.apply(j) for j in range(data.size()))
        return out

    def harvest(self, mark: int) -> dict:
        """Exact counts and summed node metrics of every execution since
        ``mark``."""
        r = {
            "jobs": 0, "exchanges": 0, "spill_bytes": 0, "shuffle_bytes": 0,
            "shuffle_records": 0, "agg_build_s": 0.0, "py_bytes_sent": 0.0,
            "py_bytes_received": 0.0, "window_task_max_over_med": 0.0,
            "ops": set(),
        }
        for e in self._executions(mark):
            r["jobs"] += e.jobs().size()
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            r["ops"] |= _executed_ops(graph)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                r["exchanges"] += node.name() == "Exchange"
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "time in aggregation build":
                        r["agg_build_s"] += _total(v.get(), _TIME)
                    elif m.name() == "data sent to Python workers":
                        r["py_bytes_sent"] += _total(v.get(), _SIZE)
                    elif m.name() == "data returned from Python workers":
                        r["py_bytes_received"] += _total(v.get(), _SIZE)
            for st in self._stages(e):
                r["spill_bytes"] += st.diskBytesSpilled()
                r["shuffle_bytes"] += st.shuffleWriteBytes()
                r["shuffle_records"] += st.shuffleWriteRecords()
                if st.shuffleReadRecords() > 0:
                    runs = [t[0] for t in self._tasks(st)]
                    med = statistics.median(runs) if runs else 0
                    if med:
                        r["window_task_max_over_med"] = max(
                            r["window_task_max_over_med"], max(runs) / med
                        )
        return r

    def peak_task_mem(self, mark: int) -> int:
        """The most execution memory (hash maps, sort and aggregation
        buffers) any one task of the executions since ``mark`` held: Spark's
        own ``peakExecutionMemory`` task metric."""
        return max(
            (t[1] for e in self._executions(mark) for st in self._stages(e) for t in self._tasks(st)),
            default=0,
        )

    def _tasks(self, st) -> list[tuple[int, int]]:
        """(run time, peak execution memory) of each finished task of a stage."""
        tasks = self._core.taskList(st.stageId(), st.attemptId(), 100_000)
        out = []
        for i in range(tasks.size()):
            tm = tasks.apply(i).taskMetrics()
            if tm.isDefined():
                out.append((tm.get().executorRunTime(), tm.get().peakExecutionMemory()))
        return out


def _codec_times(hot) -> tuple[float, float]:
    """Median of three encode and decode passes over edge_hot's channel
    arrays (turn_idx and ts delta-of-delta, values XOR)."""
    arrays = []
    for _ch, g in hot.groupby("channel", sort=True):
        g = g.sort_values("turn_idx", kind="mergesort")
        arrays.append((g["turn_idx"].to_numpy(np.int64), g["ts_us"].to_numpy(np.int64),
                       g["x"].to_numpy(np.int64).astype(np.float64)))
    enc, dec = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        blobs = [(codecs.encode_dod(ti), codecs.encode_dod(ts), codecs.encode_xor(x))
                 for ti, ts, x in arrays]
        t1 = time.perf_counter()
        for a, b, c in blobs:
            codecs.decode_dod(a), codecs.decode_dod(b), codecs.decode_xor(c)
        t2 = time.perf_counter()
        enc.append(t1 - t0)
        dec.append(t2 - t1)
    return statistics.median(enc), statistics.median(dec)


class _Profile:
    """Times one layer call at a time and keeps what Spark ran for it."""

    def __init__(self, h: Harvester):
        self.h = h
        self.metrics: dict[str, float] = {}
        self.plans: dict[str, set] = {}
        self.cached: list = []

    def time(self, name: str, action) -> dict:
        """Run ``action()`` as layer ``name``: its wall seconds become the
        metric, and the harvested Spark metrics are returned."""
        mark = self.h.mark()
        t0 = time.perf_counter()
        action()
        self.metrics[name] = time.perf_counter() - t0
        r = self.h.harvest(mark)
        self.plans[name] = r["ops"]
        return r

    def force(self, name: str, df, persist: bool = False):
        """Force ``df`` as layer ``name``.  With ``persist``, the result is
        then cached by a second, untimed action and returned to feed the
        next layer."""
        r = self.time(name, lambda: force(df))
        if persist:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            force(df)
            self.cached.append(df)
        return df, r


def layer_profile(
    spark, h: Harvester, path: str, hot_channels, append_inputs, work: str
) -> tuple[dict, dict]:
    """Self time and Spark metrics of every layer, on one workload's input.

    ``append_inputs`` is ``(base_dir, base_entries)``: a base input directory
    holding one landed delta file, and the snapshot manifest from before it
    landed, for the incremental layers.  Returns the metrics and, per timed
    layer, the physical operator names Spark executed for it.
    """
    p = _Profile(h)
    m = p.metrics
    scan, _ = p.force("sources.transcripts.scan_s", read_transcripts(spark, path), True)
    dedup, rd = p.force("operators.channels.dedup_s", dedup_turns(scan), True)
    ch, rc = p.force("operators.channels.derive_s", derive_channels(dedup), True)
    m["operators.channels.window_task_max_over_med"] = rd["window_task_max_over_med"]
    m["operators.channels.spill_bytes"] = rd["spill_bytes"] + rc["spill_bytes"]
    stats, ra = p.force("operators.features.aggregate_s", aggregate_tier(ch, "1m"), True)
    m["operators.features.agg_build_s"] = ra["agg_build_s"]
    # the aggregation rides the channel frame's hash(conv_id) partitioning:
    # a change that adds an exchange to this layer shows as shuffle bytes
    m["operators.features.shuffle_bytes"] = ra["shuffle_bytes"]
    m["operators.features.shuffle_records"] = ra["shuffle_records"]
    p.force("operators.features.finalize_s", finalize_features(stats))
    h1, _ = p.force("operators.rollup.merge_1h_s", rollup_merge(stats, "1h"), True)
    p.force("operators.rollup.merge_1d_s", rollup_merge(h1, "1d"))
    p.force("operators.rollup.rolling_s", rolling_merge(stats, "1m", 1440))
    p.force("operators.matrix.wide_s", wide_tier_matrix(ch, "1m"))
    p.force("operators.matrix.wide_rolling_s", wide_rolling_matrix(ch, "1m", 1440))

    arch_dir = os.path.join(work, "profile_archive")
    rb = p.time(
        "operators.archive.build_s",
        lambda: build_archive(ch).write.mode("overwrite").parquet(arch_dir),
    )
    _, rdec = p.force("operators.archive.decode_s", decode_archive(spark.read.parquet(arch_dir)))
    m["operators.archive.py_bytes_sent"] = rb["py_bytes_sent"] + rdec["py_bytes_sent"]
    m["operators.archive.py_bytes_received"] = rb["py_bytes_received"] + rdec["py_bytes_received"]
    m["kernels.codecs.encode_s"], m["kernels.codecs.decode_s"] = _codec_times(hot_channels)

    base_dir, base_entries = append_inputs
    old = aggregate_tier(derive_channels(dedup_turns(
        read_transcripts(spark, os.path.join(base_dir, "base.parquet")))), "1m",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    p.cached.append(old)
    force(old)  # the existing finest tier: state, not a timed layer
    delta, _ = p.force(
        "sources.transcripts.delta_scan_s", read_transcripts_delta(spark, base_dir, base_entries), True
    )
    d_stats, _ = p.force("operators.incremental.delta_stats_s", delta_tier_stats(old, delta, "1m"), True)
    p.force("operators.incremental.merge_partial_s", merge_partial_stats(old, d_stats))
    seam = seam_phantoms(old, delta.select("conv_id").distinct())
    m["operators.incremental.seam_convs"] = seam.filter("turn_idx = -1").count()
    for df in p.cached:
        df.unpersist()
    return m, p.plans


def append_profile_inputs(df, seed: int, work: str) -> tuple[str, list]:
    """Base directory plus one landed delta for the incremental layers,
    cut from this workload's corpus."""
    base, delta = corpus.split_append(df, seed)
    base_dir = os.path.join(work, "profile_append")
    shutil.rmtree(base_dir, ignore_errors=True)
    corpus.write_parquet(base, os.path.join(base_dir, "base.parquet"))
    entries = snapshot_manifest(base_dir)
    corpus.write_parquet(delta, os.path.join(base_dir, "delta_000.parquet"))
    return base_dir, entries
