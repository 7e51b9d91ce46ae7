"""The benchmark's workloads.

Each drives the engine the way its users do: through its production jobs
(``jobs.rollup.run``, ``jobs.features.run``).  A workload makes its inputs
from the seed (``prepare``), runs one timed operation per ``op`` call, and
checks every operation's output bit for bit against the numpy oracle
(``check``, outside the timed window).

An op returns a dict:
  ``wall``     seconds of its timed body;
  ``points``   committed output points;
  ``bytes``    committed bytes on disk;
  ``jobs``     per rollup job run: wall, per-range wall seconds from the
               job's own ``_ckpt.jsonl``, and points written.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from features_engineering_of_motion_data_spark.operators.channels import (
    dedup_turns,
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.matrix import wide_tier_matrix
from features_engineering_of_motion_data_spark.sources.checkpoints import load_manifest
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
    resolve_snapshot,
)
from jobs import features as features_job
from jobs import rollup as rollup_job

from . import check, corpus
from .trace import force

# main conversations in the corpus, beside the edge corpus and its
# 100k-turn edge_hot: ~300k turns, edge_hot about a third of them
N_CONVS = 2000
MATRIX_TIER, ROLLING_WIDTH = "1h", 24  # 24h trailing features, hourly
SAMPLE_CONVS = 20
WRITE_PAIRS = 3  # paired features-job / noop-matrix runs behind jobs.features.write_s


def _rollup(inp: str, out: str, parts: int, *extra: str) -> float:
    args = rollup_job.parse_args(
        ["--input", inp, "--output", out, "--num-parts", str(parts), *extra]
    )
    t0 = time.perf_counter()
    rc = rollup_job.run(args)
    dt = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"rollup job exited {rc}")
    return dt


def _ckpt(out: str, snapshot: str) -> list[dict]:
    return [
        r for r in load_manifest(os.path.join(out, "_ckpt.jsonl"))
        if r["snapshot_id"] == snapshot
    ]


def _job(wall: float, recs: list[dict]) -> dict:
    return {
        "wall": wall,
        "ranges": [r["wall_s"] for r in recs],
        "points": sum(sum(r["points_out"].values()) for r in recs),
    }


def _tier_bytes(out: str) -> int:
    return sum(
        corpus.parquet_bytes(os.path.join(out, f"tier={t}")) for t in check.TIERS
    )


class Workload:
    name = ""
    warmup_ops = 2  # the first, cold operation and one more

    def __init__(self, spark, seed: int, work: str, parts: int):
        self.spark, self.seed, self.work, self.parts = spark, seed, work, parts
        self.path = os.path.join(work, "in", "transcripts.parquet")

    def prepare(self) -> None:
        self.df = corpus.generate(self.seed, N_CONVS)
        corpus.write_parquet(self.df, self.path)

    def op_dir(self, k) -> str:
        d = os.path.join(self.work, "ops", str(k))
        shutil.rmtree(d, ignore_errors=True)
        return d

    def hot_channels(self) -> pd.DataFrame:
        return check.oracle_channels(self.df[self.df["conv_id"] == corpus.HOT_CONV])

    def job_layers(self, traced: list[dict]) -> dict:
        """``jobs.rollup.*`` from the traced operations' rollup jobs (one
        profile run of the full job when the workload runs none), and
        ``jobs.features.write_s``: the features job's wall minus the same
        matrix forced into a noop sink, i.e. its range exchange, sort and
        partitioned parquet write."""
        jobs = [j for r in traced for j in r["jobs"]]
        if not jobs:
            out = self.op_dir("profile_rollup")
            wall = _rollup(self.path, out, self.parts)
            jobs = [_job(wall, _ckpt(out, resolve_snapshot(self.path)))]
        ranges = [s for j in jobs for s in j["ranges"]]
        m = {
            "jobs.rollup.stage_s": statistics.median(j["wall"] - sum(j["ranges"]) for j in jobs),
            "jobs.rollup.ranges_run": statistics.median(len(j["ranges"]) for j in jobs),
            "jobs.rollup.range_s_p50": statistics.median(ranges),
            "jobs.rollup.range_s_max": max(ranges),
            "jobs.rollup.points_written": statistics.median(j["points"] for j in jobs),
        }
        # paired runs after one warm-up pair, so neither side pays for the
        # first run of its plan in this JVM
        diffs = []
        for k in range(WRITE_PAIRS + 1):
            args = features_job.parse_args(
                ["--input", self.path, "--output", self.op_dir(f"profile_features{k}"), "--tier", "1m"]
            )
            t0 = time.perf_counter()
            if features_job.run(args) != 0:
                raise RuntimeError("features job failed")
            t1 = time.perf_counter()
            force(wide_tier_matrix(derive_channels(dedup_turns(read_transcripts(self.spark, self.path))), "1m"))
            diffs.append((t1 - t0) - (time.perf_counter() - t1))
        m["jobs.features.write_s"] = statistics.median(diffs[1:])
        return m

    def describe(self) -> dict:
        hot = int((self.df["conv_id"] == corpus.HOT_CONV).sum())
        return {
            "turns": int(len(self.df)),
            "conversations": int(self.df["conv_id"].nunique()),
            "hot_conversation_turns": hot,
            "hot_share": hot / len(self.df),
        }


class RollupFull(Workload):
    """One full ``jobs/rollup.py`` run (tiers 1m,1h,1d)."""

    name = "rollup_full"

    def op(self, k) -> dict:
        out = self.op_dir(k)
        wall = _rollup(self.path, out, self.parts)
        job = _job(wall, _ckpt(out, resolve_snapshot(self.path)))
        return {
            "wall": wall, "points": job["points"],
            "bytes": _tier_bytes(out),
            "jobs": [job], "out": out,
        }

    @functools.cached_property
    def want(self) -> dict:
        return check.tier_digests(check.oracle_tier_frames(self.df, self.parts))

    def check(self, res: dict) -> tuple[int, int]:
        return 1, int(check.read_tier_digests(res["out"]) != self.want)


class FeatureMatrix(Workload):
    """``jobs/features.py --tier 1h --rolling 24``: 24h trailing features,
    hourly.  Minutely (``--tier 1m --rolling 1440``) one task, edge_hot's
    trailing frames, bounds the operation and its time is bimodal from run
    to run; that layer is timed in the traced profile instead
    (``operators.rollup.rolling_s``, ``operators.matrix.wide_rolling_s``)."""

    name = "feature_matrix"
    # its operations run until the JIT has compiled their hot paths: on 4
    # vCPUs the eighth is within a few percent of the steady state, the
    # third still 30-50% slower
    warmup_ops = 8
    matrix = f"tier={MATRIX_TIER}_roll{ROLLING_WIDTH}"

    def op(self, k) -> dict:
        out = self.op_dir(k)
        args = features_job.parse_args(
            ["--input", self.path, "--output", out, "--tier", MATRIX_TIER, "--rolling", str(ROLLING_WIDTH)]
        )
        t0 = time.perf_counter()
        rc = features_job.run(args)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"features job exited {rc}")
        with open(os.path.join(out, "_matrix_manifest.json")) as f:
            rows = json.load(f)["rows"]
        return {
            "wall": wall, "points": rows,
            "bytes": corpus.parquet_bytes(out),
            "jobs": [], "out": out,
        }

    @functools.cached_property
    def want(self) -> dict:
        """Oracle cells for a seeded conversation sample that always holds
        edge_hot, plus the matrix's exact row count."""
        main = np.sort(self.df.loc[self.df["conv_id"].str.startswith("conv_"), "conv_id"].unique())
        rng = np.random.Generator(np.random.PCG64([self.seed, 2]))
        sample = sorted(rng.choice(main, SAMPLE_CONVS, replace=False).tolist() + [corpus.HOT_CONV])
        ch = check.oracle_channels(self.df[self.df["conv_id"].isin(sample)])
        return {
            "sample": sample,
            "rows": check.matrix_row_count(self.df, MATRIX_TIER),
            "digest": check.matrix_digest(check.expected_matrix(ch, MATRIX_TIER, ROLLING_WIDTH)),
        }

    def check(self, res: dict) -> tuple[int, int]:
        got = check.read_matrix_digest(os.path.join(res["out"], self.matrix), self.want["sample"])
        return 1, int(got != self.want["digest"] or res["points"] != self.want["rows"])


WORKLOADS = {w.name: w for w in (RollupFull, FeatureMatrix)}
