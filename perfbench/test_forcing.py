"""Self-test of the benchmark's forcing and its metric declarations.

    python3 -m pytest perfbench/test_forcing.py -q

Every timed layer call ends in a noop sink, which keeps the whole plan: if a
timed stage were forced with ``count(lit(1))`` instead, Catalyst would prune
the aggregates and windows it exists to measure.  The test runs the per-layer
profile on a small seeded corpus and asserts, from the plans Spark actually
executed, that each stage still runs its Aggregate and Window operators.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from features_engineering_of_motion_data_spark.fixtures import generate_transcripts  # noqa: E402
from perfbench import check, corpus, run, trace, workloads  # noqa: E402

AGG, WINDOW = "Aggregate", "Window"
# timed layer -> operators its executed plan must contain
EXPECTED = {
    "operators.channels.dedup_s": {WINDOW},
    "operators.channels.derive_s": {WINDOW},
    "operators.features.aggregate_s": {AGG},
    "operators.rollup.merge_1h_s": {WINDOW, AGG},
    "operators.rollup.merge_1d_s": {WINDOW, AGG},
    "operators.rollup.rolling_s": {WINDOW},
    "operators.matrix.wide_s": {AGG},
    "operators.matrix.wide_rolling_s": {WINDOW, AGG},
    "operators.archive.build_s": {"FlatMapGroupsInPandas"},
    "operators.archive.decode_s": {"MapInPandas"},
    "operators.incremental.delta_stats_s": {WINDOW, AGG},
    "operators.incremental.merge_partial_s": {AGG},
}


def _kinds(ops: set) -> set:
    """Operator names, with every grouped aggregate (hash, object hash,
    sort) that computes something folded into ``Aggregate``.  A global
    count (``keys=[]``) and a bare distinct (``functions=[]``, what pruning
    leaves of a grouped aggregation) are not the stage's own aggregation."""
    out = set()
    for desc in ops:
        name = desc.split("(")[0].split(" ")[0]
        if name.endswith("Aggregate"):
            if "keys=[]" not in desc and "functions=[]" not in desc:
                out.add(AGG)
        else:
            out.add(name)
    return out


@pytest.fixture(scope="module")
def profiled(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, {**run.host_env(work), "nproc": 2})
    try:
        df = generate_transcripts("tiny", 7)
        df = df[df["conv_id"] != corpus.HOT_CONV]  # keeps the test quick
        path = corpus.write_parquet(df, os.path.join(work, "in", "t.parquet"))
        hot = check.oracle_channels(df[df["conv_id"] == "edge_bursty"])
        yield trace.layer_profile(
            spark, trace.Harvester(spark), path, hot,
            trace.append_profile_inputs(df, 7, work), work,
        )
    finally:
        run.stop_session(spark)


def test_timed_stages_keep_their_aggregates_and_windows(profiled):
    _metrics, plans = profiled
    lacking = {
        layer: sorted(want - _kinds(plans[layer]))
        for layer, want in EXPECTED.items()
        if not want <= _kinds(plans[layer])
    }
    assert not lacking, f"timed stages whose executed plan lacks operators: {lacking}"


def test_profile_reports_every_declared_layer(profiled):
    metrics, _plans = profiled
    measured = set(metrics) | {"session.start_s", "spark.exchanges", "spark.jobs",
                               "spark.spill_bytes", "trace.overhead_frac"}
    measured |= {k for k in run.PER_LAYER if k.startswith(("jobs.rollup.", "jobs.features."))}
    assert measured == set(run.PER_LAYER)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
