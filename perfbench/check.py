"""Bit-for-bit output checks against the repository's numpy oracle.

Everything here runs outside the timed window.  Outputs are read back with
pyarrow (no Spark job, so a traced run's SQL metrics only see the engine's
own work) and reduced to a canonical digest: rows sorted by their key,
integers as int64 or exact decimal strings, floats as their IEEE-754 bit
patterns.  Two outputs are equal iff their digests are.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from features_engineering_of_motion_data_spark.operators.features import TIER_US
from features_engineering_of_motion_data_spark.operators.matrix import (
    FEATURES,
    matrix_columns,
)
from oracle import features as oracle

TIERS = ("1m", "1h", "1d")
TIER_KEY = ["conv_id", "channel", "bucket_us"]
TIER_COLS = TIER_KEY + [
    "n", "s1", "s2", "min_raw", "max_raw", "zc",
    "first_ts_us", "last_ts_us", "first_val", "last_val",
    "f_mean", "f_std", "f_rms", "f_min", "f_max", "f_zero_crossings", "f_energy",
]
FLOAT_COLS = {"f_mean", "f_std", "f_rms", "f_min", "f_max", "f_energy"}


def _col_bytes(name: str, values) -> bytes:
    if name == "s2":  # decimal(38,0) in the engine, python int in the oracle
        return "\x1f".join(str(int(v)) for v in values).encode()
    arr = np.asarray(values)
    if arr.dtype.kind in "OUS":
        return "\x1f".join(map(str, values)).encode()
    if name in FLOAT_COLS:
        return arr.astype(np.float64).view(np.int64).tobytes()
    return arr.astype(np.int64).tobytes()


def digest(df: pd.DataFrame, key: list[str], cols: list[str]) -> str:
    """Order-free, bit-exact digest of ``cols`` (non-null) over ``df``."""
    d = df.sort_values(key, kind="mergesort")
    h = hashlib.sha256(str(len(d)).encode())
    for c in cols:
        h.update(c.encode())
        h.update(_col_bytes(c, d[c].tolist() if c == "s2" else d[c].to_numpy()))
    return h.hexdigest()


def _read(path: str, columns: list[str], filt=None) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filt
    )


# ---------------------------------------------------------------- tiers


def _oracle_tiers(df: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """Oracle tiers (dedup → channels → every tier, direct from turns).
    ``s2`` is held as python ints: its numpy dtype varies with the values
    (int64, uint64 or object), and concatenating two such frames would
    silently round it through float64."""
    frames = oracle.all_tiers(df)
    for f in frames.values():
        f["s2"] = pd.Series([int(v) for v in f["s2"]], index=f.index, dtype=object)
    return frames


def oracle_tier_frames(df: pd.DataFrame, procs: int) -> dict[str, pd.DataFrame]:
    """The oracle's tiers, computed in ``procs`` worker processes over
    disjoint sets of conversations (every oracle step is per conversation),
    balanced by turns.  The hot conversation alone holds about a third of
    the turns, so this takes about a third of the serial time."""
    sizes = df.groupby("conv_id", sort=True).size().sort_values(ascending=False, kind="mergesort")
    groups, load = [[] for _ in range(procs)], [0] * procs
    for conv, n in sizes.items():
        k = load.index(min(load))
        groups[k].append(conv)
        load[k] += n
    parts = [df[df["conv_id"].isin(g)] for g in groups if g]
    with multiprocessing.get_context("fork").Pool(len(parts)) as pool:
        done = pool.map(_oracle_tiers, parts)
    return {t: pd.concat([d[t] for d in done], ignore_index=True) for t in TIERS}


def tier_digests(frames: dict[str, pd.DataFrame]) -> dict[str, str]:
    return {t: digest(frames[t], TIER_KEY, TIER_COLS) for t in TIERS}


def read_tier_digests(out_dir: str) -> dict[str, str]:
    """Digests of a rollup job's committed ``tier=<T>`` tables."""
    got = {}
    for t in TIERS:
        cols = [c for c in TIER_COLS if c != "bucket_us"] + ["bucket_start"]
        tab = _read(os.path.join(out_dir, f"tier={t}"), cols)
        pdf = tab.drop(["bucket_start", "s2"]).to_pandas()
        pdf["bucket_us"] = tab["bucket_start"].cast(pa.int64()).to_numpy()
        pdf["s2"] = tab["s2"].to_pylist()
        got[t] = digest(pdf, TIER_KEY, TIER_COLS)
    return got


# ---------------------------------------------------------------- matrix


def _windows(series: pd.DataFrame, step: int, width: int):
    """Brute-force trailing windows of one (conv, channel) series, straight
    from its raw rows: for every present end bucket e, the rows whose bucket
    lies in [e - (width-1)*step, e]; a zero crossing counts iff both turns
    of the consecutive pair lie in the window."""
    s = series.sort_values("turn_idx", kind="mergesort")
    x = s["x"].to_numpy(np.int64)
    ts = s["ts_us"].to_numpy(np.int64)
    b = ts - ts % step
    xo = x.astype(object)
    p1 = np.concatenate([[0], np.cumsum(xo)])
    p2 = np.concatenate([[0], np.cumsum(xo * xo)])
    sign = np.where(x < 0, -1, 1)
    cross = np.concatenate([[0], (sign[1:] * sign[:-1] < 0).astype(np.int64)])
    pc = np.concatenate([[0], np.cumsum(cross)])
    for e in np.unique(b):
        lo = int(np.searchsorted(b, e - (width - 1) * step, "left"))
        hi = int(np.searchsorted(b, e, "right"))
        yield int(e), {
            "n": hi - lo,
            "s1": int(p1[hi] - p1[lo]),
            "s2": int(p2[hi] - p2[lo]),
            "mn": int(x[lo:hi].min()),
            "mx": int(x[lo:hi].max()),
            "zc": int(pc[hi] - pc[lo + 1]),
        }


def expected_matrix(channels: pd.DataFrame, tier: str, width: int) -> pd.DataFrame:
    """Oracle trailing-window matrix rows for the conversations in
    ``channels`` (oracle channel frame).  A channel absent from a row's end
    bucket leaves its cells null."""
    step = TIER_US[tier]
    rows: dict[tuple, dict] = {}
    for (conv, ch), g in channels.groupby(["conv_id", "channel"], sort=False):
        u = oracle.UNIT.get(ch, 1.0)
        for e, st in _windows(g, step, width):
            f = oracle._finalize(st["n"], st["s1"], st["s2"], st["mn"], st["mx"], st["zc"], u)
            cells = rows.setdefault((conv, e), {})
            cells[f"{ch}__n"] = st["n"]
            for name in FEATURES[1:]:
                cells[f"{ch}__{name}"] = f[name]
    out = {
        "conv_id": [c for c, _ in rows],
        "bucket_us": [e for _, e in rows],
    }
    for col in matrix_columns():  # object columns keep ints as ints beside nulls
        out[col] = pd.Series([cells.get(col) for cells in rows.values()], dtype=object)
    return pd.DataFrame(out)


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return v.hex()
    return str(int(v))


def matrix_digest(df: pd.DataFrame) -> str:
    """Digest of wide-matrix rows; null-aware, floats by exact hex."""
    cols = matrix_columns()
    d = df.sort_values(["conv_id", "bucket_us"], kind="mergesort")
    h = hashlib.sha256(str(len(d)).encode())
    h.update("\x1f".join(d["conv_id"]).encode())
    h.update(np.asarray(d["bucket_us"], dtype=np.int64).tobytes())
    for c in cols:
        h.update(c.encode())
        h.update("\x1f".join(_cell(v) for v in d[c].tolist()).encode())
    return h.hexdigest()


def read_matrix_digest(path: str, convs: list[str]) -> str:
    tab = _read(
        path,
        ["conv_id", "bucket_start"] + matrix_columns(),
        ds.field("conv_id").isin(convs),
    )
    pdf = pd.DataFrame(
        {c: pd.Series(tab[c].to_pylist(), dtype=object) for c in ["conv_id"] + matrix_columns()}
    )
    pdf["bucket_us"] = tab["bucket_start"].cast(pa.int64()).to_numpy()
    return matrix_digest(pdf)


def matrix_row_count(df: pd.DataFrame, tier: str) -> int:
    """Rows of a trailing matrix: one per distinct (conversation, end
    bucket) holding at least one deduplicated turn."""
    d = oracle.dedup(df)
    ts = d["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    step = TIER_US[tier]
    return len(pd.DataFrame({"c": d["conv_id"].to_numpy(), "b": ts - ts % step}).drop_duplicates())


def oracle_channels(df: pd.DataFrame) -> pd.DataFrame:
    return oracle.derive_channels(oracle.dedup(df))
