"""Seeded benchmark inputs.

Every input is a pure function of the workload's seed: the engine's own
fixture generator builds the corpus (its ``bench`` conversation shape, with
fewer conversations), and the append slice for the traced profile is
drawn from a separate seeded stream.  Files are written under the
benchmark's work directory, never through ``ensure_transcripts_parquet``
(which writes into ``tests/data/``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from features_engineering_of_motion_data_spark import fixtures

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

HOT_CONV = "edge_hot"


def generate(seed: int, n_convs: int) -> pd.DataFrame:
    """``fixtures.generate_transcripts("bench", seed)`` with ``n_convs``
    main conversations instead of 20,000: the same per-conversation shape
    (1 + Poisson(99) turns) and the same edge corpus, its 100k-turn
    ``edge_hot`` included."""
    _, lam = fixtures.SCALES["bench"]
    rng = np.random.Generator(np.random.PCG64(seed))
    alphabet = fixtures._make_alphabet(rng)
    conv_ids = np.array([f"conv_{i:06d}" for i in range(n_convs)])
    n_turns = 1 + rng.poisson(lam, n_convs)
    main = fixtures._gen_conv_block(rng, conv_ids, n_turns, alphabet)
    return pd.concat([main, fixtures._edge_corpus(rng, alphabet)], ignore_index=True)


def write_parquet(df: pd.DataFrame, path: str) -> str:
    """Write turns in the engine's input schema; 32768-row groups, the
    fixture layout, so a scan splits into several tasks."""
    table = pa.Table.from_pandas(
        df.assign(ts=df["ts"].astype("datetime64[us]")),
        schema=SCHEMA,
        preserve_index=False,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=32768)
    return path


def split_append(
    df: pd.DataFrame, seed: int, frac: float = 0.05, tail: int = 3
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Hold back the last ``tail`` turns of a seeded ``frac`` of the main
    conversations as one delta file's worth of appended turns.

    Each active conversation keeps at least two base turns, so the delta
    holds strictly newer turns than the base of every conversation it
    touches.  The edge corpus is never appended to.
    """
    d = df.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    sizes = d.groupby("conv_id", sort=True).size()
    main = sizes[sizes.index.str.startswith("conv_")]
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    k = max(1, round(frac * len(main)))
    active = set(rng.choice(main[main >= tail + 2].index.to_numpy(), size=k, replace=False))
    from_end = d.groupby("conv_id", sort=False).cumcount(ascending=False).to_numpy()
    held = d["conv_id"].isin(active).to_numpy() & (from_end < tail)
    return d[~held].reset_index(drop=True), d[held].reset_index(drop=True)


def parquet_bytes(root: str) -> int:
    """Bytes of the committed parquet data files under ``root`` (hidden
    checksum files and ``_SUCCESS`` markers excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
