"""Untimed output checks over the committed sinks.

Sinks are read back from their TapeTable manifests with pyarrow, outside
Spark, so a check never re-runs the plan it is checking.  A digest is the
row count plus an order-independent content hash (sum of per-row hashes
mod 2**64, so duplicates count).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tapes_spark.tapelog.writer import SINK_NAMES


def snapshot_files(table_root: str) -> list[str]:
    """Absolute data files of a TapeTable's current snapshot."""
    with open(os.path.join(table_root, "_current")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(table_root, "snapshots", f"{sid}.json")) as f:
        files = json.load(f)["files"]
    return [os.path.join(table_root, p) for p in files]


def read_sink(sinks_dir: str, name: str) -> pd.DataFrame:
    files = snapshot_files(os.path.join(sinks_dir, name))
    return pq.ParquetDataset(files).read().to_pandas()


def _hashable(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, dict, tuple)):
        return json.dumps(v, sort_keys=True, default=str)
    return v


def digest(df: pd.DataFrame) -> str:
    if df.empty:
        return "0:0"
    cols = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            s = s.map(_hashable).astype("string")
        cols[c] = s
    h = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False)
    total = int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return f"{len(df)}:{total:016x}"


def check_sinks(sinks_dir: str, expect: dict) -> tuple[list[str], dict]:
    """The invariants every derive must satisfy against its own input.
    Returns (failed check messages, {sink: digest})."""
    tables = {name: read_sink(sinks_dir, name) for name in SINK_NAMES}
    failed: list[str] = []

    def need(ok: bool, msg: str) -> None:
        if not ok:
            failed.append(msg)

    chain, aggs, tools = (
        tables["chain_tape"], tables["conv_aggregates"], tables["tool_tape"]
    )
    need(len(chain) == expect["valid_turns"],
         f"chain_tape rows {len(chain)} != valid turns {expect['valid_turns']}")
    need(len(aggs) == expect["valid_convs"],
         f"conv_aggregates rows {len(aggs)} != valid convs "
         f"{expect['valid_convs']}")
    need(int(aggs["turn_count"].sum()) == expect["valid_turns"],
         f"sum(turn_count) {int(aggs['turn_count'].sum())} != valid turns "
         f"{expect['valid_turns']}")
    need(len(tools) == expect["tool_calls"],
         f"tool_tape rows {len(tools)} != tool calls {expect['tool_calls']}")
    for name in ("chain_tape", "tool_tape"):
        dups = int(tables[name].duplicated(["conv_id", "turn_idx"]).sum())
        need(dups == 0, f"{name} has {dups} duplicate (conv_id, turn_idx)")
    counts = dict(zip(aggs["conv_id"], aggs["turn_count"]))
    wrong = [
        c for c, n in expect["turns_per_conv"].items() if counts.get(c) != n
    ]
    need(not wrong, f"turn_count wrong for {len(wrong)} conversations, "
                    f"e.g. {wrong[:3]}")
    return failed, {name: digest(df) for name, df in tables.items()}


def outside_digests(sinks_dir: str, dirty: set[str]) -> dict:
    """Per-sink digests of the rows of every conversation NOT in *dirty*."""
    out = {}
    for name in SINK_NAMES:
        df = read_sink(sinks_dir, name)
        out[name] = digest(df[~df["conv_id"].isin(dirty)])
    return out
