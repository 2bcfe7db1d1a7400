"""The benchmark workloads: seeded inputs, and the facts the checks need.

Everything the program sees is generated here with the package's own
deterministic fixture generator, from ``--seed`` (the drain's base corpus
uses a fixed seed, see below); the expectations returned next to each input
are computed from the generated rows in plain Python, independently of the
pipeline, so the output checks do not trust the code they check.
"""

from __future__ import annotations

import os
import random
import shutil
from datetime import timedelta

from pyspark.sql import functions as F

import checks
from tapes_spark import fixtures
from tapes_spark.tapelog import TapeTable
from tapes_spark.tapelog.writer import SINK_NAMES

# derive_bulk: the fixture generator's default shape mix (plain, tool-loop,
# shadow-flavoured, one 60x-median skew conversation, the rare shapes).
BULK_CONVS = 400
MEDIAN_TURNS = 30

# drain_incremental: a fixed base corpus plus a per-seed delta touching
# DIRTY_SHARE of its conversations.  The base does not depend on the seed
# so that it is derived once per checkout (run.py) instead of in every
# run: deriving it is a cold full derive, as long as a whole bulk run.
DRAIN_BASE_CONVS = 400
DRAIN_BASE_SEED = 20261016
DRAIN_BASE_GROUPS = 4  # ingest batches -> data groups in the input tape
DIRTY_SHARE = 0.01

VALID_ROLES = ("user", "assistant", "tool", "system")


def is_valid(row: tuple) -> bool:
    """The derive-tier drop ladder, restated: a row is derivable when it
    has a conversation, a non-negative position, a known role, and either
    text or a tool."""
    conv_id, turn_idx, role, text, tool, _ts = row
    return (
        bool(conv_id)
        and turn_idx is not None
        and turn_idx >= 0
        and role in VALID_ROLES
        and bool(text or tool)
    )


def expectations(rows: list[tuple]) -> dict:
    valid = [r for r in rows if is_valid(r)]
    per_conv: dict[str, int] = {}
    for r in valid:
        per_conv[r[0]] = per_conv.get(r[0], 0) + 1
    return {
        "input_turns": len(rows),
        "valid_turns": len(valid),
        "valid_convs": len(per_conv),
        "tool_calls": sum(1 for r in valid if r[2] == "assistant" and r[4]),
        "turns_per_conv": per_conv,
    }


def bulk_rows(seed: int) -> list[tuple]:
    return fixtures.generate_transcripts(BULK_CONVS, MEDIAN_TURNS, seed)


def write_rows(path: str, rows: list[tuple]) -> None:
    """Write rows as the transcripts parquet table (conv_id order, small
    row groups, the fixture writer's layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, fixtures.ARROW_SCHEMA)],
        schema=fixtures.ARROW_SCHEMA,
    )
    pq.write_table(table, path, row_group_size=50_000)


def drain_base_rows() -> list[tuple]:
    return fixtures.generate_transcripts(
        DRAIN_BASE_CONVS, MEDIAN_TURNS, DRAIN_BASE_SEED
    )


def drain_delta_rows(base_rows: list[tuple], seed: int) -> list[tuple]:
    """New turns for DIRTY_SHARE of the base conversations, chosen by
    *seed*: each continues its conversation's turn_idx and starts after
    its last ts (the shape of a live capture stream catching up).

    Only conversations of median length (+-1 turn) are candidates, so the
    re-derived history, and with it the operation's work, is the same size
    for every seed."""
    last: dict[str, tuple[int, object]] = {}
    length: dict[str, int] = {}
    for conv_id, turn_idx, _role, _text, _tool, ts in base_rows:
        length[conv_id] = length.get(conv_id, 0) + 1
        prev = last.get(conv_id)
        if prev is None or turn_idx > prev[0]:
            last[conv_id] = (turn_idx, ts)
    median = sorted(length.values())[len(length) // 2]
    candidates = sorted(c for c, n in length.items() if abs(n - median) <= 1)
    rng = random.Random(seed)
    n_dirty = max(1, round(DIRTY_SHARE * len(last)))
    dirty = sorted(rng.sample(candidates, n_dirty))
    rows: list[tuple] = []
    for conv_id in dirty:
        idx, ts = last[conv_id]
        tool = rng.choice(fixtures.TOOLS)
        texts = [
            ("user", rng.choice(fixtures.USER_PROMPTS), ""),
            ("assistant",
             f'Using tool {tool}: {{"arg": "delta-{rng.randint(0, 999)}"}}',
             tool),
            ("tool", f"ok: produced {rng.randint(1, 500)} lines", tool),
            ("assistant", rng.choice(fixtures.ASSISTANT_REPLIES), ""),
        ]
        for role, text, t in texts:
            idx += 1
            ts = ts + timedelta(milliseconds=rng.randint(100, 120_000))
            rows.append((conv_id, idx, role, text, t, ts))
    return rows


class Bulk:
    """derive_bulk: a full derive of a seeded parquet corpus."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.input = os.path.join(run_dir, "transcripts.parquet")
        self.sinks = os.path.join(run_dir, "sinks")

    def prepare(self) -> None:
        rows = bulk_rows(self.seed)
        write_rows(self.input, rows)
        self.expect = expectations(rows)
        self.turns = self.expect["input_turns"]

    def load(self) -> None:
        """Nothing to load: the program reads the parquet file itself."""

    def argv(self) -> list[str]:
        return ["--input", self.input, "--sinks", self.sinks,
                "--run-id", f"bulk-{self.seed}"]

    def check(self, out: dict) -> tuple[list[str], dict]:
        failed, digests = checks.check_sinks(self.sinks, self.expect)
        if out.get("resumed_noop") or None in out["snapshots"].values():
            failed.append("submit skipped a sink on a fresh sink dir")
        return failed, digests

    def committed_files(self) -> list[str]:
        return [f for n in SINK_NAMES
                for f in checks.snapshot_files(os.path.join(self.sinks, n))]

    def read_input(self):
        return self.spark.read.parquet(self.input)

    def input_mb(self) -> float:
        return os.path.getsize(self.input) / 1e6


class Drain:
    """drain_incremental: a seeded delta drained into a derived base."""

    def __init__(self, spark, run_dir: str, seed: int, base: str):
        self.spark, self.run_dir, self.seed, self.base = (
            spark, run_dir, seed, base)
        self.tape = os.path.join(run_dir, "tape")
        self.sinks = os.path.join(run_dir, "sinks")

    def prepare(self) -> None:
        """Restore the base state into a fresh copy (sink groups accrete
        across drains, so every operation starts from the same one) and
        write the seeded delta."""
        for d in (self.tape, self.sinks):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(os.path.join(self.base, "tape"), self.tape)
        shutil.copytree(os.path.join(self.base, "sinks"), self.sinks)
        base_rows = drain_base_rows()
        delta = drain_delta_rows(base_rows, self.seed)
        self.delta_path = os.path.join(self.run_dir, "delta.parquet")
        write_rows(self.delta_path, delta)
        self.dirty = {r[0] for r in delta}
        self.expect = expectations(base_rows + delta)
        # re-derived history: every turn of every dirty conversation
        self.turns = sum(1 for r in base_rows + delta if r[0] in self.dirty)
        self.base_files = self._files(self.sinks)

    def load(self) -> None:
        """Append the delta through the input tape's own writer (once: the
        first Spark job of a run, much slower than a repeat)."""
        TapeTable(self.spark, self.tape).append(
            self.spark.read.parquet(self.delta_path),
            {"op": "ingest", "seed": self.seed}, partition_col="conv_id",
        )

    def argv(self) -> list[str]:
        return ["--input", self.tape, "--input-tape", "--incremental",
                "--sinks", self.sinks, "--run-id", f"drain-{self.seed}"]

    def check(self, out: dict) -> tuple[list[str], dict]:
        failed = []
        if out.get("dirty") != len(self.dirty):
            failed.append(f"drain re-derived {out.get('dirty')} conversations,"
                          f" delta touched {len(self.dirty)}")
        before = checks.outside_digests(
            os.path.join(self.base, "sinks"), self.dirty)
        after = checks.outside_digests(self.sinks, self.dirty)
        for name in before:
            if before[name] != after[name]:
                failed.append(f"{name}: rows outside the delta changed")
        more, digests = checks.check_sinks(self.sinks, self.expect)
        return failed + more, digests

    @staticmethod
    def _files(sinks: str) -> set[str]:
        return {os.path.relpath(f, sinks) for n in SINK_NAMES
                for f in checks.snapshot_files(os.path.join(sinks, n))}

    def committed_files(self) -> list[str]:
        """Data files this drain committed (not present in the base)."""
        return [os.path.join(self.sinks, f)
                for f in self._files(self.sinks) - self.base_files]

    def read_input(self):
        dirty = self.spark.createDataFrame(
            [(c,) for c in sorted(self.dirty)], "conv_id string")
        return TapeTable(self.spark, self.tape).read().join(
            F.broadcast(dirty), "conv_id", "left_semi")

    def input_mb(self) -> float:
        return sum(os.path.getsize(f)
                   for f in checks.snapshot_files(self.tape)) / 1e6
