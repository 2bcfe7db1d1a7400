"""SinkWriter — idempotent, resumable multi-sink commit (D2/D3/ST6).

Writes each pipeline sink to its TapeTable keyed by an input FINGERPRINT
(the input tape's snapshot id + a content key).  Because derivation is a
pure function with deterministic ids, the writer can be killed between
sinks and re-submitted: sinks whose current snapshot already carries the
fingerprint are skipped, the rest are (re)written — the final state is
byte-identical to a single clean run (the reference's at-least-once +
idempotent contract, deriveworker.go:71-73; pytest gate in
tests/test_tapelog.py::test_resume_after_partial_failure).

The pending sinks commit CONCURRENTLY, one thread per sink (each table
still has exactly one writer), so Spark interleaves their jobs across the
executor pool instead of idling cores on each small sink's tail.  A sink
whose commit fails does not stop the others: every commit runs to its
end, then the first error is raised, and a re-submit redoes only the
sinks that missed their commit.

Every commit records lineage (run_id, fingerprint, sink row count
``rows``) in the manifest; the count is observed on the write itself, so
no sink is read back.  A row per sink is appended to the `metrics` tape —
the auditable per-run metrics stream (S10/A8, north_rule "metrics emitted
as an auditable tape").
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from tapes_spark.tapelog.table import TapeTable


def metrics_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(run_id, metric, value) rows as a frame built from pandas, so Arrow
    ships it to the JVM; a list-built frame makes Spark start a Python
    worker per task to write a few dozen driver-local rows."""
    pdf = pd.DataFrame(rows, columns=["run_id", "metric", "value"])
    return spark.createDataFrame(
        pdf, "run_id string, metric string, value double"
    )


SINK_NAMES = (
    "conversation_tape",
    "tool_tape",
    "error_tape",
    "conv_aggregates",
    "verdict_attachments",
    "web_attachments",
    "plan_attachments",
    "chain_tape",
    "link_tape",
)


class SinkWriter:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.tables = {
            name: TapeTable(spark, os.path.join(base_dir, name))
            for name in SINK_NAMES
        }
        self.metrics = TapeTable(spark, os.path.join(base_dir, "metrics"))

    def _sink_done(self, name: str, fingerprint: str) -> bool:
        t = self.tables[name]
        sid = t.current_snapshot_id()
        if sid is None:
            return False
        return t.manifest(sid)["lineage"].get("fingerprint") == fingerprint

    def _commit_sink(
        self, name: str, df, run_id: str, fingerprint: str,
        conv_ids: list | None,
    ) -> tuple[int, float]:
        t0 = time.time()
        table = self.tables[name]
        lineage = {"run_id": run_id, "fingerprint": fingerprint, "sink": name}
        if conv_ids is not None:
            sid = table.overwrite_partitions(df, "conv_id", conv_ids, lineage)
        else:
            sid = table.overwrite(df, lineage)
        return sid, time.time() - t0

    def _rows(self, name: str, sid: int) -> int:
        """The committed snapshot's row count, from its manifest; a table
        holding groups written without observed counts is counted."""
        table = self.tables[name]
        rows = table.manifest(sid)["lineage"].get("rows")
        return rows if rows is not None else table.read(sid).count()

    def write_all(
        self,
        sinks: dict,
        run_id: str,
        fingerprint: str,
        conv_ids: list | None = None,
    ) -> dict[str, int | None]:
        """Write every sink (full overwrite, or partition-scoped when
        conv_ids given), the pending ones concurrently.  Returns snapshot
        id per sink; None = skipped because the fingerprint already
        committed (resume path).  A failed commit is re-raised once every
        other commit has ended, before the metrics row is appended."""
        t_run = time.time()
        names = [n for n in sinks if n in self.tables]
        out: dict[str, int | None] = dict.fromkeys(names)
        pending = [n for n in names if not self._sink_done(n, fingerprint)]
        with ThreadPoolExecutor(max_workers=max(1, len(pending))) as pool:
            # one wrapper per task: each thread gets its own copy of the
            # caller's job group and local properties
            futures = {
                name: pool.submit(
                    inheritable_thread_target(self.spark)(self._commit_sink),
                    name, sinks[name], run_id, fingerprint, conv_ids,
                )
                for name in pending
            }
        for f in futures.values():  # every commit has ended here
            if f.exception() is not None:
                raise f.exception()
        metrics_rows: list[tuple] = []
        for name in SINK_NAMES:
            if name in futures:
                sid, secs = futures[name].result()
                out[name] = sid
                metrics_rows.append(
                    (run_id, f"sink_{name}_rows", float(self._rows(name, sid)))
                )
                metrics_rows.append(
                    (run_id, f"sink_{name}_write_sec", round(secs, 3))
                )
        metrics_rows.append(
            (run_id, "write_all_sec", round(time.time() - t_run, 3))
        )
        self.metrics.append(
            metrics_frame(self.spark, metrics_rows),
            {"run_id": run_id, "fingerprint": fingerprint},
        )
        return out

    def read(self, name: str, snapshot_id: int | None = None):
        return self.tables[name].read(snapshot_id)
