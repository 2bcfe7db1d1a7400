"""Unit tests for the aggregate stage (SURVEY.md §2.6)."""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from tapes_spark.operators import aggregate as agg
from tapes_spark.pipeline import run_pipeline


_TASKS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tasks_json", StringType()),
        StructField("n_tasks", IntegerType()),
        StructField("n_updates", IntegerType()),
    ]
)


def tasks_fold_grouped(tool_tape):
    """A4 as a grouped-map pandas fold — the direct transcription of the
    reference's sequential replay, and the reference the native
    ``agg.tasks_fold`` is pinned against.  The per-group fold is nested
    so it pickles by value: Python workers cannot import this module."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        """Replay TaskCreate/TaskUpdate results in (ts, turn_idx) order —
        id via regex ``#(\\d+)``, status/subject last-write-wins, 'deleted'
        filtered, update counting (tapes tasks.go:14-111)."""
        created = re.compile(r"#(\d+)(?::\s*(.*))?")
        updated = re.compile(r"#(\d+)(?:\s+status=(\w+))?(?:\s+subject=(.*))?")
        pdf = pdf.sort_values(["ts", "turn_idx"])
        tasks: dict[int, dict] = {}
        n_updates = 0
        conv_id = pdf["conv_id"].iloc[0] if len(pdf) else None
        for tool, raw in zip(pdf["tool"].tolist(), pdf["result_text"].tolist()):
            text = str(raw or "")
            if tool == "TaskCreate":
                m = created.search(text)
                if m:
                    tid = int(m.group(1))
                    tasks[tid] = {
                        "id": tid,
                        "subject": (m.group(2) or "").strip(),
                        "status": "open",
                        "updates": 0,
                    }
            elif tool == "TaskUpdate":
                m = updated.search(text)
                if m:
                    tid = int(m.group(1))
                    if tid in tasks:
                        if m.group(2):
                            tasks[tid]["status"] = m.group(2)
                        if m.group(3):
                            tasks[tid]["subject"] = m.group(3).strip()
                        tasks[tid]["updates"] += 1
                        n_updates += 1
        live = [t for _, t in sorted(tasks.items()) if t["status"] != "deleted"]
        return pd.DataFrame(
            [
                (
                    conv_id,
                    json.dumps(live, sort_keys=True, separators=(",", ":")),
                    len(live),
                    n_updates,
                )
            ],
            columns=["conv_id", "tasks_json", "n_tasks", "n_updates"],
        )

    task_rows = tool_tape.filter(
        F.col("tool").isin("TaskCreate", "TaskUpdate")
        & F.col("result_text").isNotNull()
    ).select("conv_id", "turn_idx", "tool", "result_text",
             F.col("result_ts").alias("ts"))
    return task_rows.groupBy("conv_id").applyInPandas(
        fold, schema=_TASKS_SCHEMA
    )


def _ts(s: int):
    return datetime(2026, 1, 1, 0, 0, s, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def result(spark, transcripts):
    return run_pipeline(spark, transcripts)


class TestKindCountsEmptyFold:
    def test_covered_conv_without_kinds_gets_empty_map(self, spark):
        df = spark.createDataFrame(
            [("X", 0, None)], "conv_id string, turn_idx int, call_kind string"
        )
        covered = spark.createDataFrame([("X",), ("Y",)], ["conv_id"])
        got = {r["conv_id"]: r["kind_counts"] for r in
               agg.kind_counts(df, covered).collect()}
        assert got == {"X": {}, "Y": {}}


class TestModelUsage:
    def test_cost_ordering_stable(self, result):
        rows = result.sinks["conv_aggregates"].select(
            "conv_id", "model_usage"
        ).collect()
        for r in rows:
            mu = r["model_usage"]
            if not mu:
                continue
            costs = [m["cost_usd"] for m in mu]
            assert costs == sorted(costs, reverse=True)
            # ties broken by model name ascending
            for a, b in zip(mu, mu[1:]):
                if a["cost_usd"] == b["cost_usd"]:
                    assert a["model"] <= b["model"]

    def test_cost_share_sums_to_one(self, spark, result):
        mu = agg.model_usage(result.enriched)
        per_conv = mu.groupBy("conv_id").agg(
            F.round(F.sum("cost_share"), 3).alias("s"),
            F.sum("cost_usd").alias("c"),
        )
        bad = per_conv.filter((F.col("c") > 0) & (F.abs(F.col("s") - 1.0) > 0.01))
        assert bad.count() == 0


class TestTasksFold:
    def test_replay_semantics(self, spark):
        rows = [
            # (conv, turn, tool, result_text, ts)
            ("T", 1, "TaskCreate", "ok: created task #1: fix parser", _ts(1)),
            ("T", 2, "TaskCreate", "ok: created task #2: add tests", _ts(2)),
            ("T", 3, "TaskUpdate", "ok: updated task #1 status=done", _ts(3)),
            ("T", 4, "TaskUpdate", "ok: updated task #2 status=deleted", _ts(4)),
            ("T", 5, "TaskUpdate", "ok: updated task #9 status=done", _ts(5)),  # unknown id: ignored
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "tool", "result_text", "result_ts"]
        )
        got = agg.tasks_fold(df).collect()
        assert len(got) == 1
        tasks = json.loads(got[0]["tasks_json"])
        assert [t["id"] for t in tasks] == [1]  # deleted filtered out
        assert tasks[0]["status"] == "done"
        assert got[0]["n_tasks"] == 1
        assert got[0]["n_updates"] == 2


class TestTasksFoldParity:
    def test_native_matches_grouped_pandas(self, result):
        """The native window/max_by tasks fold must equal the grouped-map
        pandas transcription of the reference replay, row for row."""
        tape = result.sinks["tool_tape"]
        native = {
            r["conv_id"]: (r["tasks_json"], r["n_tasks"], r["n_updates"])
            for r in agg.tasks_fold(tape).collect()
        }
        grouped = {
            r["conv_id"]: (r["tasks_json"], r["n_tasks"], r["n_updates"])
            for r in tasks_fold_grouped(tape).collect()
        }
        assert native == grouped


class TestStatusLadder:
    def test_git_wins_over_errors(self, spark):
        # conv with git activity AND high error rate -> completed (sticky git)
        rows = [
            ("G", 0, "user", "ship", "", _ts(0)),
            ("G", 1, "assistant", "Using tool Bash: git commit -m x", "Bash", _ts(1)),
            ("G", 2, "tool", "error: boom", "Bash", _ts(2)),
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        from tapes_spark.pipeline import build_enriched
        from tapes_spark.operators.joins import pair_tool_calls

        enriched, _ = build_enriched(df.sparkSession, df)
        tape = pair_tool_calls(enriched)
        got = agg.conv_status(enriched, tape).collect()[0]
        assert got["status"] == "completed"
        assert got["has_git_activity"]

    def test_error_rate_fails(self, spark):
        rows = [
            ("H", 0, "user", "go", "", _ts(0)),
            ("H", 1, "assistant", "Using tool Bash: x", "Bash", _ts(1)),
            ("H", 2, "tool", "error: boom", "Bash", _ts(2)),
            ("H", 3, "assistant", "done [stop_reason: end_turn]", "", _ts(3)),
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        from tapes_spark.pipeline import build_enriched
        from tapes_spark.operators.joins import pair_tool_calls

        enriched, _ = build_enriched(df.sparkSession, df)
        tape = pair_tool_calls(enriched)
        got = agg.conv_status(enriched, tape).collect()[0]
        assert got["status"] == "failed"  # 1 error * 2 > 1 result


class TestWindowedStats:
    def test_full_window_totals(self, spark, result):
        status = result.sinks["conv_aggregates"].select("conv_id", "status")
        stats = agg.windowed_stats(
            result.sinks["conversation_tape"], status
        ).collect()[0]
        assert stats["conv_count"] == 8
        assert stats["trace_count"] == result.sinks["conversation_tape"].count()
        assert stats["completed_conv_count"] == 6
        # token sums must equal the per-conv sums
        conv_total = result.sinks["conv_aggregates"].agg(
            F.sum("total_input_tokens")
        ).collect()[0][0]
        assert stats["total_input_tokens"] == conv_total

    def test_time_window_filters(self, spark, result):
        status = result.sinks["conv_aggregates"].select("conv_id", "status")
        narrow = agg.windowed_stats(
            result.sinks["conversation_tape"],
            status,
            since="2026-01-01 00:00:00",
            until="2026-01-01 00:05:00",
        ).collect()[0]
        full = agg.windowed_stats(
            result.sinks["conversation_tape"], status
        ).collect()[0]
        assert 0 < narrow["trace_count"] < full["trace_count"]


class TestSaltedAggs:
    def test_salted_collect_matches_plain(self, spark, result):
        plain = (
            result.enriched.groupBy("conv_id")
            .agg(F.collect_list("turn_idx").alias("idxs"))
            .collect()
        )
        salted = agg.salted_collect(
            result.enriched, "conv_id", F.col("turn_idx"), "idxs", n_salt=8
        ).collect()
        p = {r["conv_id"]: sorted(r["idxs"]) for r in plain}
        s = {r["conv_id"]: sorted(r["idxs"]) for r in salted}
        assert p == s

    def test_salted_count_distinct_matches_plain(self, spark, result):
        plain = {
            r["conv_id"]: r["n"]
            for r in result.enriched.groupBy("conv_id")
            .agg(F.countDistinct("call_kind").alias("n"))
            .collect()
        }
        salted = {
            r["conv_id"]: r["n"]
            for r in agg.salted_count_distinct(
                result.enriched, "conv_id", "call_kind", "n", n_salt=8
            ).collect()
        }
        assert plain == salted
