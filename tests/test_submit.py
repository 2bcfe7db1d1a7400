"""spark-submit entry point (tapes_spark/submit.py): full-mode idempotent
submit, fingerprint resume no-op, and the incremental drain mode —
SURVEY §7 item 8's packaged job, driven exactly as a scheduler would
re-submit it."""

from __future__ import annotations

from collections import Counter

import pytest

from tapes_spark import submit
from tapes_spark.fixtures import write_transcripts
from tapes_spark.tapelog import SinkWriter, TapeTable
from tapes_spark.tapelog.writer import SINK_NAMES


@pytest.fixture(scope="module")
def tx_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("submit") / "tx.parquet")
    write_transcripts(p, n_convs=6, median_turns=8, seed=42)
    return p


class TestFullMode:
    def test_full_writes_all_sinks(self, spark, tx_path, tmp_path):
        sinks = str(tmp_path / "sinks")
        out = submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r1"]
        )
        assert out["mode"] == "full" and not out["resumed_noop"]
        assert set(out["snapshots"]) == set(SINK_NAMES)
        assert all(v is not None for v in out["snapshots"].values())
        w = SinkWriter(spark, sinks)
        assert w.read("conversation_tape").count() > 0
        # run metrics reached the auditable tape, with the transport-tier
        # drop counters included (raw input was passed)
        metrics = {
            r["metric"] for r in w.metrics.read().collect()
        }
        assert "turns_in" in metrics
        # transport-tier counters present because submit passes the raw
        # input to run_metrics (omitted-never-faked contract)
        for reason in ("missing_ts", "duplicate_capture", "ts_regression"):
            assert f"drop_reason_{reason}" in metrics

    def test_resubmit_same_input_is_noop(self, spark, tx_path, tmp_path):
        sinks = str(tmp_path / "sinks")
        submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r1"]
        )
        w = SinkWriter(spark, sinks)
        n_metrics = w.metrics.read().count()
        out2 = submit.main(
            ["--input", tx_path, "--sinks", sinks, "--run-id", "r2"]
        )
        assert out2["resumed_noop"]
        assert all(v is None for v in out2["snapshots"].values())
        # the pipeline metrics are NOT re-derived/re-appended for the
        # no-op resubmit (write_all still audits its own pass with a
        # single write_all_sec row — that one is expected)
        m = w.metrics.read()
        assert m.filter("metric = 'turns_in'").count() == 1
        assert m.filter(
            "run_id = 'r2' and metric != 'write_all_sec'"
        ).count() == 0
        assert m.count() <= n_metrics + 1


class TestMetricsTape:
    # every counter one full submit of the module corpus puts on the
    # metrics tape, pinned from the recount path that wrote each sink's
    # rows twice (once from write_all's read-back, once from run_metrics)
    PINNED = {
        "turns_in": 53.0,
        "turns_quarantined": 1.0,
        "drop_reason_duplicate_capture": 0.0,
        "drop_reason_empty_turn": 0.0,
        "drop_reason_missing_attribution": 0.0,
        "drop_reason_missing_order": 0.0,
        "drop_reason_missing_role": 0.0,
        "drop_reason_missing_ts": 0.0,
        "drop_reason_ts_regression": 0.0,
        "drop_reason_unknown_role": 1.0,
        "call_kind_check": 1.0,
        "call_kind_compaction": 1.0,
        "call_kind_main": 23.0,
        "call_kind_plan": 1.0,
        "call_kind_prompt": 11.0,
        "call_kind_suggestion": 1.0,
        "call_kind_title": 1.0,
        "call_kind_tool_result": 13.0,
        "call_kind_web": 1.0,
        "sink_conversation_tape_rows": 11.0,
        "sink_tool_tape_rows": 13.0,
        "sink_error_tape_rows": 1.0,
        "sink_conv_aggregates_rows": 6.0,
        "sink_verdict_attachments_rows": 1.0,
        "sink_web_attachments_rows": 1.0,
        "sink_plan_attachments_rows": 1.0,
        "sink_chain_tape_rows": 53.0,
        "sink_link_tape_rows": 28.0,
    }
    TIMINGS = {
        "write_all_sec", "wall_seconds",
        *(f"sink_{name}_write_sec" for name in SINK_NAMES),
    }
    # jobs of one full submit on the module corpus, cold cache: 90 when
    # the sinks committed one by one and were counted by read-back; 47
    # with concurrent commits and counts observed on the writes
    JOB_BUDGET = 51

    def test_each_counter_once_with_pinned_values(
        self, spark, tx_path, tmp_path
    ):
        sinks = str(tmp_path / "sinks")
        submit.main(["--input", tx_path, "--sinks", sinks, "--run-id", "r1"])
        rows = [
            (r["metric"], r["value"])
            for r in SinkWriter(spark, sinks).metrics.read().collect()
        ]
        counts = Counter(m for m, _ in rows)
        assert {m for m, n in counts.items() if n > 1} == set()
        assert set(counts) == set(self.PINNED) | self.TIMINGS
        assert {m: v for m, v in rows if m in self.PINNED} == self.PINNED

    def test_job_budget(self, spark, tx_path, tmp_path):
        """A later change that brings back a recount (or a read-back per
        sink) breaks the budget.  Worker threads (sink commits, the
        fingerprint) that lose the caller's job group launch ungrouped
        jobs: without the inheritance only 9 jobs stay in the group."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        # frames cached by earlier submits of the same input would let
        # this one skip jobs
        spark.catalog.clearCache()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        group = "test-submit-job-budget"
        sc.setJobGroup(group, group)
        try:
            submit.main(
                ["--input", tx_path, "--sinks", str(tmp_path / "sinks"),
                 "--run-id", "r1"]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # (the tracker drops its oldest jobs, so compare new ids only)
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
        n_jobs = len(tracker.getJobIdsForGroup(group))
        assert len(SINK_NAMES) <= n_jobs <= self.JOB_BUDGET


class TestIncrementalMode:
    def test_incremental_requires_tape(self, tx_path, tmp_path):
        with pytest.raises(SystemExit):
            submit.main(
                ["--input", tx_path, "--sinks", str(tmp_path / "s"),
                 "--run-id", "r1", "--incremental"]
            )

    def test_incremental_drain_then_noop(self, spark, tx_path, tmp_path):
        root = str(tmp_path / "input_tape")
        tape = TapeTable(spark, root)
        tape.append(spark.read.parquet(tx_path), {"op": "seed"})
        sinks = str(tmp_path / "sinks")
        out = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d1"]
        )
        assert out["mode"] == "incremental"
        assert out.get("dirty", 0) > 0
        out2 = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d2"]
        )
        assert out2.get("skipped") or out2.get("dirty", 1) == 0


class TestMaintainMode:
    def test_maintain_excludes_other_modes(self, tx_path, tmp_path):
        with pytest.raises(SystemExit):
            submit.main(
                ["--input", tx_path, "--input-tape", "--sinks",
                 str(tmp_path / "s"), "--run-id", "m0", "--maintain",
                 "--incremental"]
            )
        with pytest.raises(SystemExit):  # non-maintain still needs input
            submit.main(["--sinks", str(tmp_path / "s"), "--run-id", "m0"])

    def test_maintain_compacts_and_resume_survives(
        self, spark, tx_path, tmp_path
    ):
        import os

        root = str(tmp_path / "input_tape")
        tape = TapeTable(spark, root)
        tx = spark.read.parquet(tx_path)
        convs = sorted(
            r["conv_id"] for r in tx.select("conv_id").distinct().collect()
        )
        # seed with part of the corpus, drain, then append the rest and
        # drain again — each sink table now holds several small groups
        tape.append(
            tx.filter(tx.conv_id.isin(convs[:3])), partition_col="conv_id"
        )
        sinks = str(tmp_path / "sinks")
        submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d1"]
        )
        tape.append(
            tx.filter(tx.conv_id.isin(convs[3:])), partition_col="conv_id"
        )
        submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d2"]
        )
        w = SinkWriter(spark, sinks)

        def snap(n):
            from pyspark.sql import functions as F

            return sorted(
                (r["conv_id"], r["cnt"], r["h"])
                for r in w.read(n)
                .groupBy("conv_id")
                .agg(
                    F.count("*").alias("cnt"),
                    F.bit_xor(
                        F.xxhash64(F.to_json(F.struct("*")))
                    ).alias("h"),
                )
                .collect()
            )

        before = {n: snap(n) for n in ("conversation_tape", "tool_tape")}
        n_groups_before = len(
            os.listdir(os.path.join(sinks, "conversation_tape", "data"))
        )
        out = submit.main(
            ["--input", root, "--input-tape", "--maintain",
             "--sinks", sinks, "--run-id", "m1", "--expire-keep", "1"]
        )
        assert out["mode"] == "maintain"
        csid = out["tables"]["conversation_tape"]["compacted_snapshot"]
        assert csid
        after = {n: snap(n) for n in ("conversation_tape", "tool_tape")}
        assert after == before  # layout changed, content identical
        # current snapshot scans ONE merged group where several stood
        t = SinkWriter(spark, sinks).tables["conversation_tape"]
        dirs = {os.path.dirname(f) for f in t.manifest(csid)["files"]}
        assert len(dirs) == 1
        # expiry (keep_last=1) dropped the pre-compaction groups on disk
        n_groups_after = len(
            os.listdir(os.path.join(sinks, "conversation_tape", "data"))
        )
        assert n_groups_after < n_groups_before  # expiry removed old groups
        # the drain checkpoint still resolves and the queue is empty —
        # compaction must be invisible to the incremental consumer
        out3 = submit.main(
            ["--input", root, "--input-tape", "--incremental",
             "--sinks", sinks, "--run-id", "d3"]
        )
        assert out3.get("skipped") or out3.get("dirty", 1) == 0

    def test_maintain_keeps_fingerprint_noop(self, spark, tx_path, tmp_path):
        root = str(tmp_path / "ft_tape")
        tape = TapeTable(spark, root)
        tx = spark.read.parquet(tx_path)
        # two appends so the input tape itself has something to compact
        tape.append(tx.limit(50), partition_col="conv_id")
        tape.append(
            tx.exceptAll(tx.limit(50)), partition_col="conv_id"
        )
        sinks = str(tmp_path / "ft_sinks")
        submit.main(
            ["--input", root, "--input-tape", "--sinks", sinks,
             "--run-id", "f1"]
        )
        submit.main(
            ["--input", root, "--input-tape", "--maintain",
             "--sinks", sinks, "--run-id", "fm"]
        )
        # input tape was compacted (2 groups -> 1, barrier = current
        # since no incremental checkpoint exists)
        assert TapeTable(spark, root).manifest(
            TapeTable(spark, root).current_snapshot_id()
        )["operation"] == "compact"
        # re-submit of the SAME logical input resumes as a no-op: the
        # fingerprint ignores compaction snapshots on both sides
        out = submit.main(
            ["--input", root, "--input-tape", "--sinks", sinks,
             "--run-id", "f2"]
        )
        assert out["resumed_noop"]
