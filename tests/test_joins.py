"""Unit tests for the join operators (SURVEY.md §2.5) on hand-built frames."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tapes_spark.operators.joins import (
    attach_asof,
    pair_tool_calls,
    with_first_capture,
)


def _ts(s: int):
    return datetime(2026, 1, 1, 0, 0, s, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # conv A: call -> result -> result (second result ignored),
        # then call with NO result
        ("A", 0, "user", "do it", "", _ts(0)),
        ("A", 1, "assistant", "Using tool Bash: x", "Bash", _ts(1)),
        ("A", 2, "tool", "ok: done", "Bash", _ts(3)),
        ("A", 3, "tool", "ok: dup result", "Bash", _ts(4)),
        ("A", 4, "assistant", "Using tool Read: y", "Read", _ts(5)),
        # conv B: interleaved tools pair independently; error result
        ("B", 0, "assistant", "Using tool Bash: a", "Bash", _ts(0)),
        ("B", 1, "assistant", "Using tool Grep: b", "Grep", _ts(1)),
        ("B", 2, "tool", "error: boom failure", "Bash", _ts(2)),
        ("B", 3, "tool", "ok: found", "Grep", _ts(6)),
    ]
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


class TestPairToolCalls:
    def test_pairing(self, tiny):
        got = {
            (r["conv_id"], r["turn_idx"]): (
                r["result_turn_idx"],
                r["is_error"],
                r["duration_ms"],
            )
            for r in pair_tool_calls(tiny).collect()
        }
        assert got[("A", 1)][0] == 2  # first result wins, dup ignored
        assert got[("A", 4)][0] is None  # unpaired call kept
        assert got[("B", 0)] == (2, True, 2000.0)
        assert got[("B", 1)] == (3, False, 5000.0)

    def test_one_row_per_call(self, tiny):
        df = pair_tool_calls(tiny)
        assert df.count() == 4
        assert df.select("conv_id", "turn_idx").distinct().count() == 4

    def test_consecutive_same_tool_calls_and_orphan_result(self, spark):
        """Edge cases the lead-based single-window pairing (r6) must hold:
        a result directly follows ITS call in the per-(conv, tool) stream,
        so an interposed same-tool call steals the pairing (call1 stays
        unpaired) and an orphan result before any call pairs nothing."""
        rows = [
            # orphan result before any call of its tool
            ("E", 0, "tool", "ok: orphan", "Bash", _ts(0)),
            # call1 -> call2 -> result: result belongs to call2 only
            ("E", 1, "assistant", "Using tool Bash: one", "Bash", _ts(1)),
            ("E", 2, "assistant", "Using tool Bash: two", "Bash", _ts(2)),
            ("E", 3, "tool", "ok: for two", "Bash", _ts(3)),
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        got = {
            r["turn_idx"]: r["result_turn_idx"]
            for r in pair_tool_calls(df).collect()
        }
        assert got == {1: None, 2: 3}

    def test_collided_rows_pair_the_same_in_any_order(self, spark):
        """Rows colliding on (conv_id, turn_idx) without a src_conv_id
        column must pair identically whatever the input order and the
        partition count: the window order ends in a deterministic
        tie-break, not in shuffle order."""
        rows = [
            ("G", 1, "assistant", "Using tool Bash: one", "Bash", _ts(1)),
            ("G", 1, "assistant", "Using tool Bash: two", "Bash", _ts(2)),
            ("G", 2, "tool", "ok: first", "Bash", _ts(3)),
            ("G", 2, "tool", "error: second", "Bash", _ts(3)),
            ("G", 3, "assistant", "Using tool Bash: three", "Bash", _ts(5)),
            ("G", 3, "tool", "ok: third", "Bash", _ts(6)),
        ]
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

        def paired(ordered, n_parts):
            df = spark.createDataFrame(ordered, cols).repartition(n_parts)
            return sorted(
                tuple(r) for r in pair_tool_calls(df)
                .select("turn_idx", "call_text", "result_turn_idx",
                        "result_text")
                .collect()
            )

        want = paired(rows, 1)
        assert len(want) == 3
        for ordered in (rows, rows[::-1], rows[2:] + rows[:2]):
            for n_parts in (1, 3, 7):
                assert paired(ordered, n_parts) == want


class TestFirstCapture:
    def test_ordered_first_wins(self, spark):
        rows = [
            ("C", 0, "user", "same text", "", _ts(0)),
            ("C", 1, "user", "same text", "", _ts(1)),
            ("C", 2, "user", "other", "", _ts(2)),
            ("D", 0, "user", "same text", "", _ts(0)),  # different conv: first again
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text_norm", "tool", "ts"]
        )
        got = {
            (r["conv_id"], r["turn_idx"]): r["is_first_capture"]
            for r in with_first_capture(df).collect()
        }
        assert got == {("C", 0): True, ("C", 1): False, ("C", 2): True, ("D", 0): True}


class TestAsOfAttach:
    def test_web_attach_recency_and_consume_once(self, spark):
        rows = [
            ("E", 0, "assistant", "Using WebFetch", "WebFetch", _ts(0), "main"),
            ("E", 1, "user", "Web page content: a", "", _ts(1), "web"),
            ("E", 2, "user", "Web page content: b", "", _ts(2), "web"),
            ("E", 3, "assistant", "Using WebSearch", "WebSearch", _ts(3), "main"),
            ("E", 4, "user", "Web page content: c", "", _ts(4), "web"),
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts", "call_kind"]
        )
        got = sorted(
            (r["attacher_turn_idx"], r["target_turn_idx"], r["target_tool"])
            for r in attach_asof(df, "web", ["WebFetch", "WebSearch"]).collect()
        )
        # turn 1 consumes the WebFetch at 0; turn 2 finds the same target
        # already consumed -> dropped by consume-once; turn 4 takes WebSearch
        assert got == [(1, 0, "WebFetch"), (4, 3, "WebSearch")]


class TestThreadScopedVerdicts:
    """attach.go:38-108: stage-1/2 grouping + same-thread-first matching."""

    @pytest.fixture(scope="class")
    def attachments(self, spark):
        from tapes_spark.operators.joins import attach_verdicts
        from tapes_spark.pipeline import build_enriched

        act = 'Using tool Bash: {"command": "rm -rf build/"}'
        quoted = ("<transcript>Using tool Bash: "
                  '{"command": "rm -rf build/"}</transcript> allowed?')
        rows = [
            ("C", 0, "user", "start", "", _ts(0)),
            ("C", 1, "assistant", f"{act} [thread: t1]", "Bash", _ts(1)),
            ("C", 2, "tool", "ok: done", "Bash", _ts(2)),
            ("C", 3, "assistant", f"{act} [thread: t2]", "Bash", _ts(3)),
            ("C", 4, "tool", "ok: done", "Bash", _ts(4)),
            ("C", 5, "user", quoted, "", _ts(5)),
            # stage-1 check fires from t2: must attach to turn 3 even
            # though turn 1 is the earlier global match
            ("C", 6, "assistant", "<block>no</block> [thread: t2]", "",
             _ts(6)),
            # stage-2 escalation (main process, no thread) groups with it
            ("C", 7, "assistant", "<block>no</block> [check-stage: 2]", "",
             _ts(7)),
            ("C", 8, "user", quoted, "", _ts(8)),
            # a t1-thread check starts its own group -> turn 1
            ("C", 9, "assistant", "<block>yes</block> [thread: t1]", "",
             _ts(9)),
        ]
        tx = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        enriched, _ = build_enriched(spark, tx)
        return {
            r["check_turn_idx"]: r
            for r in attach_verdicts(enriched).collect()
        }

    def test_same_thread_wins_over_global_order(self, attachments):
        assert attachments[6]["tool_turn_idx"] == 3

    def test_stage2_shares_the_stage1_attachment(self, attachments):
        assert attachments[7]["tool_turn_idx"] == 3

    def test_disagreeing_thread_starts_new_group(self, attachments):
        assert attachments[9]["tool_turn_idx"] == 1
        assert attachments[9]["disposition"] == "BLOCK"

    def test_verdict_fan_in_bounded(self, attachments):
        # spans_corpus_test.go:88-89: only a stage1+stage2 pair may share
        # a judged tool — consume-once pops the candidate for other groups
        from collections import Counter

        shared = Counter(
            a["tool_turn_idx"]
            for a in attachments.values()
            if a["tool_turn_idx"] is not None
        )
        assert all(v <= 2 for v in shared.values())

    def test_shared_anchor_is_a_stage_pair(self, attachments):
        # when two checks DO share a judged tool, they must be the
        # stage-1 + stage-2 escalation pair, never two stage-1 checks
        # (verdictFanIn assertion, spans_corpus_test.go:88-89)
        from collections import defaultdict

        by_tool = defaultdict(list)
        for a in attachments.values():
            if a["tool_turn_idx"] is not None:
                by_tool[a["tool_turn_idx"]].append(a["check_stage"])
        assert any(len(v) == 2 for v in by_tool.values())  # pair exercised
        for stages in by_tool.values():
            if len(stages) == 2:
                assert sorted(stages) == [1, 2]


class TestResumeBoundary:
    def test_system_inserts_after_last_fresh_assistant(self, spark):
        """A11 (spans.go:480-490): system turns after the last FRESH
        assistant turn are context replay; earlier ones are not.  A
        re-sent (duplicate) assistant turn does not move the boundary."""
        from tapes_spark.operators.joins import (
            with_first_capture,
            with_resume_boundary,
        )

        rows = [
            ("C", 0, "system", "sys prompt"),
            ("C", 1, "user", "hi"),
            ("C", 2, "assistant", "fresh answer"),
            ("C", 3, "system", "mid insert"),       # before boundary
            ("C", 4, "assistant", "last fresh"),
            ("C", 5, "assistant", "fresh answer"),  # duplicate of turn 2
            ("C", 6, "system", "replayed context"),  # after boundary
            ("C", 7, "system", "another insert"),    # after boundary
            # conv with no fresh assistant: every system turn marks
            ("D", 0, "system", "alone"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text_norm string"
        )
        out = {
            (r["conv_id"], r["turn_idx"]): r["is_system_insert"]
            for r in with_resume_boundary(with_first_capture(df)).collect()
        }
        assert out[("C", 0)] is False and out[("C", 3)] is False
        assert out[("C", 6)] is True and out[("C", 7)] is True
        assert out[("C", 2)] is False  # non-system never marks
        assert out[("D", 0)] is True
