"""TapeTable / SinkWriter / IncrementalDeriver gates — snapshot isolation,
idempotent MERGE+prune, resume-after-kill byte-equality, late-data
re-derive (SURVEY.md §2.8, §2.10; build plan steps 6-7)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tapes_spark.pipeline import run_pipeline
from tapes_spark.tapelog import IncrementalDeriver, SinkWriter, TapeTable
from tapes_spark.tapelog.table import _key_bucket


def _comparable(df):
    cols = [
        F.to_json(F.col(f.name)).alias(f.name)
        if f.dataType.typeName() in ("map", "array", "struct")
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(cols)


def _same(a, b) -> bool:
    a, b = _comparable(a), _comparable(b)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _read_back_buckets(spark, table, group_dir, col="conv_id"):
    """A group's key-hash buckets, read back from its files."""
    rows = (
        spark.read.parquet(os.path.join(table.root, group_dir))
        .select((F.crc32(F.col(col).cast("string")) % 1024).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(int(r["b"]) for r in rows)


def _pruned_by_read_back(spark, table, keys):
    """TapeTable.pruned_files with every group's bucket set read back from
    its files instead of taken from the manifest."""
    m = table.manifest(table.current_snapshot_id())
    key_buckets = {_key_bucket(k) for k in keys}
    kept = []
    for f in m["files"]:
        group_dir = os.path.dirname(f)
        entry = m["partition_buckets"].get(group_dir)
        if entry is None or entry.get("col") != "conv_id" or (
            key_buckets & set(_read_back_buckets(spark, table, group_dir))
        ):
            kept.append(f)
    return kept


class TestTapeTable:
    def test_append_and_time_travel(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "t1"))
        df1 = spark.createDataFrame([("a", 1)], "conv_id string, v int")
        df2 = spark.createDataFrame([("b", 2)], "conv_id string, v int")
        s1 = t.append(df1)
        s2 = t.append(df2)
        assert t.read(s1).count() == 1
        assert t.read(s2).count() == 2
        assert t.current_snapshot_id() == s2
        assert [m["snapshot_id"] for m in t.snapshots()] == [s1, s2]

    def test_incremental_read(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "t2"))
        s1 = t.append(spark.createDataFrame([("a", 1)], "conv_id string, v int"))
        assert t.read_incremental(s1) is None
        t.append(spark.createDataFrame([("b", 2)], "conv_id string, v int"))
        delta = t.read_incremental(s1)
        assert [r["conv_id"] for r in delta.collect()] == ["b"]

    def test_overwrite_partitions_merge_prune(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "t3"))
        t.append(
            spark.createDataFrame(
                [("a", 1), ("a", 2), ("b", 10)], "conv_id string, v int"
            )
        )
        # re-derive conv a: one row now (prune a's stale row, keep b)
        t.overwrite_partitions(
            spark.createDataFrame([("a", 99)], "conv_id string, v int"),
            "conv_id",
            ["a"],
        )
        got = sorted((r["conv_id"], r["v"]) for r in t.read().collect())
        assert got == [("a", 99), ("b", 10)]

    def test_overwrite_partitions_nonstring_keys(self, spark, tmp_path):
        """Regression: int partition keys must prune stale rows too (the
        stringified-manifest-vs-raw-keyset intersection bug silently kept
        them, duplicating every replaced row)."""
        t = TapeTable(spark, str(tmp_path / "t5"))
        t.append(
            spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
        )
        t.overwrite_partitions(
            spark.createDataFrame([(1, "new")], "k int, v string"), "k", [1]
        )
        # second round exercises the bucket-stats prune path written above
        t.overwrite_partitions(
            spark.createDataFrame([(1, "newer")], "k int, v string"), "k", [1]
        )
        got = sorted((r["k"], r["v"]) for r in t.read().collect())
        assert got == [(1, "newer"), (2, "keep")]

    def test_manifest_stats_bounded(self, spark, tmp_path):
        """Manifest pruning stats must be O(buckets), never O(keys)."""
        t = TapeTable(spark, str(tmp_path / "t6"))
        many = spark.range(5000).select(
            F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
            F.col("id").alias("v"),
        )
        t.append(many)
        s = t.overwrite_partitions(
            spark.createDataFrame([("conv-1", -1)], "conv_id string, v bigint"),
            "conv_id",
            ["conv-1"],
        )
        m = t.manifest(s)
        for entry in m["partition_buckets"].values():
            assert entry["col"] == "conv_id"
            assert len(entry["buckets"]) <= 1024
        assert "partition_values" not in m

    def test_pruning_is_column_scoped(self, spark, tmp_path):
        """Bucket stats recorded for one column must NEVER prune a scan
        keyed on a different column — the stats say nothing about the
        other column's values (silent data loss otherwise)."""
        t = TapeTable(spark, str(tmp_path / "t6b"))
        df = spark.createDataFrame(
            [("conv-a", "user-1", 1), ("conv-b", "user-2", 2)],
            "conv_id string, user_id string, v int",
        )
        t.append(df, partition_col="conv_id")
        all_files = t.manifest(t.current_snapshot_id())["files"]
        # same column: pruning applies (a key in no bucket skips the group)
        assert t.pruned_files("conv_id", ["conv-a"]) == all_files
        # different column: stats are inapplicable -> every group kept,
        # even for keys whose crc buckets don't intersect the stored set
        assert t.pruned_files("user_id", ["user-zzz-not-there"]) == all_files
        assert (
            t.read_pruned("user_id", ["user-1"])
            .filter(F.col("user_id") == "user-1")
            .count()
            == 1
        )

    def test_lineage_recorded(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "t4"))
        s = t.append(
            spark.createDataFrame([("a", 1)], "conv_id string, v int"),
            lineage={"run_id": "r1", "fingerprint": "f1"},
        )
        m = t.manifest(s)
        assert m["lineage"] == {"run_id": "r1", "fingerprint": "f1"}
        assert m["operation"] == "append"

    def test_observed_stats_equal_read_back(self, spark, tmp_path):
        """The row count and bucket sets observed on each write equal what
        reading the committed data back gives: `rows` is the snapshot's
        row count, each group's buckets the distinct crc32 % 1024 of its
        keys."""
        t = TapeTable(spark, str(tmp_path / "t7"))
        keyed = spark.range(3000).select(
            F.concat(F.lit("conv-"), (F.col("id") % 500).cast("string"))
            .alias("conv_id"),
            F.col("id").alias("v"),
        )

        def check(sid):
            m = t.manifest(sid)
            assert m["lineage"]["rows"] == t.read(sid).count()
            for group_dir, entry in m["partition_buckets"].items():
                assert _read_back_buckets(spark, t, group_dir) == entry["buckets"]

        s = t.append(keyed.filter("v < 1500"), partition_col="conv_id")
        check(s)
        s = t.append(keyed.filter("v >= 1500"), partition_col="conv_id")
        check(s)
        # a rewritten group: conv-1 lives in both groups
        s = t.overwrite_partitions(
            spark.createDataFrame([("conv-1", -1)], "conv_id string, v bigint"),
            "conv_id", ["conv-1"],
        )
        assert t.manifest(s)["operation"] == "overwrite_partitions"
        check(s)
        # an empty incoming frame: the key's rows only disappear
        s = t.overwrite_partitions(
            spark.createDataFrame([], "conv_id string, v bigint"),
            "conv_id", ["conv-2"],
        )
        check(s)
        assert t.read(s).filter("conv_id = 'conv-2'").count() == 0

        o = TapeTable(spark, str(tmp_path / "t8"))
        s = o.overwrite(keyed, {"run_id": "r1"})
        assert o.manifest(s)["lineage"] == {"run_id": "r1", "rows": 3000}


class TestSinkWriterResume:
    def test_resume_after_partial_failure(self, spark, transcripts, tmp_path):
        """Kill between sinks, re-submit, final state byte-identical to a
        clean single run (build plan step 7)."""
        res = run_pipeline(spark, transcripts)
        fingerprint = "in:1"

        clean = SinkWriter(spark, str(tmp_path / "clean"))
        clean.write_all(res.sinks, "run-clean", fingerprint)

        crashed = SinkWriter(spark, str(tmp_path / "crashed"))
        partial = {
            k: res.sinks[k] for k in ("conversation_tape", "tool_tape")
        }
        crashed.write_all(partial, "run-1", fingerprint)  # "crash" here

        resumed = crashed.write_all(res.sinks, "run-2", fingerprint)
        # the two already-committed sinks were skipped
        assert resumed["conversation_tape"] is None
        assert resumed["tool_tape"] is None
        assert resumed["error_tape"] is not None

        for name in res.sinks:
            assert _same(clean.read(name), crashed.read(name)), name

    def test_failed_commit_stays_isolated(self, spark, transcripts,
                                          tmp_path, monkeypatch):
        """The sinks commit concurrently: one failing commit must not stop
        or undo the others, write_all re-raises it once all are done, and
        a re-submit writes only the failed sink."""
        res = run_pipeline(spark, transcripts)
        fingerprint = "in:1"
        clean = SinkWriter(spark, str(tmp_path / "clean"))
        clean.write_all(res.sinks, "run-clean", fingerprint)

        w = SinkWriter(spark, str(tmp_path / "failing"))

        def disk_full(df, lineage=None):
            raise OSError("disk full")

        monkeypatch.setattr(w.tables["error_tape"], "overwrite", disk_full)
        with pytest.raises(OSError, match="disk full"):
            w.write_all(res.sinks, "run-1", fingerprint)
        for name, table in w.tables.items():
            if name == "error_tape":
                assert table.current_snapshot_id() is None
            else:
                assert w._sink_done(name, fingerprint), name
        monkeypatch.undo()

        resumed = w.write_all(res.sinks, "run-2", fingerprint)
        assert [n for n, sid in resumed.items() if sid is not None] == [
            "error_tape"
        ]
        for name in res.sinks:
            assert _same(clean.read(name), w.read(name)), name

    def test_metrics_tape_appends(self, spark, transcripts, tmp_path):
        res = run_pipeline(spark, transcripts)
        w = SinkWriter(spark, str(tmp_path / "m"))
        w.write_all(res.sinks, "run-1", "in:1")
        metrics = w.metrics.read()
        names = {r["metric"] for r in metrics.collect()}
        assert "sink_conversation_tape_rows" in names
        assert "write_all_sec" in names
        assert metrics.filter(F.col("run_id") == "run-1").count() > 0


class TestIncrementalDerive:
    @pytest.fixture()
    def setup(self, spark, transcripts, tmp_path):
        input_tape = TapeTable(spark, str(tmp_path / "input"))
        input_tape.append(transcripts)
        writer = SinkWriter(spark, str(tmp_path / "sinks"))
        return input_tape, writer

    def test_initial_pass_then_noop(self, spark, setup):
        input_tape, writer = setup
        d = IncrementalDeriver(spark, input_tape, writer)
        r1 = d.process("run-1")
        assert r1["dirty"] == 8
        r2 = d.process("run-2")
        assert r2["skipped"]

    def test_late_data_rederives_only_dirty_conv(self, spark, transcripts, setup):
        input_tape, writer = setup
        d = IncrementalDeriver(spark, input_tape, writer)
        d.process("run-1")
        before_other = writer.read("conversation_tape").filter(
            F.col("conv_id") != "conv-000000"
        )

        # a late turn lands in conv-000000 (ST7: never late-dropped)
        late = transcripts.filter(
            (F.col("conv_id") == "conv-000000") & (F.col("turn_idx") == 0)
        ).withColumn("turn_idx", F.lit(9999).cast("int")).withColumn(
            "text", F.lit("late arriving user turn")
        ).withColumn("role", F.lit("user"))
        input_tape.append(late)

        r = d.process("run-2")
        assert r["dirty"] == 1

        after = writer.read("conversation_tape")
        # the dirty conv gained a trace; others byte-identical
        assert _same(
            before_other, after.filter(F.col("conv_id") != "conv-000000")
        )
        n_traces = after.filter(F.col("conv_id") == "conv-000000").count()
        assert n_traces > 0
        # the late turn shows up in the re-derived conversation
        agg = writer.read("conv_aggregates").filter(
            F.col("conv_id") == "conv-000000"
        ).collect()[0]
        assert agg["turn_count"] == 17  # 16 original + 1 late

    def test_paged_drain_matches_single_pass(self, spark, transcripts,
                                             tmp_path, setup):
        """Draining the dirty queue in keyset pages (page_size=3 over 8
        convs -> 3 pages) must produce sinks identical to the one-shot
        drain — and the driver never holds more than a page of conv_ids."""
        input_tape, writer = setup
        d = IncrementalDeriver(spark, input_tape, writer, page_size=3)
        r = d.process("run-1")
        assert r["dirty"] == 8
        assert r["pages"] == 3
        assert d.process("run-2")["skipped"]

        input_tape2 = TapeTable(spark, str(tmp_path / "input2"))
        input_tape2.append(transcripts)
        writer2 = SinkWriter(spark, str(tmp_path / "sinks2"))
        IncrementalDeriver(spark, input_tape2, writer2).process("run-1")
        assert _same(
            writer.read("conversation_tape"),
            writer2.read("conversation_tape"),
        )
        assert _same(
            writer.read("conv_aggregates"), writer2.read("conv_aggregates")
        )

    def test_paged_drain_prunes_raw_file_groups(self, spark, transcripts,
                                                tmp_path):
        """With conv_id bucket stats on the raw appends, a page's input
        scan reads only the file groups that can contain its convs — the
        full raw tape is no longer re-scanned once per page (at 10^3
        pages that is the difference between O(raw) and O(P x raw) read
        volume).  Pruning must stay SAFE: every row of the page's convs
        still appears, and the drained sinks match the one-shot drain."""
        input_tape = TapeTable(spark, str(tmp_path / "inputp"))
        convs = sorted(
            r["conv_id"]
            for r in transcripts.select("conv_id").distinct().collect()
        )
        chunks = [convs[:3], convs[3:6], convs[6:]]
        for chunk in chunks:
            input_tape.append(
                transcripts.filter(F.col("conv_id").isin(chunk)),
                partition_col="conv_id",
            )
        all_files = set(
            input_tape.manifest(input_tape.current_snapshot_id())["files"]
        )
        pruned = set(input_tape.pruned_files("conv_id", chunks[0]))
        assert pruned < all_files, "page scan must skip file groups"
        # safety: the pruned scan still holds every row of the page convs
        got = (
            input_tape.read_pruned("conv_id", chunks[0])
            .filter(F.col("conv_id").isin(chunks[0]))
            .count()
        )
        assert got == transcripts.filter(
            F.col("conv_id").isin(chunks[0])
        ).count()
        # end-to-end: the paged drain over pruned scans matches one-shot
        writer = SinkWriter(spark, str(tmp_path / "sinksp"))
        r = IncrementalDeriver(
            spark, input_tape, writer, page_size=3
        ).process("run-1")
        assert r["dirty"] == 8 and r["pages"] == 3
        # the bucket stats observed on the writes prune exactly like stats
        # read back from the written files
        for table in (input_tape, writer.tables["conversation_tape"],
                      writer.tables["chain_tape"]):
            for chunk in chunks:
                assert table.pruned_files("conv_id", chunk) == (
                    _pruned_by_read_back(spark, table, chunk)
                ), table.root
        input_tape2 = TapeTable(spark, str(tmp_path / "inputp2"))
        input_tape2.append(transcripts)
        writer2 = SinkWriter(spark, str(tmp_path / "sinksp2"))
        IncrementalDeriver(spark, input_tape2, writer2).process("run-1")
        assert _same(
            writer.read("conversation_tape"),
            writer2.read("conversation_tape"),
        )

    def test_rederive_is_idempotent(self, spark, setup):
        input_tape, writer = setup
        d = IncrementalDeriver(spark, input_tape, writer)
        d.process("run-1")
        snap_before = {
            n: t.current_snapshot_id() for n, t in writer.tables.items()
        }
        d.process("run-2")  # no new input
        snap_after = {
            n: t.current_snapshot_id() for n, t in writer.tables.items()
        }
        assert snap_before == snap_after


class TestMaintenance:
    """compact() + expire_snapshots() — the small-file/GC maintenance a
    100TB tape needs (Iceberg rewrite_data_files / expire_snapshots)."""

    def _mk(self, spark, tmp_path, name):
        t = TapeTable(spark, str(tmp_path / name))
        rows = [("a", 1), ("a", 2), ("b", 10), ("c", 20)]
        sids = [
            t.append(
                spark.createDataFrame([r], "conv_id string, v int"),
                partition_col="conv_id",
            )
            for r in rows
        ]
        return t, rows, sids

    def test_compact_merges_and_preserves_content(self, spark, tmp_path):
        t, rows, sids = self._mk(spark, tmp_path, "mc1")
        before = sorted((r["conv_id"], r["v"]) for r in t.read().collect())
        sid = t.compact(upto_snapshot_id=sids[-1])
        assert sid == sids[-1] + 1
        m = t.manifest(sid)
        assert m["operation"] == "compact"
        assert m["lineage"]["compacted_groups"] == 4
        # 4 tiny groups -> 1 merged group
        assert len({__import__("os").path.dirname(f) for f in m["files"]}) == 1
        after = sorted((r["conv_id"], r["v"]) for r in t.read().collect())
        assert after == before

    def test_compact_merges_bucket_stats(self, spark, tmp_path):
        t, rows, sids = self._mk(spark, tmp_path, "mc2")
        t.compact(upto_snapshot_id=sids[-1])
        # union of source stats: present keys still readable via pruning
        got = sorted(
            (r["conv_id"], r["v"])
            for r in t.read_pruned("conv_id", ["a"])
            .filter(F.col("conv_id") == "a")
            .collect()
        )
        assert got == [("a", 1), ("a", 2)]
        # a key whose bucket is absent skips the (single) merged group
        from tapes_spark.tapelog.table import _key_bucket

        probe = next(
            s
            for s in ("zz-%d" % i for i in range(4096))
            if _key_bucket(s)
            not in {_key_bucket(k) for k, _ in rows}
        )
        assert t.pruned_files("conv_id", [probe]) == []

    def test_compact_respects_barrier(self, spark, tmp_path):
        t, rows, sids = self._mk(spark, tmp_path, "mc3")
        late = t.append(
            spark.createDataFrame([("d", 99)], "conv_id string, v int"),
            partition_col="conv_id",
        )
        sid = t.compact(upto_snapshot_id=sids[-1])
        m = t.manifest(sid)
        dirs = {__import__("os").path.dirname(f) for f in m["files"]}
        # 4 old groups merged into 1; the post-barrier group untouched
        assert len(dirs) == 2
        late_files = set(t.manifest(late)["files"]) - set(
            t.manifest(sids[-1])["files"]
        )
        assert late_files <= set(m["files"])

    def test_compact_needs_two_groups(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "mc4"))
        s1 = t.append(
            spark.createDataFrame([("a", 1)], "conv_id string, v int")
        )
        assert t.compact(upto_snapshot_id=s1) is None

    def test_compact_incremental_contract(self, spark, tmp_path):
        t, rows, sids = self._mk(spark, tmp_path, "mc5")
        checkpoint = sids[-1]
        t.compact(upto_snapshot_id=checkpoint)
        # compaction introduces no new rows for a checkpoint >= barrier
        assert t.read_incremental(checkpoint) is None
        t.append(
            spark.createDataFrame([("e", 7)], "conv_id string, v int"),
            partition_col="conv_id",
        )
        delta = t.read_incremental(checkpoint)
        assert [(r["conv_id"], r["v"]) for r in delta.collect()] == [("e", 7)]

    def test_expire_snapshots(self, spark, tmp_path):
        import os

        t, rows, sids = self._mk(spark, tmp_path, "mc6")
        t.compact(upto_snapshot_id=sids[-1])
        before = sorted((r["conv_id"], r["v"]) for r in t.read().collect())
        stats = t.expire_snapshots(keep_last=1)
        assert stats["snapshots_removed"] == 4
        assert stats["groups_removed"] == 4  # the pre-compaction groups
        assert (
            sorted((r["conv_id"], r["v"]) for r in t.read().collect())
            == before
        )
        assert len(t.snapshots()) == 1
        assert len(os.listdir(os.path.join(t.root, "data"))) == 1
        with pytest.raises(FileNotFoundError):
            t.read(sids[0])

    def test_compact_skips_mixed_column_stats(self, spark, tmp_path):
        t = TapeTable(spark, str(tmp_path / "mc7"))
        t.append(
            spark.createDataFrame([("a", 1)], "conv_id string, v int"),
            partition_col="conv_id",
        )
        t.append(
            spark.createDataFrame([("b", 2)], "conv_id string, v int"),
        )  # no stats on this group
        sid = t.compact(upto_snapshot_id=t.current_snapshot_id())
        m = t.manifest(sid)
        # merged group has NO bucket entry -> always kept (safe), and a
        # pruned read still sees every row
        assert m["partition_buckets"] == {}
        assert t.read_pruned("conv_id", ["b"]).count() == 2
