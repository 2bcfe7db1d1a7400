"""TapeTable — an append-only, snapshot-versioned parquet table.

The storage contract the pipeline needs from Iceberg (SURVEY.md §2.8,
§2.10: snapshot isolation, append + partition-overwrite, snapshot-id
change cursor, time travel), implemented over plain parquet + JSON
manifests because no Iceberg runtime ships in this environment.  The
public surface mirrors the Iceberg operations we use, so swapping in
`spark.read.format("iceberg")` on a real cluster is a one-module change
(see `HAS_ICEBERG` below).

Layout:
    <root>/data/<uuid>/part-*.parquet     immutable data file groups
    <root>/snapshots/<n>.json             manifest: file list + lineage
    <root>/_current                       pointer, updated by atomic rename

Semantics:
  * append(df)                — new snapshot = parent files + new files
  * overwrite_partitions(df, keys) — the idempotent MERGE+prune (D3):
        new snapshot = parent files MINUS file groups whose hash-bucket
        stats intersect the incoming keys' buckets, PLUS rewritten rows
        for those keys.  Because derivation is a pure function with
        deterministic ids (D2), replacing a conversation's rows wholesale
        is exactly "upsert every emitted row + prune stale rows".
  * read(snapshot_id=None)    — current or time-travel read
  * snapshots()               — the change feed (D4): consumers record the
        last snapshot id they processed and read only newer ones
  * lineage in every manifest — run_id, input fingerprint, operation,
        and ``rows``, the snapshot's row count (the auditable tape the
        north_rule asks for).  Row counts and bucket stats are observed on
        the write itself (``DataFrame.observe``), never read back.

Writer concurrency: single-writer per table (the per-session advisory
lock analog ST3 — in Spark one driver owns a sink).  Distinct tables may
commit concurrently from different threads of one driver: ``SinkWriter
.write_all`` commits its nine sinks that way, each table from exactly one
thread.  Readers are safe at all times: data files are immutable and
`_current` flips atomically.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import zlib

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Partition-pruning stats are hash-bucket sets, NOT value lists: a group's
# manifest entry is the sorted set of crc32(str(value)) % _N_BUCKETS buckets
# it contains — O(min(1024, distinct keys)) per group no matter how many
# million conversations the table holds (real Iceberg manifests keep
# file-level bounds for the same reason).  False positives only cost a
# group rewrite; pruning is always safe.
_N_BUCKETS = 1024


def _key_bucket(v) -> int:
    """Python-side bucket for a partition key; matches the Spark-side
    expression crc32(cast(col as string)) % _N_BUCKETS exactly."""
    return zlib.crc32(str(v).encode("utf-8")) % _N_BUCKETS


def _entry_buckets(entry, partition_col: str) -> set[int] | None:
    """Usable bucket set of one manifest group entry for *partition_col*,
    or None when the stats cannot be applied and the group must be KEPT:
    the entry records a different column, or it is a legacy entry written
    before the column name was recorded (a raw list).  Bucket sets for
    column A say nothing about the values of column B — pruning on them
    would silently skip groups that do contain matching rows."""
    if isinstance(entry, dict) and entry.get("col") == partition_col:
        return set(entry.get("buckets", ()))
    return None

try:  # pragma: no cover - exercised only on clusters with Iceberg jars
    import importlib.util

    HAS_ICEBERG = (
        importlib.util.find_spec("pyspark.sql.iceberg") is not None
    )
except Exception:  # pragma: no cover
    HAS_ICEBERG = False


class TapeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # ------------------------------------------------------------ state

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"{snapshot_id}.json")

    def manifest(self, snapshot_id: int) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """All snapshots in id order — the change feed (D4)."""
        out = []
        snap_dir = os.path.join(self.root, "snapshots")
        for name in sorted(os.listdir(snap_dir), key=lambda n: int(n.split(".")[0])):
            with open(os.path.join(snap_dir, name)) as f:
                out.append(json.load(f))
        return out

    # ------------------------------------------------------------ write

    def _write_data_group(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        observe: bool = True,
    ) -> tuple[str, list[str], dict]:
        """Write *df* as a new data group.  Returns (group dir, its files,
        stats observed on the write itself): ``rows``, plus with
        *partition_col* the group's key-hash ``buckets`` — bounded at
        _N_BUCKETS values on the driver regardless of key cardinality.
        A fresh Observation per write, since one reports only the first
        action on its frame; no stats without *observe*."""
        group_dir = os.path.join("data", uuid.uuid4().hex)
        path = os.path.join(self.root, group_dir)
        obs = Observation() if observe else None
        if obs is not None:
            exprs = [F.count(F.lit(1)).alias("rows")]
            if partition_col is not None:
                exprs.append(F.collect_set(
                    F.crc32(F.col(partition_col).cast("string")) % _N_BUCKETS
                ).alias("buckets"))
            df = df.observe(obs, *exprs)
        df.write.mode("overwrite").parquet(path)
        files = sorted(
            os.path.join(group_dir, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        return group_dir, files, (obs.get if obs is not None else {})

    @staticmethod
    def _bucket_entry(stats: dict, partition_col: str) -> dict:
        """Manifest bucket entry of a freshly written group.  Stats record
        WHICH column they were computed on — bucket sets for one column
        must never prune scans keyed on another."""
        return {
            "col": partition_col,
            "buckets": sorted(int(b) for b in stats["buckets"]),
        }

    def _commit(
        self,
        files: list[str],
        operation: str,
        lineage: dict | None,
        partition_buckets: dict[str, dict] | None = None,
        group_rows: dict[str, int] | None = None,
    ) -> int:
        """Publish a snapshot of *files*.  *group_rows* holds the observed
        row count of each group dir; when every group of the snapshot has
        one, their sum is recorded as the lineage's ``rows``."""
        parent = self.current_snapshot_id()
        snapshot_id = (parent or 0) + 1
        dirs = {os.path.dirname(f) for f in files}
        group_rows = {d: n for d, n in (group_rows or {}).items() if d in dirs}
        lineage = dict(lineage or {})
        if dirs <= group_rows.keys():
            lineage["rows"] = sum(group_rows.values())
        manifest = {
            "snapshot_id": snapshot_id,
            "parent_id": parent,
            "operation": operation,
            "files": files,
            "committed_at_unix": time.time(),
            "lineage": lineage,
            "partition_buckets": partition_buckets or {},
            "group_rows": group_rows,
        }
        tmp = self._manifest_path(snapshot_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(snapshot_id))
        tmp_cur = self._current_path() + ".tmp"
        with open(tmp_cur, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp_cur, self._current_path())  # atomic flip
        return snapshot_id

    def append(
        self,
        df: DataFrame,
        lineage: dict | None = None,
        partition_col: str | None = None,
    ) -> int:
        """Append a new data group.  With *partition_col*, the group's
        manifest entry records its key-hash bucket set so later scans for
        a key subset (:meth:`read_pruned`) skip non-intersecting groups —
        the file-skipping a conv_id-bucketed Iceberg layout gives a
        storage-partitioned scan — and its observed row count."""
        group_dir, new_files, stats = self._write_data_group(
            df, partition_col, observe=partition_col is not None
        )
        parent = self.current_snapshot_id()
        prev = self.manifest(parent) if parent else {}
        pb = dict(prev.get("partition_buckets", {}))
        rows = dict(prev.get("group_rows", {}))
        if partition_col is not None and new_files:
            pb[group_dir] = self._bucket_entry(stats, partition_col)
            rows[group_dir] = stats["rows"]
        return self._commit(
            prev.get("files", []) + new_files, "append", lineage, pb, rows
        )

    def overwrite(self, df: DataFrame, lineage: dict | None = None) -> int:
        group_dir, new_files, stats = self._write_data_group(df)
        return self._commit(
            new_files, "overwrite", lineage,
            group_rows={group_dir: stats["rows"]},
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        keys: list,
        lineage: dict | None = None,
    ) -> int:
        """D3: replace all rows whose partition_col is in *keys* with the
        incoming rows (which must only contain those keys).

        File groups carry hash-bucket stats of the keys they contain;
        groups whose bucket set intersects the incoming keys' buckets are
        rewritten minus the replaced rows (a false positive only costs a
        rewrite).  At Iceberg this is `overwritePartitions()`; here we
        rewrite the affected groups (rows for unaffected keys preserved).
        """
        keyset = set(keys)
        key_buckets = {_key_bucket(k) for k in keys}
        parent = self.current_snapshot_id()
        kept_files: list[str] = []
        rewritten: list[DataFrame] = []
        prev_pb: dict[str, list[int]] = {}
        prev_rows: dict[str, int] = {}
        if parent:
            m = self.manifest(parent)
            prev_pb = m.get("partition_buckets", {})
            prev_rows = m.get("group_rows", {})
            # legacy manifests (pre-bucket) stored stringified value lists;
            # fold into bucket space AND record the column so the stats
            # stay applicable (legacy partition_values were always written
            # by overwrite_partitions for its own partition_col)
            for d, vals in m.get("partition_values", {}).items():
                prev_pb.setdefault(
                    d,
                    {"col": partition_col,
                     "buckets": sorted({_key_bucket(v) for v in vals})},
                )
            groups: dict[str, list[str]] = {}
            for f in m["files"]:
                groups.setdefault(os.path.dirname(f), []).append(f)
            for group_dir, files in groups.items():
                buckets = _entry_buckets(prev_pb.get(group_dir), partition_col)
                if buckets is not None and not (buckets & key_buckets):
                    kept_files.extend(files)
                else:
                    # possible overlap (or no stats): rewrite minus keys
                    old = self.spark.read.parquet(
                        os.path.join(self.root, group_dir)
                    )
                    remaining = old.filter(~old[partition_col].isin(list(keyset)))
                    rewritten.append(remaining)
        to_write = df
        for r in rewritten:
            to_write = to_write.unionByName(r)
        group_dir, new_files, stats = self._write_data_group(
            to_write, partition_col
        )
        new_pb = {d: b for d, b in prev_pb.items()
                  if any(f.startswith(d) for f in kept_files)}
        new_pb[group_dir] = self._bucket_entry(stats, partition_col)
        rows = dict(prev_rows)
        rows[group_dir] = stats["rows"]
        return self._commit(
            kept_files + new_files, "overwrite_partitions", lineage, new_pb,
            rows,
        )

    # ------------------------------------------------------------- read

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise ValueError(f"tape table {self.root} has no snapshots")
        files = self.manifest(sid)["files"]
        if not files:
            raise ValueError(f"snapshot {sid} has no data files")
        paths = [os.path.join(self.root, f) for f in files]
        return self.spark.read.parquet(*paths)

    def pruned_files(self, partition_col: str, keys: list) -> list[str]:
        """The subset of current data files whose group bucket stats can
        contain any of *keys*.  Groups without APPLICABLE stats — written
        before bucketing, written as a legacy list without a recorded
        column, or bucketed on a DIFFERENT partition_col — are always
        kept: pruning is only ever safe, false positives only cost a
        read."""
        sid = self.current_snapshot_id()
        if sid is None:
            return []
        m = self.manifest(sid)
        pb = m.get("partition_buckets", {})
        key_buckets = {_key_bucket(k) for k in keys}
        kept: list[str] = []
        for f in m["files"]:
            buckets = _entry_buckets(pb.get(os.path.dirname(f)), partition_col)
            if buckets is None or (buckets & key_buckets):
                kept.append(f)
        return kept

    def read_pruned(self, partition_col: str, keys: list) -> DataFrame:
        """Scan only the file groups that can contain *keys* (bucket-stat
        file skipping).  Rows for OTHER keys may still appear (a group
        holds many keys; stats are buckets, not values) — callers filter,
        exactly as with partition pruning on a real table format."""
        files = self.pruned_files(partition_col, keys)
        if not files:
            # preserve schema for empty result
            return self.read().limit(0)
        return self.spark.read.parquet(
            *[os.path.join(self.root, f) for f in files]
        )

    def read_incremental(self, after_snapshot_id: int | None) -> DataFrame | None:
        """Rows appended in snapshots strictly newer than the checkpoint
        (file-level incremental scan — the Iceberg incremental read).

        Files introduced by ``compact`` snapshots are skipped: they carry
        no new rows, only rewrites of data older than the compaction
        barrier (which callers must keep at or below every active
        checkpoint — see :meth:`compact`).  Without the skip, a reader
        checkpointed before a compaction would re-consume the whole
        rewritten group as if it were fresh data."""
        current = self.current_snapshot_id()
        if current is None or (after_snapshot_id or 0) >= current:
            return None
        seen: set[str] = set()
        if after_snapshot_id:
            seen = set(self.manifest(after_snapshot_id)["files"])
        compact_added: set[str] = set()
        for m in self.snapshots():
            if (
                m["operation"] == "compact"
                and m["snapshot_id"] > (after_snapshot_id or 0)
            ):
                try:
                    parent_files = (
                        set(self.manifest(m["parent_id"])["files"])
                        if m.get("parent_id")
                        else set()
                    )
                except FileNotFoundError:
                    # parent manifest expired: only reachable when the
                    # checkpoint itself predates the expire cutoff (an
                    # already-invalid checkpoint); skip the whole
                    # snapshot's files rather than re-emit a compaction
                    parent_files = set()
                compact_added |= set(m["files"]) - parent_files
        new_files = [
            f
            for f in self.manifest(current)["files"]
            if f not in seen and f not in compact_added
        ]
        if not new_files:
            return None
        return self.spark.read.parquet(
            *[os.path.join(self.root, f) for f in new_files]
        )

    def latest_data_snapshot_id(self) -> int | None:
        """Newest snapshot that changed LOGICAL content — walks past
        ``compact`` snapshots (layout-only rewrites).  This is the right
        input-identity for fingerprinting: maintenance must not make an
        unchanged input look new.  Stops at the current snapshot if an
        ancestor manifest was expired."""
        sid = self.current_snapshot_id()
        while sid is not None:
            try:
                m = self.manifest(sid)
            except FileNotFoundError:
                break
            if m["operation"] != "compact":
                return m["snapshot_id"]
            sid = m.get("parent_id")
        return self.current_snapshot_id()

    # ------------------------------------------------------ maintenance

    def _group_added_at(self) -> dict[str, int]:
        """First snapshot id in which each current group dir appears."""
        first: dict[str, int] = {}
        for m in self.snapshots():
            for f in m["files"]:
                d = os.path.dirname(f)
                first.setdefault(d, m["snapshot_id"])
        return first

    def compact(
        self,
        upto_snapshot_id: int,
        small_bytes: int = 32 << 20,
        target_bytes: int = 128 << 20,
        lineage: dict | None = None,
    ) -> int | None:
        """Merge small data groups into one (Iceberg
        ``rewrite_data_files``): every incremental append leaves a group
        behind, and at tape scale a day of page drains is thousands of
        tiny parquet files whose open/footer cost dominates scans.

        Only groups first committed at snapshots <= *upto_snapshot_id*
        (the barrier) are rewritten.  The barrier MUST be at or below
        every active incremental consumer's checkpoint: rows older than
        the barrier were consumed already, so skipping the rewritten
        group in :meth:`read_incremental` loses nothing, while rows
        newer than the barrier keep their original (still-diffable)
        files.  Logical content is bit-identical before and after; only
        file layout changes.

        Returns the new snapshot id, or None when fewer than two small
        groups qualify (nothing to merge)."""
        sid = self.current_snapshot_id()
        if sid is None:
            return None
        m = self.manifest(sid)
        groups: dict[str, list[str]] = {}
        for f in m["files"]:
            groups.setdefault(os.path.dirname(f), []).append(f)
        added_at = self._group_added_at()
        cand: list[str] = []
        cand_bytes = 0
        for d, files in groups.items():
            if added_at.get(d, sid) > upto_snapshot_id:
                continue
            size = sum(
                os.path.getsize(os.path.join(self.root, f)) for f in files
            )
            if size < small_bytes:
                cand.append(d)
                cand_bytes += size
        if len(cand) < 2:
            return None
        cand_set = set(cand)
        src_files = [f for f in m["files"] if os.path.dirname(f) in cand_set]
        merged = self.spark.read.parquet(
            *[os.path.join(self.root, f) for f in src_files]
        ).repartition(max(1, -(-cand_bytes // target_bytes)))
        group_dir, new_files, stats = self._write_data_group(merged)
        kept_files = [
            f for f in m["files"] if os.path.dirname(f) not in cand_set
        ]
        # merged bucket stats: union when every source recorded the same
        # column; otherwise omit the entry (the group is then always kept
        # by pruning — safe, never wrong)
        pb = dict(m.get("partition_buckets", {}))
        entries = [pb.pop(d, None) for d in cand]
        cols = {e["col"] for e in entries if isinstance(e, dict) and "col" in e}
        if len(cols) == 1 and all(isinstance(e, dict) for e in entries):
            pb[group_dir] = {
                "col": cols.pop(),
                "buckets": sorted(
                    {b for e in entries for b in e.get("buckets", ())}
                ),
            }
        info = dict(lineage or {})
        info.setdefault("compacted_groups", len(cand))
        info.setdefault("compacted_files", len(src_files))
        info.setdefault("compacted_bytes", cand_bytes)
        rows = dict(m.get("group_rows", {}))
        rows[group_dir] = stats["rows"]
        return self._commit(kept_files + new_files, "compact", info, pb, rows)

    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Drop all but the newest *keep_last* snapshot manifests and
        delete data groups no kept snapshot references (Iceberg
        ``expire_snapshots`` — the GC half of maintenance).  Time travel
        and change-feed reads older than the cutoff stop working, same
        as the real operation."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"snapshots_removed": 0, "groups_removed": 0}
        dropped, kept = snaps[:-keep_last], snaps[-keep_last:]
        referenced = {
            os.path.dirname(f) for m in kept for f in m["files"]
        }
        groups_removed = 0
        data_dir = os.path.join(self.root, "data")
        for g in os.listdir(data_dir):
            if os.path.join("data", g) not in referenced:
                shutil.rmtree(os.path.join(data_dir, g), ignore_errors=True)
                groups_removed += 1
        for m in dropped:
            try:
                os.remove(self._manifest_path(m["snapshot_id"]))
            except FileNotFoundError:
                pass
        return {
            "snapshots_removed": len(dropped),
            "groups_removed": groups_removed,
        }

    # ---------------------------------------------------------- utility

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
