"""spark-submit entry point: the packaged parse->enrich->route->aggregate job.

Cluster submission (the north rule's deployment shape):

    spark-submit --py-files tapes_spark.zip tapes_spark/submit.py \
        --input /data/transcripts.parquet --sinks /data/sinks --run-id r1

Local equivalent: ``python -m tapes_spark.submit --input ... --sinks ...``
(session.get_spark ships the package zip via addPyFile, the local-mode
analog of ``--py-files``; on a cluster the master/deploy-mode come from
spark-submit and ``SPARK_MASTER`` / the active session win).

Reference analog: the reference's deriver is driven as a long-running
worker draining a derive queue (pkg/derive/deriveworker.go); the batch
rebuild's unit of deployment is this one-shot job, idempotent by
construction so schedulers can re-submit it blindly:

  * full mode (default): read the transcripts input (a parquet path, or
    a TapeTable root with ``--input-tape``), run the pipeline once, and
    write every sink through SinkWriter keyed by an input fingerprint —
    re-submitting the same input is a per-sink no-op (resume after a
    mid-write crash redoes only the sinks that missed their commit).
  * ``--incremental``: requires ``--input-tape``; drains the
    dirty-conversation queue from the sink-side checkpoint in keyset
    pages (IncrementalDeriver) — only conversations with raw activity
    since the last drain are re-derived, and their sink partitions are
    overwritten in place.

Prints ONE JSON line: per-sink snapshot ids (null = fingerprint already
committed, i.e. resumed past) or the incremental drain summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from concurrent.futures import ThreadPoolExecutor


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tapes_spark.submit", description=__doc__.splitlines()[0]
    )
    p.add_argument(
        "--input", default=None,
        help="transcripts parquet path, or a TapeTable root with "
             "--input-tape (required except with --maintain)",
    )
    p.add_argument(
        "--sinks", required=True, help="SinkWriter base directory"
    )
    p.add_argument("--run-id", required=True, help="audit run id")
    p.add_argument(
        "--input-tape", action="store_true",
        help="treat --input as a snapshot-versioned TapeTable root "
             "(enables snapshot fingerprints and --incremental)",
    )
    p.add_argument(
        "--incremental", action="store_true",
        help="drain the dirty-conversation queue from the checkpoint "
             "instead of a full derive (requires --input-tape)",
    )
    p.add_argument(
        "--page-size", type=int, default=10_000,
        help="dirty-queue keyset page size (driver memory bound)",
    )
    p.add_argument(
        "--stage-dir", default=None,
        help="optional staging dir for the enriched intermediate "
             "(full mode; tmpfs recommended)",
    )
    p.add_argument(
        "--maintain", action="store_true",
        help="maintenance mode: compact small data groups in every sink "
             "table (and the input tape with --input-tape, behind the "
             "incremental checkpoint barrier) instead of deriving; "
             "fingerprint lineage is carried through so later "
             "re-submits still resume as no-ops",
    )
    p.add_argument(
        "--small-mb", type=int, default=32,
        help="maintenance: groups smaller than this are merge candidates",
    )
    p.add_argument(
        "--target-mb", type=int, default=128,
        help="maintenance: target file size for merged groups",
    )
    p.add_argument(
        "--expire-keep", type=int, default=0,
        help="maintenance: also expire all but the newest N snapshots "
             "per table (0 = keep every snapshot)",
    )
    p.add_argument(
        "--parallelism", type=int, default=None,
        help="local[N] core count (local mode only; a cluster master "
             "from spark-submit/SPARK_MASTER wins)",
    )
    p.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="override shuffle partitions (default: 2x cores)",
    )
    return p


def _maintain_table(table, args) -> dict:
    """Compact (and optionally expire) one TapeTable, carrying the
    parent snapshot's fingerprint lineage through the compaction commit
    so SinkWriter's resume check still sees it on the current snapshot."""
    sid = table.current_snapshot_id()
    if sid is None:
        return {"compacted_snapshot": None}
    parent = table.manifest(sid).get("lineage", {})
    lineage = {
        k: parent[k] for k in ("run_id", "fingerprint") if k in parent
    }
    lineage["maintenance"] = True
    csid = table.compact(
        upto_snapshot_id=sid,
        small_bytes=args.small_mb << 20,
        target_bytes=args.target_mb << 20,
        lineage=lineage,
    )
    out: dict = {"compacted_snapshot": csid}
    if args.expire_keep:
        out["expired"] = table.expire_snapshots(keep_last=args.expire_keep)
    return out


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    if args.incremental and not args.input_tape:
        build_parser().error("--incremental requires --input-tape")
    if args.maintain and args.incremental:
        build_parser().error("--maintain and --incremental are exclusive")
    if args.input is None and not args.maintain:
        build_parser().error("--input is required (except with --maintain)")

    from pyspark.util import inheritable_thread_target

    from tapes_spark.pipeline import run_metrics, run_pipeline
    from tapes_spark.session import get_spark
    from tapes_spark.streaming.stream import batch_fingerprint
    from tapes_spark.tapelog import IncrementalDeriver, SinkWriter, TapeTable

    spark = get_spark(
        f"tapes-submit-{args.run_id}",
        parallelism=args.parallelism,
        shuffle_partitions=args.shuffle_partitions,
    )
    writer = SinkWriter(spark, args.sinks)

    if args.maintain:
        tables = dict(writer.tables)
        tables["metrics"] = writer.metrics
        out = {
            "mode": "maintain",
            "run_id": args.run_id,
            "tables": {n: _maintain_table(t, args) for n, t in tables.items()},
        }
        if args.input is not None and args.input_tape:
            # the input tape has a REAL incremental consumer (the dirty
            # queue): its checkpoint is the compaction barrier, so the
            # drain can never re-see compacted rows
            tape = TapeTable(spark, args.input)
            ckpt = IncrementalDeriver(spark, tape, writer).checkpoint()
            sid = tape.current_snapshot_id()
            barrier = ckpt if ckpt is not None else sid
            if sid is None or barrier is None:
                out["input"] = {"compacted_snapshot": None}
            else:
                csid = tape.compact(
                    upto_snapshot_id=min(barrier, sid),
                    small_bytes=args.small_mb << 20,
                    target_bytes=args.target_mb << 20,
                    lineage={"maintenance": True},
                )
                out["input"] = {"compacted_snapshot": csid}
                if args.expire_keep:
                    # never expire the checkpoint manifest itself — the
                    # next drain diffs against it
                    cur = tape.current_snapshot_id() or 0
                    keep = max(args.expire_keep, cur - barrier + 1)
                    out["input"]["expired"] = tape.expire_snapshots(
                        keep_last=keep
                    )
        print(json.dumps(out))
        return out

    if args.incremental:
        deriver = IncrementalDeriver(
            spark, TapeTable(spark, args.input), writer,
            page_size=args.page_size,
        )
        out = {"mode": "incremental", **deriver.process(args.run_id)}
        print(json.dumps(out))
        return out

    fingerprint_job = None
    if args.input_tape:
        tape = TapeTable(spark, args.input)
        tx = tape.read()
        # the newest CONTENT-changing snapshot is the input identity —
        # no content scan needed, and a maintenance compaction (layout
        # only) does not make an unchanged input look new
        fingerprint = f"in:{tape.latest_data_snapshot_id()}"
    else:
        tx = spark.read.parquet(args.input)
        # plain parquet has no snapshot lineage: one tiny narrow agg
        # derives an order-insensitive, multiplicity-safe content id.  It
        # runs on a worker thread while the driver plans the pipeline,
        # which uses no executor.
        pool = ThreadPoolExecutor(max_workers=1)
        fingerprint_job = pool.submit(
            inheritable_thread_target(spark)(batch_fingerprint), tx
        )
        pool.shutdown(wait=False)

    result = run_pipeline(spark, tx, stage_dir=args.stage_dir)
    if fingerprint_job is not None:
        fingerprint = f"content:{fingerprint_job.result()}"
    snapshots = writer.write_all(result.sinks, args.run_id, fingerprint)
    wrote_any = any(v is not None for v in snapshots.values())
    if wrote_any:
        # the auditable run tape (S10/A8): kinds, the FULL drop-reason
        # ladder (raw input passed so transport counters are audited,
        # not omitted); write_all already logged the sink rows
        writer.metrics.append(
            run_metrics(spark, result, args.run_id, raw_transcripts=tx),
            {"run_id": args.run_id, "fingerprint": fingerprint},
        )
    out = {
        "mode": "full",
        "run_id": args.run_id,
        "fingerprint": fingerprint,
        "resumed_noop": not wrote_any,
        "snapshots": snapshots,
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
