"""Sink output must not depend on physical file layout.

The staged path writes the enriched frame and the tool tape as
conv_id-bucketed tables and re-reads them.  Spark may scan a bucketed
table as plain files (``DisableUnnecessaryBucketedScan``), and then a
file is split by ``spark.sql.files.maxPartitionBytes`` at row-group
boundaries — so one conversation can span several scan partitions.  The
sequential folds (chain hash, verdict matcher) must still see each
conversation whole and in order.  Tiny row groups and tiny splits force
that split on the unit corpus; every sink's content must equal the
unstaged run's.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tapes_spark.pipeline import run_pipeline

# tiny parquet row groups (checked every 10 rows) + tiny file splits
SPLIT_LAYOUT = {
    "parquet.block.size": "4096",
    "parquet.block.size.row.check.min": "10",
    "parquet.block.size.row.check.max": "10",
    "spark.sql.files.maxPartitionBytes": "4096",
}


def _sink_digests(result) -> dict[str, str]:
    """Order-independent content hash per sink: sha256 over the sorted
    JSON rows (to_json handles the map/array columns)."""
    digests = {}
    for name, df in result.sinks.items():
        rows = sorted(
            r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
        )
        digests[name] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return digests


def test_staged_sinks_independent_of_file_layout(spark, transcripts, tmp_path):
    reference = _sink_digests(run_pipeline(spark, transcripts))
    saved = {k: spark.conf.get(k, None) for k in SPLIT_LAYOUT}
    try:
        for k, v in SPLIT_LAYOUT.items():
            spark.conf.set(k, v)
        stage_dir = str(tmp_path / "stage")
        staged = _sink_digests(
            run_pipeline(spark, transcripts, stage_dir=stage_dir)
        )
        # the layout really splits the stage files: more scan partitions
        # than buckets, so a conversation can straddle two of them
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_splits = (
            spark.read.parquet(f"{stage_dir}/enriched").rdd.getNumPartitions()
        )
        assert n_splits > n_buckets
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(staged) == 9
    mismatched = {
        n: (staged[n][:16], reference[n][:16])
        for n in sorted(reference) if staged[n] != reference[n]
    }
    assert not mismatched, f"staged vs unstaged digests: {mismatched}"
