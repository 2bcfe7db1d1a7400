"""Planner-proof key clustering for partition-sensitive mapInPandas folds.

A grouped sequential fold (verdict matcher, chain hash) requires every
row of a key to land in ONE partition, sorted.  ``repartition(n, key)``
does NOT reliably guarantee that here: when the input lineage is the
pipeline's split-union (tagged/plain normalization branches) whose
branches are already hash-partitioned by the same key, the optimizer
treats the downstream repartition as satisfied and elides the exchange —
but a UNION of two identically-partitioned children concatenates
partition lists, so one key ends up in TWO physical partitions (observed
on Spark 4.1: a conversation's check turns and tool calls in different
partitions, silently breaking the consume-once matcher).

The fix: repartition on ``xxhash64(key)`` — a different expression from
any upstream partitioning, so no satisfaction check can remove the
exchange, while co-locating exactly the same rows.  Explicit partition
count because AQE coalesces bare column repartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_sorted(df: DataFrame, key: str, *order: str) -> DataFrame:
    """Hash-cluster *df* by *key* (one partition per key, planner-proof)
    and sort each partition by (key, *order).

    When the frame went through the attribution-correction overlay it
    carries ``src_conv_id`` (the pre-overlay conv) — appended here as the
    final tie-break, because a corrected turn keeps its original turn_idx
    and may collide with the target conversation's own (conv_id,
    turn_idx); without a total order the sequential folds above this sort
    would be shuffle-nondeterministic."""
    keys = list(order)
    if "src_conv_id" in df.columns and "src_conv_id" not in keys:
        keys.append("src_conv_id")
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n, F.xxhash64(F.col(key))).sortWithinPartitions(
        key, *keys
    )
