"""Content hashing — block signatures and the cumulative chain hash.

  N7  block signature — sha256 over a canonical-form projection of one
      turn (tapes pkg/derive/transcript.go:236-257): canonical key order
      is guaranteed by FIXED struct field order inside to_json, the Spark
      equivalent of RFC-8785 canonicalization for a known schema.
  P11 turn-chain hash — per conversation, each turn's node hash links to
      its parent: ``h_i = sha256(h_{i-1} || sig_i)`` (tapes
      pkg/merkle/node.go:138-205, chain.go:45-118).  Strictly sequential
      per conversation, so it runs as a grouped-map pandas fold — the ONE
      shape where per-key sequential logic is idiomatic (SURVEY §7).
      Injected-context turns are side-branch nodes: they receive a hash
      but the spine hash BYPASSES them (chain.go:75-98).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def block_signature_col(
    role: Column, text_norm: Column, tool: Column
) -> Column:
    """N7: canonical signature of one projected turn.  Field order in the
    struct IS the canonical order — stable across runs and machines."""
    return F.sha2(
        F.to_json(
            F.struct(
                role.alias("role"),
                text_norm.alias("text"),
                tool.alias("tool"),
            )
        ),
        256,
    )


def with_block_signature(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "block_sig",
        block_signature_col(F.col("role"), F.col("text_norm"), F.col("tool")),
    )


_CHAIN_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("node_hash", StringType()),
        StructField("parent_hash", StringType()),
    ]
)


def chain_hashes(df: DataFrame) -> DataFrame:
    """P11 entry: per-conversation cumulative chain hash.

    Input needs: conv_id, turn_idx, block_sig, and call_kind (injected
    detection).  Returns (conv_id, turn_idx, node_hash, parent_hash).

    The fold is inherently sequential per conversation (each node hash
    feeds the next), so Python executes it — but as ONE mapInPandas over
    conv-clustered, turn-sorted partitions with a cross-batch carry, not
    per-group applyInPandas (whose ~0.5ms/group overhead dominates with
    many small conversations), and with plain-list row access, not
    iterrows (10-50x constant factor).  A pathological 10^5-turn
    conversation still folds in one task — unavoidable for a hash chain;
    everything around it parallelizes.
    """
    narrow = with_block_signature(df).select(
        "conv_id",
        "turn_idx",
        "block_sig",
        (F.col("call_kind") == "injected").alias("is_injected"),
        # overlay tie-break (see operators/corrections.py): a corrected
        # turn colliding on (conv_id, turn_idx) must fold in a stable
        # order or the chain hashes differ between runs
        *(["src_conv_id"] if "src_conv_id" in df.columns else []),
    )
    from tapes_spark.functions.partitioning import cluster_sorted

    arranged = cluster_sorted(narrow, "conv_id", "turn_idx")

    def fold(batches):
        # carry (conv, spine) across Arrow batches: a conversation can
        # span batch boundaries within the sorted partition
        cur_conv: str | None = None
        spine = ""  # root parent = empty (genesis)
        for pdf in batches:
            convs = pdf["conv_id"].tolist()
            sigs = pdf["block_sig"].tolist()
            injected = pdf["is_injected"].tolist()
            nodes: list[str] = []
            parents: list[str] = []
            for i in range(len(convs)):
                if convs[i] != cur_conv:
                    cur_conv = convs[i]
                    spine = ""
                parents.append(spine)
                h = hashlib.sha256(
                    (spine + "|" + str(sigs[i])).encode()
                ).hexdigest()
                nodes.append(h)
                if not injected[i]:
                    # spine bypasses injected side-branch nodes
                    # (chain.go:75-98)
                    spine = h
            yield pd.DataFrame(
                {
                    "conv_id": convs,
                    "turn_idx": pdf["turn_idx"].values,
                    "node_hash": nodes,
                    "parent_hash": parents,
                }
            )

    return arranged.mapInPandas(fold, _CHAIN_SCHEMA)
