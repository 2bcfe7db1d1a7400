"""Enrich stage — dimension lookups + cost arithmetic.

Rebuilds the reference's in-process lookup maps (SURVEY.md §2.5
J10/J11) as literal-map lookups over the static dims:

  * role flags (conversation turn, side)
  * tool display-name / category / flags (tapes pkg/derive/spans.go:590-628)
  * cache-tiered model pricing (pkg/sessions/pricing.go:24-132)

Custom tool dims take the broadcast-join variant :func:`enrich_tool`:
at 100 TB the fact side never shuffles for it — the dim is a few KB,
broadcast to every executor, and Catalyst keeps the scan pipeline intact
(BroadcastHashJoin inside the same stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _literal_map(rows, key_idx: int, val_cols: list[tuple[str, int]]) -> Column:
    """A map<string, struct<...>> literal from a static dim row list.

    For the pipeline's hand-pinned dims (4-20 rows) a literal map lookup
    replaces the whole BroadcastHashJoin: no dim-side job, no broadcast
    exchange, no per-row hash-relation probe — the lookup folds into the
    same whole-stage-codegen project as the surrounding expressions.
    The tool join variant below stays for ad-hoc/custom tool dims."""
    pairs = []
    for row in rows:
        pairs.append(F.lit(row[key_idx]))
        pairs.append(
            F.struct(
                *[F.lit(row[i]).alias(name) for name, i in val_cols]
            )
        )
    return F.create_map(*pairs)


def enrich_tool(df: DataFrame, tool_dim_df: DataFrame) -> DataFrame:
    """J11: broadcast left join vs the tool dimension.

    Unmatched non-empty tools keep their own name; empty tool on a
    tool-bearing row displays as "tool" (spans.go:626-628).
    """
    dim = F.broadcast(
        tool_dim_df.withColumnRenamed("tool", "t_tool")
    )
    joined = df.join(dim, df["tool"] == dim["t_tool"], "left").drop("t_tool")
    return (
        joined.withColumn(
            "tool_display",
            F.when(F.col("tool") == "", F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col("display_name"), F.col("tool"))),
        )
        .withColumn("tool_category", F.coalesce(F.col("category"), F.lit("other")))
        .withColumn("is_web_tool", F.coalesce(F.col("is_web"), F.lit(False)))
        .withColumn("is_task_tool", F.coalesce(F.col("is_task"), F.lit(False)))
        .drop("display_name", "category", "is_web", "is_task")
    )


def enrich_tool_static(df: DataFrame) -> DataFrame:
    """J11 against the static TOOL_DIM_ROWS as a literal-map lookup —
    same output as :func:`enrich_tool` with ``dims.tool_dim`` (gated by
    tests/test_enrich_static.py parity)."""
    from tapes_spark import dims

    m = _literal_map(
        dims.TOOL_DIM_ROWS, 0,
        [("display_name", 1), ("category", 2), ("is_web", 3), ("is_task", 4)],
    )
    hit = m[F.col("tool")]
    return (
        df.withColumn(
            "tool_display",
            F.when(F.col("tool") == "", F.lit(None).cast("string"))
            .otherwise(F.coalesce(hit["display_name"], F.col("tool"))),
        )
        .withColumn("tool_category", F.coalesce(hit["category"], F.lit("other")))
        .withColumn("is_web_tool", F.coalesce(hit["is_web"], F.lit(False)))
        .withColumn("is_task_tool", F.coalesce(hit["is_task"], F.lit(False)))
    )


def enrich_role_static(df: DataFrame) -> DataFrame:
    """Role flags from the static ROLE_DIM_ROWS as a literal-map lookup;
    unmatched roles are not conversation turns and sit on side
    "unknown"."""
    from tapes_spark import dims

    m = _literal_map(
        dims.ROLE_DIM_ROWS, 0, [("is_conversation", 1), ("side", 2)]
    )
    hit = m[F.col("role")]
    return df.withColumn(
        "is_conversation", F.coalesce(hit["is_conversation"], F.lit(False))
    ).withColumn("side", F.coalesce(hit["side"], F.lit("unknown")))


def enrich_pricing_static(df: DataFrame) -> DataFrame:
    """J10: cache-aware cost per llm turn (pricing.go:97-132), priced from
    the static PRICING_DIM_ROWS as a literal-map lookup.

    base input = max(input - cache_creation - cache_read, 0); each tier
    priced separately; tokens/1e6 * $/Mtok.  Rows without a usage marker
    or without a priced model get cost_usd = NULL (never silently 0 —
    mirrors the reference's unknown-model behavior).
    """
    from tapes_spark import dims

    m = _literal_map(
        dims.PRICING_DIM_ROWS, 0,
        [("input_per_mtok", 1), ("output_per_mtok", 2),
         ("cache_read_per_mtok", 3), ("cache_write_per_mtok", 4)],
    )
    hit = m[F.col("model_norm")]
    return _with_cost(
        df, hit["input_per_mtok"], hit["output_per_mtok"],
        hit["cache_read_per_mtok"], hit["cache_write_per_mtok"],
    )


def _with_cost(
    df: DataFrame,
    input_per_mtok: Column,
    output_per_mtok: Column,
    cache_read_per_mtok: Column,
    cache_write_per_mtok: Column,
) -> DataFrame:
    base_in = F.greatest(
        F.col("input_tokens")
        - F.coalesce(F.col("cache_read_tokens"), F.lit(0))
        - F.coalesce(F.col("cache_write_tokens"), F.lit(0)),
        F.lit(0),
    )
    cost = (
        base_in * input_per_mtok
        + F.coalesce(F.col("cache_read_tokens"), F.lit(0)) * cache_read_per_mtok
        + F.coalesce(F.col("cache_write_tokens"), F.lit(0))
        * cache_write_per_mtok
        + F.coalesce(F.col("output_tokens"), F.lit(0)) * output_per_mtok
    ) / F.lit(1_000_000.0)
    return df.withColumn(
        "cost_usd",
        F.when(
            F.col("input_tokens").isNotNull() & input_per_mtok.isNotNull(),
            cost,
        ).otherwise(F.lit(None).cast("double")),
    )
