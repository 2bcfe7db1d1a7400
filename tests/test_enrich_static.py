"""Parity gates for the r6 literal-map enrichment fast paths.

The pipeline's static dims (role / pricing / tool) are applied as
literal ``create_map`` lookups instead of BroadcastHashJoins.  These
tests pin that the static variants produce bit-identical columns to the
broadcast-join variants over a corpus that exercises every branch:
matched keys, unmatched keys, empty and NULL inputs.  The role and
pricing join variants live here as the references; the tool join
variant is still a package path (custom tool dims).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tapes_spark import dims
from tapes_spark.operators.enrich import (
    _with_cost,
    enrich_pricing_static,
    enrich_role_static,
    enrich_tool,
    enrich_tool_static,
)


def enrich_role(df, role_dim_df):
    """Role flags as a broadcast left join vs the role dimension."""
    dim = F.broadcast(role_dim_df.withColumnRenamed("role", "r_role"))
    return (
        df.join(dim, df["role"] == dim["r_role"], "left")
        .drop("r_role")
        .withColumn(
            "is_conversation", F.coalesce(F.col("is_conversation"), F.lit(False))
        )
        .withColumn("side", F.coalesce(F.col("side"), F.lit("unknown")))
    )


def enrich_pricing(df, pricing_dim_df):
    """J10 cost as a broadcast left join vs the pricing dimension."""
    dim = F.broadcast(pricing_dim_df.withColumnRenamed("model", "p_model"))
    joined = df.join(dim, df["model_norm"] == dim["p_model"], "left").drop("p_model")
    return _with_cost(
        joined,
        F.col("input_per_mtok"), F.col("output_per_mtok"),
        F.col("cache_read_per_mtok"), F.col("cache_write_per_mtok"),
    ).drop(
        "input_per_mtok",
        "output_per_mtok",
        "cache_read_per_mtok",
        "cache_write_per_mtok",
    )


def _assert_same(a, b, cols):
    ar = [tuple(r) for r in a.select(*cols).orderBy(*a.columns[:1]).collect()]
    br = [tuple(r) for r in b.select(*cols).orderBy(*b.columns[:1]).collect()]
    assert ar == br


@pytest.fixture(scope="module")
def role_frame(spark):
    rows = [
        ("r1", "user"), ("r2", "assistant"), ("r3", "tool"),
        ("r4", "system"), ("r5", "martian"), ("r6", None), ("r7", ""),
    ]
    return spark.createDataFrame(rows, ["id", "role"])


def test_role_static_parity(spark, role_frame):
    cols = ["id", "is_conversation", "side"]
    _assert_same(
        enrich_role(role_frame, dims.role_dim(spark)).select(*cols),
        enrich_role_static(role_frame).select(*cols),
        cols,
    )


@pytest.fixture(scope="module")
def pricing_frame(spark):
    rows = [
        # (id, model_norm, input, output, cache_read, cache_write)
        ("p1", "claude-opus-4", 1000, 200, 100, 50),
        ("p2", "claude-haiku-4", 10, 5, None, None),
        ("p3", "unknown-model", 1000, 200, 100, 50),   # unmatched key
        ("p4", None, 1000, 200, 100, 50),              # NULL join key
        ("p5", "gpt-5", None, 10, 5, 5),               # no input tokens
        ("p6", "qwen-3-coder", 7, None, None, 3),
    ]
    return spark.createDataFrame(
        rows,
        "id string, model_norm string, input_tokens long, output_tokens "
        "long, cache_read_tokens long, cache_write_tokens long",
    )


def test_pricing_static_parity(spark, pricing_frame):
    cols = ["id", "cost_usd"]
    _assert_same(
        enrich_pricing(pricing_frame, dims.pricing_dim(spark)).select(*cols),
        enrich_pricing_static(pricing_frame).select(*cols),
        cols,
    )


@pytest.fixture(scope="module")
def tool_frame(spark):
    tools = [r[0] for r in dims.TOOL_DIM_ROWS] + ["CustomTool", "", None]
    return spark.createDataFrame(
        [(f"t{i}", t) for i, t in enumerate(tools)], ["id", "tool"]
    )


def test_tool_static_parity(spark, tool_frame):
    cols = ["id", "tool_display", "tool_category", "is_web_tool", "is_task_tool"]
    _assert_same(
        enrich_tool(tool_frame, dims.tool_dim(spark)).select(*cols),
        enrich_tool_static(tool_frame).select(*cols),
        cols,
    )


def test_pipeline_enriched_plan_has_no_dim_joins(spark):
    """The bench pipeline's enriched plan must carry ZERO join nodes —
    the static dims fold into the projections (r6 optimization)."""
    from tapes_spark.pipeline import build_enriched

    rows = [("c1", 0, "user", "hi", "", None)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    enriched, _ = build_enriched(spark, tx)
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
