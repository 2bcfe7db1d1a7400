"""Aggregate stage — per-trace/per-conversation rollups + windowed stats.

Rebuilds SURVEY.md §2.6:

  A1  per-trace rollup (tapes spans.go:792-876) — token sums over llm turns
      (ALL call kinds), separate main_* pair for call_kind='main', cache
      sums, cost, ended_at = max end.
  A2  per-conversation ModelUsage (spans.go:73-98,801-869) — per (conv,
      model): calls/tokens/cost, ordered cost DESC then model for stable
      re-derives.
  A3  KindCounts (spans.go:887-906) — per-conv call-kind tally with
      EMPTY-FOLD semantics: every covered conversation gets a row even if
      the map is empty, so a re-derive can clear stale values.
  A4  Tasks fold (pkg/derive/tasks.go:14-111) — ordered stateful replay of
      TaskCreate/TaskUpdate results; native window + max_by algebra.
  A5  status ladder (pkg/derive/status.go:30-56; pkg/sessions/status.go:34-73).
  A6  conversation rollup (queries/spans.sql:210-262) — totals + turn_count
      + derived_model = MODE of main llm models (count desc, model asc).
  A7  windowed stats (queries/spans.sql:264-309) — plain LEFT JOIN +
      conditional aggregates; the reference explicitly replaced a
      correlated-EXISTS that "times out on a wide window at scale".

Scale notes: sums/counts here are hash aggregates — Spark's partial
(map-side) aggregation already two-phases them, so a skewed giant
conversation costs one hot final-merge row, not a hot shuffle partition.
Explicit two-phase SALTING is applied where partial aggregation cannot
help: exact countDistinct and collect_list (see ``salted_collect`` /
``salted_count_distinct``).  This is the honest version of the
north_rule's "salting for skewed long conversations".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TERMINAL_OK_STOPS = ("stop", "end_turn", "stop_sequence", "max_tokens")


# ---------------------------------------------------------------- traces

def with_traces(df: DataFrame) -> DataFrame:
    """Assign trace numbers: each genuine (non-injected, non-empty after
    normalization) user prompt opens a new trace; everything up to the next
    one belongs to it.  Turns before the first prompt land in trace 0
    (synthetic root, like tapes' synthetic traces).

    Requires columns: call_kind, text_norm.  Deterministic id:
    ``trc_<conv_id>_<n>`` (D2 — deterministic ids are the correctness
    contract, spans.go:654-660).
    """
    is_start = (
        (F.col("call_kind") == "prompt") & (F.col("text_norm") != "")
    ).cast("int")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("trace_num", F.sum(is_start).over(w)).withColumn(
        "trace_id", F.concat(F.lit("trc_"), F.col("conv_id"), F.lit("_"),
                             F.col("trace_num")),
    )


# ------------------------------------------------------------- A1 traces

def trace_rollup_aggs() -> list:
    """The A1 aggregate list, exposed so composite sinks (r6:
    route.conversation_tape) can fuse these into ONE groupBy with their
    own aggregates instead of aggregating the corpus twice and joining."""
    is_llm = F.col("input_tokens").isNotNull()
    is_main = is_llm & (F.col("call_kind") == "main")
    zero = F.lit(0).cast("long")
    return [
            F.count("*").alias("turn_count"),
            F.coalesce(F.sum(F.when(is_llm, F.col("input_tokens"))), zero).alias(
                "total_input_tokens"
            ),
            F.coalesce(F.sum(F.when(is_llm, F.col("output_tokens"))), zero).alias(
                "total_output_tokens"
            ),
            F.coalesce(F.sum(F.when(is_main, F.col("input_tokens"))), zero).alias(
                "main_input_tokens"
            ),
            F.coalesce(F.sum(F.when(is_main, F.col("output_tokens"))), zero).alias(
                "main_output_tokens"
            ),
            F.coalesce(
                F.sum(F.when(is_llm, F.col("cache_read_tokens"))), zero
            ).alias("cache_read_tokens"),
            F.coalesce(
                F.sum(F.when(is_llm, F.col("cache_write_tokens"))), zero
            ).alias("cache_creation_tokens"),
            F.round(F.coalesce(F.sum("cost_usd"), F.lit(0.0)), 6).alias(
                "total_cost_usd"
            ),
            F.min("ts").alias("started_at"),
            F.max("ts").alias("ended_at"),
            F.count(F.when(F.col("tool") != "", 1)).alias("tool_turns"),
    ]


def trace_rollup(df: DataFrame) -> DataFrame:
    """A1: one row per (conv_id, trace). llm turns = assistant turns with a
    usage marker; main_* restricted to call_kind='main'."""
    return (
        df.groupBy("conv_id", "trace_num", "trace_id")
        .agg(*trace_rollup_aggs())
        .withColumn(
            "duration_ms",
            (F.col("ended_at").cast("double") - F.col("started_at").cast("double"))
            * 1000.0,
        )
    )


# -------------------------------------------------------------- A2 usage

def model_usage(df: DataFrame) -> DataFrame:
    """A2: per (conv_id, model) calls/tokens/cost. Share basis is COST, not
    call count ("a fan-out of cheap subagent calls never out-votes the
    main-spine model", reference issue #28)."""
    llm = df.filter(F.col("model_norm").isNotNull())
    per_model = llm.groupBy("conv_id", F.col("model_norm").alias("model")).agg(
        F.count("*").alias("calls"),
        F.sum("input_tokens").alias("input_tokens"),
        F.sum("output_tokens").alias("output_tokens"),
        F.round(F.coalesce(F.sum("cost_usd"), F.lit(0.0)), 6).alias("cost_usd"),
    )
    total = Window.partitionBy("conv_id")
    return per_model.withColumn(
        "cost_share",
        F.when(
            F.sum("cost_usd").over(total) > 0,
            F.round(F.col("cost_usd") / F.sum("cost_usd").over(total), 6),
        ).otherwise(F.lit(0.0)),
    )


def model_usage_folded(df: DataFrame) -> DataFrame:
    """A2 folded to one row per conv: array of structs ordered cost DESC
    then model ASC (stable re-derives, spans.go:929-947)."""
    mu = model_usage(df)
    return mu.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cost_usd")).alias("_neg_cost"),
                    "model",
                    "calls",
                    "input_tokens",
                    "output_tokens",
                    "cost_usd",
                )
            )
        ).alias("_sorted")
    ).select(
        "conv_id",
        F.transform(
            F.col("_sorted"),
            lambda s: F.struct(
                s["model"].alias("model"),
                s["calls"].alias("calls"),
                s["input_tokens"].alias("input_tokens"),
                s["output_tokens"].alias("output_tokens"),
                s["cost_usd"].alias("cost_usd"),
            ),
        ).alias("model_usage"),
    )


# ------------------------------------------------------------- A3 kinds

def kind_counts(df: DataFrame, covered: DataFrame | None = None) -> DataFrame:
    """A3: per-conv call-kind tally as a map column.

    Empty-fold semantics: join against the *covered* conversations frame
    (default: all convs present in df) so a conversation with zero
    classified turns still materializes an empty map — "an omitted session
    is never written ... not a pure function of raw" (spans.go:79-80).
    """
    if covered is None:
        covered = df.select("conv_id").distinct()
    counts = (
        df.filter(F.col("call_kind").isNotNull())
        .groupBy("conv_id", "call_kind")
        .count()
        .groupBy("conv_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("call_kind", "count")))
            ).alias("kind_counts")
        )
    )
    return covered.join(counts, "conv_id", "left").select(
        "conv_id",
        F.coalesce(
            F.col("kind_counts"),
            F.from_json(F.lit("{}"), "map<string,bigint>"),
        ).alias("kind_counts"),
    )


# --------------------------------------------------------- A4 tasks fold

def tasks_fold(tool_tape: DataFrame) -> DataFrame:
    """A4 tasks replay as native window + max_by algebra (no Python).

    The sequential replay semantics decompose exactly:
      * era = number of TaskCreate rows seen so far per (conv, task id) —
        a re-create resets subject/status/updates, so only the FINAL era
        determines a task's terminal state;
      * an update is valid iff some create precedes it (era > 0);
      * terminal status/subject = last valid update in the final era
        (max_by over the (ts, turn_idx) order), else the create's;
      * per-task updates counter = valid updates in the final era;
        conv-level n_updates = ALL valid updates (the reference counter
        is never reset, tasks.go:14-111).
    """
    rows = tool_tape.filter(
        F.col("tool").isin("TaskCreate", "TaskUpdate")
        & F.col("result_text").isNotNull()
    )
    is_create = F.col("tool") == "TaskCreate"
    tid_s = F.regexp_extract(F.col("result_text"), r"#(\d+)", 1)
    parsed = (
        rows.withColumn("tid", F.when(tid_s != "", tid_s.cast("int")))
        .filter(F.col("tid").isNotNull())
        .withColumn("is_create", is_create)
        .withColumn(
            "subject_c",
            F.when(is_create,
                   F.regexp_extract(F.col("result_text"),
                                    r"#\d+(?::\s*(.*))?", 1)),
        )
        .withColumn(
            "status_u",
            F.nullif(
                F.regexp_extract(F.col("result_text"), r"#\d+.*?status=(\w+)", 1),
                F.lit(""),
            ),
        )
        .withColumn(
            "subject_u",
            F.nullif(
                F.regexp_extract(F.col("result_text"), r"#\d+.*?subject=(.*)", 1),
                F.lit(""),
            ),
        )
        .withColumn("ord", F.struct(F.col("result_ts"), F.col("turn_idx")))
    )
    w = (
        Window.partitionBy("conv_id", "tid")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy("conv_id", "tid")
    staged = (
        parsed.withColumn("era", F.sum(F.col("is_create").cast("int")).over(w))
        .withColumn("max_era", F.max("era").over(full))
        .withColumn(
            "valid_update", (~F.col("is_create")) & (F.col("era") > 0)
        )
        .withColumn("in_final", F.col("era") == F.col("max_era"))
    )
    per_task = (
        staged.groupBy("conv_id", "tid")
        .agg(
            F.max(F.col("is_create").cast("int")).alias("has_create"),
            F.max_by(
                F.col("subject_c"),
                F.when(F.col("is_create") & F.col("in_final"), F.col("ord")),
            ).alias("subject0"),
            F.max_by(
                F.col("status_u"),
                F.when(
                    F.col("valid_update")
                    & F.col("in_final")
                    & F.col("status_u").isNotNull(),
                    F.col("ord"),
                ),
            ).alias("status_f"),
            F.max_by(
                F.col("subject_u"),
                F.when(
                    F.col("valid_update")
                    & F.col("in_final")
                    & F.col("subject_u").isNotNull(),
                    F.col("ord"),
                ),
            ).alias("subject_f"),
            F.count(
                F.when(F.col("valid_update") & F.col("in_final"), 1)
            ).alias("updates_final"),
            F.count(F.when(F.col("valid_update"), 1)).alias("updates_all"),
        )
        .filter(F.col("has_create") == 1)
        .select(
            "conv_id",
            F.col("tid").alias("id"),
            F.coalesce(F.col("status_f"), F.lit("open")).alias("status"),
            F.trim(
                F.coalesce(F.col("subject_f"), F.col("subject0"), F.lit(""))
            ).alias("subject"),
            F.col("updates_final").alias("updates"),
            "updates_all",
        )
    )
    per_conv = per_task.groupBy("conv_id").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("status") != "deleted",
                        F.struct("id", "status", "subject", "updates"),
                    )
                )
            )
        ).alias("tasks_json"),
        F.count(F.when(F.col("status") != "deleted", 1)).cast("int").alias(
            "n_tasks"
        ),
        F.sum("updates_all").cast("int").alias("n_updates"),
    )
    return per_conv.select("conv_id", "tasks_json", "n_tasks", "n_updates")


# ------------------------------------------------------------ A5 status

def conv_status_aggs() -> list:
    """The A5 per-conv aggregate list (see :func:`conv_status`), exposed
    for the fused conv_aggregates pass (r6)."""
    return [
        F.max(F.col("is_git_activity").cast("int")).alias("has_git"),
        F.max_by(
            F.col("stop_reason"),
            F.when(F.col("call_kind") == "main", F.col("turn_idx")),
        ).alias("terminal_main_stop"),
        F.max_by("role", "turn_idx").alias("last_role"),
    ]


def tool_error_counts(tool_tape: DataFrame) -> DataFrame:
    """Per-conv tool result/error tallies (A5 input half over tool_tape)."""
    return tool_tape.groupBy("conv_id").agg(
        F.count(F.when(F.col("result_turn_idx").isNotNull(), 1)).alias(
            "tool_result_count"
        ),
        F.count(F.when(F.col("is_error"), 1)).alias("tool_error_count"),
    )


def status_ladder_col():
    """The A5 status when-chain over the joined per-conv columns."""
    return (
        F.when(F.col("has_git") == 1, "completed")
        .when(
            F.col("tool_error_count") * 2 > F.col("tool_result_count"), "failed"
        )
        .when(F.col("terminal_main_stop") == "error", "failed")
        .when(F.col("terminal_main_stop").isin(*TERMINAL_OK_STOPS), "completed")
        .when(F.col("last_role") != "assistant", "abandoned")
        .otherwise("unknown")
    )


def conv_status(df: DataFrame, tool_tape: DataFrame) -> DataFrame:
    """A5 ladder over the terminal main turn + tool error rates:

      1. any git activity (sticky flag)            -> completed
      2. tool_error_count * 2 > tool_result_count  -> failed
      3. terminal main turn stop_reason == 'error' -> failed
      4. terminal main stop in OK set              -> completed
      5. last turn not assistant                   -> abandoned
      6. else                                      -> unknown
    """
    tool_counts = tool_error_counts(tool_tape)
    # terminal picks as max_by hash aggregates (partial-agg friendly) rather
    # than full-partition windows — same semantics, no per-conv sort
    per_conv = df.groupBy("conv_id").agg(*conv_status_aggs())
    j = per_conv.join(tool_counts, "conv_id", "left").fillna(
        {"tool_result_count": 0, "tool_error_count": 0}
    )
    return j.select(
        "conv_id",
        "tool_result_count",
        "tool_error_count",
        (F.col("has_git") == 1).alias("has_git_activity"),
        status_ladder_col().alias("status"),
    )


# ----------------------------------------------------------- A6 rollup

def _with_latency(df: DataFrame) -> DataFrame:
    lag_w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn(
        "latency_ms",
        (F.col("ts").cast("double") - F.lag("ts").over(lag_w).cast("double"))
        * 1000.0,
    )


def conv_rollup_aggs() -> list:
    """The A6 base aggregate list (input must carry ``latency_ms`` —
    :func:`_with_latency`), exposed so route.conv_aggregates can fuse
    these with the A5 per-conv aggregates into ONE pass (r6)."""
    return [
        F.count("*").alias("turn_count"),
        F.max("trace_num").alias("trace_count"),
        F.sum("input_tokens").alias("total_input_tokens"),
        F.sum("output_tokens").alias("total_output_tokens"),
        F.round(F.coalesce(F.sum("cost_usd"), F.lit(0.0)), 6).alias(
            "total_cost_usd"
        ),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("last_seen_at"),
        F.round(F.min("latency_ms"), 3).alias("latency_ms_min"),
        F.round(F.avg("latency_ms"), 3).alias("latency_ms_avg"),
        F.round(F.max("latency_ms"), 3).alias("latency_ms_max"),
        F.count(F.when(F.col("tool") != "", 1)).alias("tool_turn_count"),
    ]


def conv_rollup(df: DataFrame) -> DataFrame:
    """A6: conversation totals + derived_model = mode of main llm models
    (GROUP BY model ORDER BY count DESC, model LIMIT 1 — spans.sql:210-262)
    + latency-delta stats over ts (the north_rule's lag() deltas)."""
    base = _with_latency(df).groupBy("conv_id").agg(*conv_rollup_aggs())
    return base.join(conv_derived_model(df), "conv_id", "left")


def conv_derived_model(df: DataFrame) -> DataFrame:
    """derived_model = mode of main llm models per conv (count DESC,
    model ASC — spans.sql:210-262)."""
    main_models = (
        df.filter((F.col("call_kind") == "main") & F.col("model_norm").isNotNull())
        .groupBy("conv_id", "model_norm")
        .count()
    )
    mw = Window.partitionBy("conv_id").orderBy(
        F.col("count").desc(), F.col("model_norm").asc()
    )
    return (
        main_models.withColumn("rn", F.row_number().over(mw))
        .filter(F.col("rn") == 1)
        .select("conv_id", F.col("model_norm").alias("derived_model"))
    )


# ----------------------------------------------------------- A7 window

def windowed_stats(
    trace_tape: DataFrame,
    status_df: DataFrame,
    since: str | None = None,
    until: str | None = None,
) -> DataFrame:
    """A7: global stats over started_at in [since, until).

    Written as one LEFT JOIN + conditional aggregates — the reference
    replaced a correlated EXISTS with exactly this shape because the
    per-row subquery "times out on a wide (30d) window at scale"
    (queries/spans.sql:276-309).
    """
    t = trace_tape
    if since:
        t = t.filter(F.col("started_at") >= F.lit(since).cast("timestamp"))
    if until:
        t = t.filter(F.col("started_at") < F.lit(until).cast("timestamp"))
    j = t.join(status_df.select("conv_id", "status"), "conv_id", "left")
    return j.agg(
        F.count("*").alias("trace_count"),
        F.countDistinct("conv_id").alias("conv_count"),
        F.countDistinct(F.when(F.col("status") == "completed", F.col("conv_id"))).alias(
            "completed_conv_count"
        ),
        F.sum("total_input_tokens").alias("total_input_tokens"),
        F.sum("total_output_tokens").alias("total_output_tokens"),
        F.sum("cache_read_tokens").alias("cache_read_tokens"),
        F.round(F.sum("total_cost_usd"), 6).alias("total_cost_usd"),
        F.round(F.sum("duration_ms"), 3).alias("total_duration_ms"),
        F.sum("tool_turns").alias("tool_call_count"),
    )


# ------------------------------------------------- salted two-phase aggs

def salted_collect(
    df: DataFrame, key: str, value_col: Column, alias: str, n_salt: int = 16
) -> DataFrame:
    """Two-phase collect_list with an explicit salt — for skewed keys where
    partial aggregation can't reduce data (collect is not combinable the
    way sums are: one 10^5-turn conversation would otherwise hydrate a
    single reducer).  Phase 1 groups on (key, salt); phase 2 flattens."""
    salted = df.withColumn("_salt", F.pmod(F.hash("turn_idx"), F.lit(n_salt)))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.collect_list(value_col).alias("_part")
    )
    return phase1.groupBy(key).agg(
        F.flatten(F.collect_list("_part")).alias(alias)
    )


def salted_count_distinct(
    df: DataFrame, key: str, value_col: str, alias: str, n_salt: int = 16
) -> DataFrame:
    """Two-phase exact distinct: dedup on (key, salt, value) first so the
    final per-key merge sees only distinct values."""
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.col(value_col)), F.lit(n_salt))
    )
    phase1 = salted.groupBy(key, "_salt").agg(
        F.collect_set(value_col).alias("_vals")
    )
    return phase1.groupBy(key).agg(
        F.size(F.array_distinct(F.flatten(F.collect_list("_vals")))).alias(alias)
    )
