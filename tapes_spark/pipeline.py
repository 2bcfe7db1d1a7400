"""The end-to-end parse -> enrich -> route -> aggregate pipeline.

This is the Spark shape of the reference's derive pass (SURVEY.md §3.2):
one declarative DataFrame plan from the transcripts table to the per-sink
tapes, re-runnable idempotently (derivation is a pure function of the
input — tapes' core correctness contract, deriveworker.go:71-73).

Stage layout (each a narrow projection until the conv_id shuffle):

  0 quarantine — malformed roles counted, never dropped from raw (C6/C7:
    "a turn that fails provider parsing is still captured")
  1 parse      — vectorized marker extraction (operators/parse.py)
  2 normalize  — N1/N2 tag-strip + whitespace (functions/normalize.py)
  3 classify   — C1 rule ladder (operators/classify.py)
  4 enrich     — broadcast dims + cache-tiered cost (operators/enrich.py)
  5 order      — Window.partitionBy(conv_id).orderBy(turn_idx): first-
    capture dedup flags + trace assignment (ONE shuffle, reused by every
    downstream window/agg because they all key on conv_id)
  6 route      — fan-out to conversation/tool/error tapes
  7 aggregate  — per-conv rollups + windowed stats + metrics tape

Scale notes: the enriched frame is persisted before fan-out so the four
sink jobs share one scan+shuffle; all windows/aggs key on conv_id so AQE
sees one co-partitioned lineage.  At 100 TB the input would be an Iceberg
table bucketed by conv_id — the shuffle at stage 5 then disappears
entirely (storage-partitioned scan).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tapes_spark.functions.normalize import (
    normalize_whitespace_col,
    normalized_and_preview_cols,
)
from tapes_spark.operators import aggregate as agg
from tapes_spark.operators import route
from tapes_spark.operators.classify import with_call_kind
from tapes_spark.operators.dropreason import with_drop_reason
from tapes_spark.operators.enrich import (
    enrich_pricing_static,
    enrich_role_static,
)
from tapes_spark.functions.hashing import chain_hashes
from tapes_spark.operators.links import link_tape
from tapes_spark.operators.joins import (
    attach_asof,
    attach_verdicts,
    with_first_capture,
    with_resume_boundary,
)
from tapes_spark.operators.parse import with_parsed_features

VALID_ROLES = ("user", "assistant", "tool", "system")


@dataclass
class PipelineResult:
    enriched: DataFrame
    sinks: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release every frame this pass cached (enriched, tool_tape,
        verdict_attachments).  Callers that run many passes in one session
        — the incremental page drain — must release each page or cached
        blocks accumulate for the whole drain."""
        for df in (
            self.enriched,
            self.sinks.get("tool_tape"),
            self.sinks.get("verdict_attachments"),
        ):
            if df is not None and df.storageLevel != StorageLevel.NONE:
                df.unpersist()


def build_enriched(
    spark: SparkSession, transcripts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Stages 0-5: returns (enriched_valid, quarantined).

    One pandas-UDF pass produces both normalization variants; ONE explicit
    hash-repartition on conv_id feeds every downstream window and groupBy
    (their clustering keys all start with conv_id, so Spark reuses this
    exchange — the whole pipeline has a single wide shuffle).  On a real
    cluster with the input Iceberg table bucketed by conv_id even this
    exchange disappears (storage-partitioned scan).
    """
    # C8: the ordered drop-reason ladder decides derivability; quarantined
    # rows keep their reason (counted, never dropped from raw)
    flagged = with_drop_reason(transcripts)
    quarantined = flagged.filter(F.col("drop_reason").isNotNull())
    valid = flagged.filter(F.col("drop_reason").isNull()).drop("drop_reason")

    # split-union so the Arrow round-trip ships ONLY tagged rows (~10% of
    # real traffic): ArrowEvalPython evaluates unconditionally per row, so
    # a when()-gate would not avoid the transfer — a filter does.
    maybe_tagged = F.coalesce(F.col("text").contains("<"), F.lit(False))
    text_norm, text_preview = normalized_and_preview_cols(F.col("text"))
    # Coalesce the tagged branch to the core count before the Arrow UDF:
    # under the bench's small input splits the branch otherwise runs as
    # ~190 tiny tasks and EVERY task pays the Arrow python-runner setup
    # (~50 ms each — measured 14.5 s -> 4.7 s for the whole branch on a
    # 1-core executor, with the UDF body itself at ~0.3 s).  Coalesce is
    # narrow (no shuffle) and the branch feeds the conv_id exchange
    # anyway, so its partitioning is free to collapse (guide §4.1/§6).
    n_slots = max(1, spark.sparkContext.defaultParallelism)
    tagged = (
        valid.filter(maybe_tagged)
        .coalesce(n_slots)
        .withColumn("text_norm", text_norm)
        .withColumn("text_preview", F.substring(text_preview, 1, 120))
    )
    ws_only = normalize_whitespace_col(F.col("text"))
    # On the untagged branch the preview policy IS the norm policy (both
    # reduce to whitespace normalization), so text_preview would be a
    # byte-identical copy of text_norm — store NULL instead and let the
    # single consumer reconstruct it (route.conversation_tape coalesces
    # to substring(text_norm, 1, 120)).  The column was ~25% of the
    # staged bytes and of the wide exchange (r6, guide §2.3).
    plain = (
        valid.filter(~maybe_tagged)
        .withColumn("text_norm", ws_only)
        .withColumn("text_preview", F.lit(None).cast("string"))
    )
    normalized = tagged.unionByName(plain)
    # Parse AFTER the union (r6): the branches consume only raw `text`
    # (the contains('<') split + normalization), so the 15-expression
    # parse projection does not belong in the scan+normalize codegen
    # stage.  Fused there, the generated stage method exceeded HotSpot's
    # 8000-bytecode JIT ceiling (session.py hugeMethodLimit note) and the
    # WHOLE stage — scan, filters, whitespace chain AND parse — ran
    # interpreted on both branches.  Hoisting parse above the union keeps
    # the per-branch methods JIT-compiled and runs parse once per row in
    # its own stage (union children are separate codegen groups).
    parsed = with_parsed_features(normalized)
    classified = with_call_kind(parsed)
    # static dims as literal-map lookups: two BroadcastHashJoins (and
    # their dim-side jobs + broadcast exchanges) fold into the map
    # stage's whole-stage codegen (r6; parity vs the join path is gated
    # by tests/test_enrich_static.py)
    enriched = enrich_pricing_static(enrich_role_static(classified))
    # Column diet BEFORE the wide exchange: past enrichment, raw `text`
    # is read only by the tool pairing (call/result text), the verdict
    # matcher (tool calls, <transcript> user turns, checks), and the
    # title fold — null it on the bulk rows (plain responses/prompts),
    # and pre-truncate text_preview to its single consumer's 120-char
    # cap.  Without this the one conv_id shuffle, the staged parquet,
    # and every sink scan carry THREE near-full copies of the corpus
    # text; text_norm stays full (block sigs, response previews, export).
    keep_raw = (
        (F.col("role") == "tool")
        | ((F.col("role") == "assistant") & (F.col("tool") != ""))
        | ((F.col("role") == "user") & F.col("text").contains("<transcript>"))
        | F.col("call_kind").isin("check", "title")
    )
    enriched = enriched.withColumn(
        "text", F.when(keep_raw, F.col("text"))
    )
    # explicit partition count: column-only repartition lets AQE coalesce
    # to ~64MB advisory partitions, capping downstream parallelism below
    # the core count (observed: 12 tasks on 32 cores)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    co_partitioned = enriched.repartition(n_parts, "conv_id")
    ordered = with_resume_boundary(
        agg.with_traces(with_first_capture(co_partitioned))
    )
    return ordered, quarantined


def _stage_bucketed(
    spark: SparkSession, df: DataFrame, stage_dir: str, name: str
) -> DataFrame:
    """Materialize *df* under ``{stage_dir}/{name}`` as a conv_id-bucketed,
    (conv_id, turn_idx)-sorted external table and return the re-read frame.

    The table name is deterministic per (stage_dir, name), so repeated
    passes over the same stage_dir overwrite in place (no catalog
    accretion in persistent bench children / incremental drains)."""
    import hashlib

    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    tag = hashlib.md5(stage_dir.encode()).hexdigest()[:10]
    table = f"tapes_stage_{name}_{tag}"
    (
        df.write.mode("overwrite")
        .option("path", f"{stage_dir}/{name}")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    persist: bool = True,
    with_verdict_attach: bool = True,
    stage_dir: str | None = None,
    session_meta: DataFrame | None = None,
    corrections: DataFrame | None = None,
    reconciled: DataFrame | None = None,
    agent_transcripts: DataFrame | None = None,
) -> PipelineResult:
    """If *stage_dir* is set, the enriched frame is materialized there as
    parquet and re-read — the stage-table pattern a cluster pipeline uses
    (cheaper than Spark's in-memory columnar cache for wide text columns,
    and it survives executor loss).  Otherwise ``persist`` controls an
    in-memory MEMORY_AND_DISK cache."""
    t0 = time.time()
    if corrections is not None:
        # J9: the latest-wins attribution overlay rides every raw scan
        # (raw stays immutable; see operators/corrections.py)
        from tapes_spark.operators.corrections import apply_corrections

        transcripts = apply_corrections(transcripts, corrections)
    enriched, quarantined = build_enriched(spark, transcripts)
    if stage_dir:
        # r6: the stage tables are written BUCKETED by conv_id (sorted by
        # conv_id, turn_idx) instead of plain parquet.  A plain staged
        # parquet loses the conv_id partitioning on re-read, so every one
        # of the nine sink jobs re-shuffled (and re-sorted) the corpus;
        # a bucketed scan carries HashPartitioning(conv_id) — the same
        # clustering every sink window/groupBy keys on — so those
        # exchanges vanish (guide §2.4).  Bucket count == the shuffle
        # partition count the enriched frame is already hash-partitioned
        # to, so the bucketed write itself needs no extra shuffle and
        # lands exactly one file per bucket (which also lets Spark trust
        # the per-bucket sort order and skip window sorts on conv_id,
        # turn_idx).  This is the local-mode shape of the 100 TB design
        # (conv_id-bucketed Iceberg stage table).
        #
        # trace_id is a pure derivation of (conv_id, trace_num) — writing
        # it would add a ~26-char string per corpus row to the staged
        # parquet (encode + decode + bytes) for a column every reader can
        # reconstitute with one concat (guide §2.3: stage keys and
        # metadata, not derivable payloads).  Reconstructed in-place after
        # the re-read so consumers see the identical frame.
        #
        # Likewise text_norm: on the rows whose raw `text` the keep_raw
        # diet retains (tool results, tool calls, checks, titles), the
        # normalization is a byte-identical copy ~99% of the time
        # (measured: 47.5 MB of 144 MB text_norm on a quarter corpus) —
        # store NULL there and reconstitute with one coalesce.  NULL is
        # unambiguous: text_norm is never semantically null on valid rows,
        # so NULL can only mean "equal to the kept text".
        cols = enriched.columns
        diet = enriched.withColumn(
            "text_norm",
            F.when(
                F.col("text") == F.col("text_norm"), F.lit(None).cast("string")
            ).otherwise(F.col("text_norm")),
        )
        enriched = _stage_bucketed(
            spark, diet.drop("trace_id"), stage_dir, "enriched"
        )
        enriched = (
            enriched.withColumn(
                "trace_id",
                F.concat(
                    F.lit("trc_"), F.col("conv_id"), F.lit("_"),
                    F.col("trace_num"),
                ),
            )
            .withColumn(
                "text_norm", F.coalesce(F.col("text_norm"), F.col("text"))
            )
            .select(*cols)
        )
    elif persist:
        enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)

    tool_tape = route.tool_tape(enriched)
    if stage_dir:
        # stage the tool tape too: three sinks consume it, and concurrent
        # sink jobs would otherwise race to fill (and redundantly compute)
        # a lazy cache
        tool_tape = _stage_bucketed(spark, tool_tape, stage_dir, "tool_tape")
    elif persist:
        tool_tape = tool_tape.persist(StorageLevel.MEMORY_AND_DISK)

    sinks: dict[str, DataFrame] = {
        "conversation_tape": route.conversation_tape(enriched),
        "tool_tape": tool_tape,
        "error_tape": route.error_tape(enriched, tool_tape),
        "conv_aggregates": route.conv_aggregates(enriched, tool_tape),
    }
    if session_meta is not None:
        # envelope side-channel: parent links + user renames, with
        # placeholder rows for not-yet-seen parents (sessions.sql:124-154)
        from tapes_spark.operators.sessions import with_hierarchy

        sinks["conv_aggregates"] = with_hierarchy(
            sinks["conv_aggregates"], session_meta
        )
    if with_verdict_attach:
        va = attach_verdicts(enriched)
        if persist or stage_dir:
            # link_tape embeds this subtree for its verdict links; without
            # a persist the whole matcher fold runs TWICE (once per sink
            # job).  The output is tiny (one row per check turn)
            va = va.persist(StorageLevel.MEMORY_AND_DISK)
        sinks["verdict_attachments"] = va
    # J4/J5 as-of attachments: web summaries -> most recent preceding
    # WebFetch/WebSearch call; plan-name turns -> preceding ExitPlanMode
    sinks["web_attachments"] = attach_asof(
        enriched, "web", ["WebFetch", "WebSearch"]
    )
    sinks["plan_attachments"] = attach_asof(enriched, "plan", ["ExitPlanMode"])
    # P11: the per-turn merkle chain tape (one row per valid turn) — wired
    # as a first-class sink so its cost is part of every pipeline bench
    sinks["chain_tape"] = chain_hashes(enriched)
    # the span-links dataflow graph (emits/feeds/compaction-seam/verdict);
    # with the J6 reconcile side-inputs the sink is the FULL union — every
    # declared LINK_KIND (rejoin + orphan-thread included) reaches the
    # tape without caller composition (links.py full_link_tape)
    in_conv = link_tape(
        enriched, tool_tape, sinks.get("verdict_attachments")
    )
    if reconciled is not None:
        from tapes_spark.operators.links import (
            full_link_tape,
            orphan_thread_links,
            rejoin_links,
        )

        rejoins = (
            rejoin_links(reconciled, agent_transcripts, tool_tape)
            if agent_transcripts is not None
            else None
        )
        sinks["link_tape"] = full_link_tape(
            in_conv, rejoins, orphan_thread_links(reconciled)
        )
    else:
        sinks["link_tape"] = in_conv

    result = PipelineResult(enriched=enriched, sinks=sinks)
    result.metrics["quarantined_rows"] = quarantined  # lazily counted by caller
    result.metrics["wall_start"] = t0
    return result


def materialize_sinks(result: PipelineResult) -> dict[str, int]:
    """Run every sink's job CONCURRENTLY (Spark's scheduler interleaves
    independent jobs across the executor pool).  The serial alternative
    leaves most cores idle during each small sink's tail — this is the
    difference between Amdahl-bound and scalable wall-clock at high core
    counts.  Returns row counts per sink."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(result.sinks)) as pool:
        futures = {
            name: pool.submit(df.count) for name, df in result.sinks.items()
        }
        return {name: f.result() for name, f in futures.items()}


def run_metrics(
    spark: SparkSession,
    result: PipelineResult,
    run_id: str,
    raw_transcripts: DataFrame | None = None,
) -> DataFrame:
    """A8/S10: the auditable metrics tape — one row per counter per run.

    Mirrors the reference's per-stage Prometheus counters
    (ingest/metrics.go:39-66; pkg/derive/worker/metrics.go:73-125), but
    written as a queryable tape (north_rule: "metrics emitted as an
    auditable tape").

    Per-reason drop counters cover the FULL C8 ladder: the 5 derive-tier
    reasons come from the pass's own quarantine stream (zero-filled so
    the closed vocabulary always appears); the 3 transport-tier reasons
    need the per-conversation windows over the RAW capture stream — pass
    *raw_transcripts* to audit them (dropreason.go's per-reason counter
    contract).  Without raw input the transport counters are OMITTED,
    never fabricated as zero.  Per-sink row counts are not repeated here:
    ``SinkWriter.write_all`` puts each on the tape once per commit.
    """
    from tapes_spark.operators.dropreason import (
        DROP_REASONS,
        TRANSPORT_DROP_REASONS,
        with_full_drop_reason,
    )
    from tapes_spark.tapelog.writer import metrics_frame

    # One grouped job per histogram; the totals are their sums, and the
    # per-sink row counts come from the sink commits (SinkWriter).
    kind_hist = {
        r["call_kind"]: r["count"]
        for r in result.enriched.groupBy("call_kind").count().collect()
    }
    counters: list[tuple[str, str, float]] = [
        (run_id, "turns_in", float(sum(kind_hist.values())))
    ]
    quarantined = result.metrics.get("quarantined_rows")
    if quarantined is not None and not isinstance(quarantined, (int, float)):
        derive_hist = {
            r["drop_reason"]: r["count"]
            for r in quarantined.groupBy("drop_reason").count().collect()
        }
        counters.append(
            (run_id, "turns_quarantined", float(sum(derive_hist.values())))
        )
        for reason in DROP_REASONS:
            counters.append(
                (run_id, f"drop_reason_{reason}",
                 float(derive_hist.get(reason, 0)))
            )
    if raw_transcripts is not None:
        transport_hist = {
            r["drop_reason"]: r["count"]
            for r in with_full_drop_reason(raw_transcripts)
            .filter(F.col("drop_reason").isin(*TRANSPORT_DROP_REASONS))
            .groupBy("drop_reason")
            .count()
            .collect()
        }
        for reason in TRANSPORT_DROP_REASONS:
            counters.append(
                (run_id, f"drop_reason_{reason}",
                 float(transport_hist.get(reason, 0)))
            )
    for k, v in sorted(kind_hist.items()):
        counters.append((run_id, f"call_kind_{k}", float(v)))
    counters.append(
        (run_id, "wall_seconds",
         float(time.time() - result.metrics.get("wall_start", time.time())))
    )
    return metrics_frame(spark, counters)


REPORT_SAMPLE_CAP = 20  # "a wholly broken pass doesn't produce a megabyte
# of strings" (reference deriver.go:93-95)


def derive_report(result: PipelineResult) -> dict:
    """A8: per-pass derive report — counters + CAPPED samples.

    Mirrors the reference's DeriveReport (deriver.go:95-128): quarantined
    turn samples and unattached check turns are capped at 20; histograms
    are full.  Caps are explicit in the output, never silent.
    """
    enriched = result.enriched
    report: dict = {"sample_cap": REPORT_SAMPLE_CAP}
    report["call_kind_histogram"] = {
        r["call_kind"]: r["count"]
        for r in enriched.groupBy("call_kind").count().collect()
    }
    quarantined = result.metrics.get("quarantined_rows")
    if quarantined is not None and not isinstance(quarantined, (int, float)):
        report["quarantined_count"] = quarantined.count()
        # C8: per-reason histogram over the closed vocabulary
        report["drop_reason_histogram"] = {
            r["drop_reason"]: r["count"]
            for r in quarantined.groupBy("drop_reason").count().collect()
        }
        report["quarantined_samples"] = [
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
             "role": r["role"]}
            for r in quarantined.limit(REPORT_SAMPLE_CAP).collect()
        ]
    if "verdict_attachments" in result.sinks:
        va = result.sinks["verdict_attachments"]
        unattached = va.filter(F.col("tool_turn_idx").isNull())
        report["verdicts_total"] = va.count()
        report["verdicts_unattached"] = unattached.count()
        report["unattached_samples"] = [
            {"conv_id": r["conv_id"], "check_turn_idx": r["check_turn_idx"]}
            for r in unattached.limit(REPORT_SAMPLE_CAP).collect()
        ]
    for name in ("web_attachments", "plan_attachments"):
        if name in result.sinks:
            report[f"{name}_count"] = result.sinks[name].count()
    return report


def windowed_stats(result: PipelineResult, since=None, until=None) -> DataFrame:
    status = result.sinks["conv_aggregates"].select("conv_id", "status")
    return agg.windowed_stats(
        result.sinks["conversation_tape"], status, since, until
    )
