"""Per-layer metrics for the traced run (``--trace 1``).

Three sources, all driven from outside the program:

* the traced operation itself: spans around ``batch_fingerprint``,
  ``run_pipeline`` (``plan``), ``SinkWriter.write_all``, each sink's
  ``TapeTable`` write, ``run_metrics`` and ``IncrementalDeriver.process``.
  After ``run_pipeline`` returns, the persisted ``enriched`` frame is
  materialized in its own span so each sink span covers only that sink.
* materialization modes: how long an already planned pipeline takes to
  materialize every sink, by ``count()`` over the staged path (what
  bench.py times) and by noop writes of every sink, staged and persisted.
  Planning is not part of a mode (it is ``plan.wall_s``); the staged
  path's stage-table writes, which run inside ``run_pipeline``, are (their
  Spark job time, from the event log).  The persisted mode reuses the
  operation's own last ``run_pipeline`` result, its caches released and
  registered again, so it needs no second plan.
* isolation: each narrow layer's public function applied to a
  materialized in-memory copy of its input, timed as a noop write, minus
  the noop write of that input alone; the conv_id exchange as
  ``build_enriched``'s frame minus ``build_enriched``'s own frame just
  before its repartition (taken from its logical plan), both over the same
  cached input.

The last two run in the warm JVM after the operation, and only while the
run can still end within its time limit; a skipped group's metrics are
left out of the output and named on the info line.

Task metrics (CPU, GC, shuffle, spill, task times) come from the event
log, per job group, after the session stops (:func:`finish`).
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import checks
import tapes_spark.pipeline as pipeline
import tapes_spark.streaming.stream as stream
import tapes_spark.tapelog.incremental as incremental
from tapes_spark.functions.normalize import (
    normalize_whitespace_col,
    normalized_and_preview_cols,
)
from tapes_spark.operators.classify import with_call_kind
from tapes_spark.operators.dropreason import with_drop_reason
from tapes_spark.operators.enrich import (
    enrich_pricing_static,
    enrich_role_static,
)
from tapes_spark.operators.parse import with_parsed_features
from tapes_spark.tapelog.table import TapeTable
from tapes_spark.tapelog.writer import SINK_NAMES, SinkWriter
from tracing import Tracer, read_event_log, rollup, self_time, wall

# Worst case seen on a contended 4-core host, plus stopping the session
# and parsing the event log afterwards.
MODES_NEED_S = 60.0
ISOLATE_NEED_S = 40.0


def instrument_op(spark) -> Tracer:
    tracer = Tracer(spark.sparkContext)
    tracer.count_py4j()
    run_pipeline = pipeline.run_pipeline

    def traced_run_pipeline(*a, **k):
        with tracer.span("plan"):
            result = run_pipeline(*a, **k)
        # the frames this pass cached, for the persisted mode (the drain
        # releases them before the operation returns)
        frames = [result.enriched, *result.sinks.values()]
        tracer.results.append(
            (result, [(df, df.storageLevel) for df in frames]))
        with tracer.span("enriched"):
            _noop(result.enriched)
        return result

    for module in (pipeline, incremental):
        tracer._patch(module, "run_pipeline", traced_run_pipeline)
    tracer.wrap(stream, "batch_fingerprint", "fingerprint")
    tracer.wrap(pipeline, "run_metrics", "run_metrics")
    tracer.wrap(SinkWriter, "write_all", "write_all")
    tracer.wrap(incremental.IncrementalDeriver, "process", "drain")

    def sink_label(table, *_a, **_k):
        name = os.path.basename(table.root)
        inside = tracer._stack and tracer._stack[-1]["name"] == "write_all"
        return f"sink.{name}" if inside and name in SINK_NAMES else None

    tracer.wrap(TapeTable, "overwrite", sink_label)
    tracer.wrap(TapeTable, "overwrite_partitions", sink_label)

    pruned_files = TapeTable.pruned_files

    def traced_pruned_files(table, *a, **k):
        kept = pruned_files(table, *a, **k)
        sid = table.current_snapshot_id()
        total = len(table.manifest(sid)["files"]) if sid else 0
        tracer.pruned.append((len(kept), total))
        return kept

    tracer._patch(TapeTable, "pruned_files", traced_pruned_files)
    return tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sum_wall(tracer: Tracer, op: dict, name: str) -> float:
    ids = {s["id"] for s in tracer.descendants(op)}
    return sum(wall(s) for s in tracer.find(name) if s["id"] in ids)


def measure(spark, tracer: Tracer, wl, out: dict, deadline: float):
    """Span metrics of the traced operation, then the materialization
    modes and the isolated layers, each only if it can finish before the
    ``time.perf_counter()`` value *deadline*.  Event-log metrics, the
    modes among them, are added by finish().  Returns (metrics, failed
    check messages, names of skipped groups)."""
    op = tracer.find("op")[0]
    m: dict[str, tuple[float, str]] = {}
    problems: list[str] = []
    skipped: list[str] = []
    m["op.self_s"] = (self_time(tracer, op), "s")
    for name in ("fingerprint", "write_all", "run_metrics"):
        m[f"{name}.wall_s"] = (_sum_wall(tracer, op, name), "s")
    plans = tracer.find("plan")
    m["plan.wall_s"] = (sum(wall(s) for s in plans), "s")
    m["plan.py4j_calls"] = (sum(s["py4j_calls"] for s in plans), "count")
    for name in SINK_NAMES:
        m[f"sink.{name}.wall_s"] = (_sum_wall(tracer, op, f"sink.{name}"), "s")
    drains = tracer.find("drain")
    m["drain.dirty_s"] = (sum(self_time(tracer, s) for s in drains), "s")
    m["drain.pages"] = (float(out.get("pages", 0)), "count")
    kept = sum(k for k, _ in tracer.pruned)
    total = sum(t for _, t in tracer.pruned)
    m["drain.pruned_files_ratio"] = (1 - kept / total if total else 0.0,
                                     "ratio")
    m["drain.groups_rewritten"] = (float(_groups_rewritten(wl)), "count")

    # The modes go first because they are the costlier and the more
    # asked-for; they need the operation's run_pipeline result.
    if tracer.results and deadline - time.perf_counter() >= MODES_NEED_S:
        _modes(spark, tracer, wl)
    else:
        skipped.append("mode")
    if deadline - time.perf_counter() >= ISOLATE_NEED_S:
        problems += _isolate(spark, tracer, wl, m)
    else:
        skipped.append("isolation")
    return m, problems, skipped


def _groups_rewritten(wl) -> int:
    """Sink data groups the operation replaced, from the manifests."""
    base = getattr(wl, "base", None)
    if base is None:
        return 0
    n = 0
    for name in SINK_NAMES:
        groups = [
            {os.path.dirname(os.path.relpath(f, root))
             for f in checks.snapshot_files(root)}
            for root in (os.path.join(base, "sinks", name),
                         os.path.join(wl.sinks, name))
        ]
        n += len(groups[0] - groups[1])
    return n


def _timed(tracer: Tracer, name: str, df) -> float:
    """One noop write of *df* in its own span.  Not repeated: a second
    write of the same frame reuses its shuffle files and skips stages."""
    with tracer.span(name) as s:
        _noop(df)
    return wall(s)


def _mem(df):
    df = df.persist()
    df.count()
    return df


def _split_union(spark, valid):
    """Normalization as build_enriched applies it: the tag-strip UDF on
    rows that may carry tags, whitespace normalization on the rest.  A
    copy of build_enriched's split (the issue names only the two public
    functions); _isolate checks it against build_enriched's own frame."""
    maybe_tagged = F.coalesce(F.col("text").contains("<"), F.lit(False))
    text_norm, text_preview = normalized_and_preview_cols(F.col("text"))
    tagged = (
        valid.filter(maybe_tagged)
        .coalesce(max(1, spark.sparkContext.defaultParallelism))
        .withColumn("text_norm", text_norm)
        .withColumn("text_preview", F.substring(text_preview, 1, 120))
    )
    plain = (
        valid.filter(~maybe_tagged)
        .withColumn("text_norm", normalize_whitespace_col(F.col("text")))
        .withColumn("text_preview", F.lit(None).cast("string"))
    )
    return tagged.unionByName(plain), maybe_tagged


def _enrich(df):
    return enrich_pricing_static(enrich_role_static(df))


def _before_exchange(spark, enriched):
    """build_enriched's own frame just before its conv_id repartition,
    cut out of the frame's logical plan (None if it has none)."""
    todo = [enriched._jdf.queryExecution().logical()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "RepartitionByExpression":
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, node.child())
            return DataFrame(jdf, spark)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return None


def _fingerprint(df) -> tuple:
    """Schema, row count and an order-independent hash of every column but
    raw ``text`` (which build_enriched nulls on most rows just before its
    exchange)."""
    cols = [c for c in df.columns if c != "text"]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [(f.name, f.dataType.simpleString()) for f in df.schema], \
        row["n"], row["h"]


def _isolate(spark, tracer: Tracer, wl, m: dict) -> list[str]:
    """Times each narrow layer and the exchange in isolation.  Returns
    failed check messages: the narrow chain timed here must give what
    build_enriched gives before its exchange, or the layer times would
    measure some other code."""
    tx = wl.read_input()
    m["scan.wall_s"] = (_timed(tracer, "scan", tx), "s")
    m["scan.input_mb"] = (wl.input_mb(), "MB")
    cached = [_mem(tx)]
    base = _timed(tracer, "iso.input", cached[0])

    flagged = with_drop_reason(cached[0])
    m["dropreason.self_s"] = (_timed(tracer, "iso.dropreason", flagged)
                              - base, "s")
    m["dropreason.rows_quarantined"] = (
        float(flagged.filter(F.col("drop_reason").isNotNull()).count()),
        "count")
    cached.append(_mem(flagged.filter(F.col("drop_reason").isNull())
                       .drop("drop_reason")))
    base = _timed(tracer, "iso.input", cached[-1])
    normalized, maybe_tagged = _split_union(spark, cached[-1])
    m["normalize.self_s"] = (_timed(tracer, "iso.normalize", normalized)
                             - base, "s")
    m["normalize.arrow_rows"] = (
        float(cached[-1].filter(maybe_tagged).count()), "count")
    cached.append(_mem(normalized))
    for name, fn in (("parse", with_parsed_features),
                     ("classify", with_call_kind), ("enrich", _enrich)):
        base = _timed(tracer, "iso.input", cached[-1])
        out = fn(cached[-1])
        m[f"{name}.self_s"] = (_timed(tracer, f"iso.{name}", out) - base, "s")
        if name != "enrich":
            cached.append(_mem(out))

    problems = []
    enriched, _ = pipeline.build_enriched(spark, cached[0])
    before = _before_exchange(spark, enriched)
    if before is None:
        problems.append("build_enriched has no conv_id repartition: "
                        "exchange not measurable")
    else:
        # exchange = build_enriched minus its own pre-exchange frame, both
        # lazy over the cached input
        t_before = _timed(tracer, "iso.before_exchange", before)
        m["exchange.self_s"] = (_timed(tracer, "iso.exchange", enriched)
                                - t_before, "s")
        chain = _enrich(with_call_kind(with_parsed_features(
            _split_union(spark, cached[1])[0])))
        if _fingerprint(chain) != _fingerprint(before):
            problems.append(
                "the isolated narrow chain differs from build_enriched's "
                "frame before its exchange (schema, rows or content)")
    for df in cached:
        df.unpersist()
    return problems


def _noop_all(result) -> None:
    """A noop write of every sink, run concurrently as materialize_sinks
    runs its counts."""
    with ThreadPoolExecutor(max_workers=len(result.sinks)) as pool:
        list(pool.map(_noop, result.sinks.values()))


def _modes(spark, tracer: Tracer, wl) -> None:
    """The two open materialization questions, on record (finish() turns
    the spans into metrics): count() over the staged path (bench.py's
    measure, which column pruning shortens) vs a noop write of every sink
    with all its columns, staged and persisted (submit's default).  The
    frames a staged pass persisted are released between its two actions so
    each action computes them."""
    stage = os.path.join(os.getcwd(), "stage")
    with tracer.span("mode.stage"):
        staged = pipeline.run_pipeline(spark, wl.read_input(),
                                       stage_dir=stage)
    with tracer.span("mode.count"):
        pipeline.materialize_sinks(staged)
    staged.unpersist()
    with tracer.span("mode.staged_noop"):
        _noop_all(staged)
    staged.unpersist()

    result, levels = tracer.results[-1]
    for df, _ in levels:
        if df.storageLevel != StorageLevel.NONE:
            df.unpersist()
    for df, level in levels:
        if level != StorageLevel.NONE:
            df.persist(level)
    with tracer.span("mode.persist_noop"):
        _noop_all(result)
    result.unpersist()


def finish(tracer: Tracer, m: dict, log_dir: str, cores: int) -> None:
    """Add the event-log metrics (call after the session has stopped, so
    the log is complete)."""
    groups = read_event_log(log_dir)
    op = rollup(tracer, tracer.find("op")[0], groups, cores)
    for k in ("jobs", "stages", "tasks"):
        m[f"op.{k}"] = (float(op[k]), "count")
    for k in ("task_cpu_s", "gc_s"):
        m[f"op.{k}"] = (op[k], "s")
    for k in ("shuffle_write_mb", "spill_mb"):
        m[f"op.{k}"] = (op[k], "MB")
    m["op.slot_util"] = (op["slot_util"], "ratio")
    for name in ("fingerprint", "write_all", "run_metrics"):
        spans = tracer.find(name)
        m[f"{name}.jobs"] = (float(sum(
            rollup(tracer, s, groups, cores)["jobs"] for s in spans)), "count")
    for name in SINK_NAMES:
        spans = tracer.find(f"sink.{name}")
        rs = [rollup(tracer, s, groups, cores) for s in spans]
        m[f"sink.{name}.task_cpu_s"] = (sum(r["task_cpu_s"] for r in rs), "s")
        m[f"sink.{name}.slot_util"] = (
            statistics.mean(r["slot_util"] for r in rs) if rs else 0.0,
            "ratio")
    if tracer.find("mode.stage"):
        # the staged pass's stage-table writes: its Spark jobs' time
        stage_s = rollup(tracer, tracer.find("mode.stage")[0], groups,
                         cores)["job_s"]
        m["mode.count_s"] = (stage_s + wall(tracer.find("mode.count")[0]),
                             "s")
        m["mode.staged_noop_s"] = (
            stage_s + wall(tracer.find("mode.staged_noop")[0]), "s")
        m["mode.persist_noop_s"] = (
            wall(tracer.find("mode.persist_noop")[0]), "s")
    if tracer.find("iso.exchange"):
        r = rollup(tracer, tracer.find("iso.exchange")[0], groups, cores)
        m["exchange.shuffle_write_mb"] = (r["shuffle_write_mb"], "MB")
        m["exchange.spill_mb"] = (r["spill_mb"], "MB")
        m["exchange.task_skew"] = (r["last_stage_skew"], "ratio")
        m["exchange.slot_util"] = (r["slot_util"], "ratio")


def span_dump(tracer: Tracer) -> list:
    """The spans of the traced run, times relative to the first span."""
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    return [
        [s["name"], s["id"], s["parent"], round(s["start"] - t0, 4),
         round(s["end"] - t0, 4)]
        for s in tracer.spans
    ]
