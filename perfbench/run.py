#!/usr/bin/env python3
"""End-to-end benchmark of ``tapes_spark.submit`` as shipped.

    python3 perfbench/run.py --workload derive_bulk --seed 1 --seconds 60 --trace 0

Run from the repository root.  One run is one process and times ONE
operation: a ``submit.main`` call in a fresh JVM, which is what every
``spark-submit`` of the one-shot job pays (JVM warm-up included).  A
second call in the same process would be warm and measure something else,
so a run never repeats it; run-to-run statistics come from repeated runs.
``--seconds`` is accepted for the command-line contract only: the one
operation takes about a minute on 4 cores whatever it is given.
Load shape: closed loop, one client, ``local[nproc]``, session config from
``get_spark`` with ``--parallelism nproc`` and nothing else (the traced
run adds the event log).

Workloads (see workloads.py and BENCHMARK.json):
  drain_incremental  append a seeded 1% delta to an already-derived and
                     checkpointed TapeTable, then ``submit --input-tape
                     --incremental`` (the freshness latency)
  derive_bulk        full derive of a seeded parquet corpus

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
operation traced (spans + job groups + event log) and then times each
layer in isolation (layers.py), printing the per-layer metrics.  Every
operation's sinks are checked untimed (checks.py).  The last stdout line
is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("drain_incremental", "derive_bulk")
SETUP_REPEATS = 3
RUN_LIMIT_S = 180  # a run, including a traced one, must end within this
T_START = time.perf_counter()


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=60,
                   help="not used: a run times exactly one operation, "
                        "which takes about a minute on 4 cores")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-drain-base", metavar="DIR",
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.workload is None and args.build_drain_base is None:
        p.error("--workload is required")
    return args


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout (must run before pyspark or tempfile are first used)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.chdir(WORK)  # spark-warehouse / derby.log land here, not in the repo


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------- processes

def tree_rss_mb(root_pid: int) -> float:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 1e6


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs (a
    run whose operation overlapped much of it ran on a contended host)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the RSS of this process and all its descendants (Python
    driver, JVM, Arrow/pandas workers) every *interval* seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


def start_spark(app: str, trace: bool):
    from tapes_spark.session import get_spark

    extra = None
    if trace:
        log_dir = os.path.join(os.getcwd(), "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        # one plain JSON-lines file, parsed after the session stops
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(app, parallelism=nproc(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def submit(argv: list[str]) -> dict:
    from tapes_spark import submit as submit_mod

    with contextlib.redirect_stdout(io.StringIO()):
        return submit_mod.main(argv + ["--parallelism", str(nproc())])


# ------------------------------------------------------- drain base state

def source_key() -> str:
    """Identifies the program and the workload definition the cached drain
    base was derived with; a change to either rebuilds it."""
    paths = [os.path.join(HERE, "workloads.py")]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "tapes_spark")):
        paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build_drain_base(out_dir: str) -> None:
    """Ingest the fixed base corpus into a TapeTable in several groups and
    derive it with the incremental deriver's initial drain (which writes
    the checkpoint).  Runs in its own process so that every timed drain
    starts from a cold JVM, like every other run."""
    import workloads as wl
    from tapes_spark.tapelog import TapeTable

    spark = start_spark("perfbench-drain-base", trace=False)
    rows = wl.drain_base_rows()
    per = -(-len(rows) // wl.DRAIN_BASE_GROUPS)
    tape = TapeTable(spark, os.path.join(out_dir, "tape"))
    for g in range(wl.DRAIN_BASE_GROUPS):
        part = os.path.join(out_dir, f"ingest-{g}.parquet")
        wl.write_rows(part, rows[g * per:(g + 1) * per])
        tape.append(spark.read.parquet(part), {"op": "ingest", "batch": g},
                    partition_col="conv_id")
        os.remove(part)
    submit(["--input", os.path.join(out_dir, "tape"), "--input-tape",
            "--incremental", "--sinks", os.path.join(out_dir, "sinks"),
            "--run-id", "base"])
    stop_spark(spark)


def ensure_drain_base() -> tuple[str, float]:
    cache = os.path.join(WORK, "cache")
    base = os.path.join(cache, f"drain-base-{source_key()}")
    if os.path.isdir(base):
        return base, 0.0
    t0 = time.perf_counter()
    if os.path.isdir(cache):  # bases of other sources are stale
        for name in os.listdir(cache):
            shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
    tmp = base + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--build-drain-base", tmp],
        check=True, stdout=subprocess.DEVNULL, timeout=600,
    )
    os.rename(tmp, base)
    return base, time.perf_counter() - t0


# ----------------------------------------------------------------- main

def record(workload: str, seed: int, entry: dict) -> list[dict]:
    """Append this run's wall and digests to the checkout's run records;
    returns the earlier records of the same workload and sources."""
    path = os.path.join(WORK, "records", f"{workload}-{source_key()}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    earlier = []
    if os.path.exists(path):
        with open(path) as f:
            earlier = [json.loads(line) for line in f if line.strip()]
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, **entry}) + "\n")
    return earlier


def run(args) -> dict:
    import workloads

    t_start = time.perf_counter()
    base, base_build_s = (
        ensure_drain_base() if args.workload == "drain_incremental"
        else (None, 0.0)
    )
    # a run that builds the drain base first may take longer (the first
    # run in a checkout); every run has RUN_LIMIT_S for the rest
    deadline = T_START + base_build_s + RUN_LIMIT_S
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.chdir(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{args.workload}",
                            trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = (workloads.Drain(spark, run_dir, args.seed, base) if base
              else workloads.Bulk(spark, run_dir, args.seed))
        prep_s = []
        # setup_s is an end-to-end metric only: a traced run prepares once
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep_s) + load_s
        wall_s, rss_mb, op_steal_s, out, problems, tracer = timed_op(
            args, spark, wl)
        digests = {}
        if not problems:
            problems, digests = wl.check(out)
        earlier = record(args.workload, args.seed, {
            "trace": args.trace, "wall_s": wall_s, "digests": digests})
        same_seed = [p for p in earlier
                     if p["seed"] == args.seed and p["digests"]]
        if digests and any(p["digests"] != digests for p in same_seed):
            problems.append(
                "sink digests differ from an earlier run of the same seed")
        failed = int(bool(problems))
        info = {
            "workload": args.workload, "seed": args.seed, "nproc": nproc(),
            "input_turns": wl.expect["input_turns"], "op_turns": wl.turns,
            "samples": 1, "session_s": round(session_s, 3),
            "op_steal_s": round(op_steal_s, 2),
            "prepare_s": [round(x, 3) for x in prep_s],
            "load_s": round(load_s, 3),
            "digest_runs_compared": len(same_seed) if digests else 0,
            "drain_base_build_s": round(base_build_s, 3),
            "error_rate": float(failed), "problems": problems[:5],
            "digests": digests,
        }
        if tracer is None:
            committed = 0 if failed else sum(
                os.path.getsize(f) for f in wl.committed_files())
            metrics = {
                "wall_s": (wall_s, "s"),
                "turns_per_s": (wl.turns / wall_s, "turns/s"),
                "setup_s": (setup_s, "s"),
                "sink_mb": (committed / 1e6, "MB"),
            }
            info["peak_rss_mb"] = round(rss_mb, 1)
        else:
            import layers

            metrics, more, info["skipped"] = layers.measure(
                spark, tracer, wl, out, deadline)
            metrics["op.peak_rss_mb"] = (rss_mb, "MB")
            info["spans"] = layers.span_dump(tracer)
            untraced = [p["wall_s"] for p in earlier if p["trace"] == 0]
            if untraced:
                # traced minus untraced wall of the same workload and
                # sources, from the checkout's run records
                info["trace_overhead_s"] = round(
                    wall_s - statistics.median(untraced), 3)
            if more:
                problems += more
                failed = 1
                info["error_rate"] = 1.0
                info["problems"] = problems[:5]
        stop_spark(spark)
        spark = None
        if tracer is not None:
            layers.finish(tracer, metrics, os.path.join(run_dir, "eventlog"),
                          nproc())
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(WORK)
        shutil.rmtree(run_dir, ignore_errors=True)
    info["run_s"] = round(time.perf_counter() - t_start, 3)
    print("perfbench " + json.dumps(info, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"perfbench {name} = {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": 1,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in metrics.items()},
    }


def timed_op(args, spark, wl):
    """The one timed operation, with the process tree's peak RSS sampled
    while it runs.  Returns (wall_s, peak_rss_mb, host steal seconds,
    submit output, problems, tracer or None)."""
    tracer = None
    if args.trace:
        import layers

        tracer = layers.instrument_op(spark)
    out, problems = {}, []
    steal0 = steal_s()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = submit(wl.argv())
            else:
                with tracer.span("op"):
                    out = submit(wl.argv())
        except Exception as e:  # an operation that raised counts as failed
            traceback.print_exc()
            problems.append(f"operation raised {type(e).__name__}: {e}")
        wall_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.restore()
    return wall_s, rss.peak, steal_s() - steal0, out, problems, tracer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tapes_spark")):
        print(f"perfbench: no tapes_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    isolate_environment()
    sys.path.insert(0, ROOT)
    if args.build_drain_base:
        build_drain_base(args.build_drain_base)
        return 0
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
