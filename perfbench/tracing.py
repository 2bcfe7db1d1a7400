"""The traced run: spans around the program's public functions, one Spark
job group per span, and Spark's own task metrics read back from the event
log at the end.

Spans are recorded from outside the program: :class:`Tracer` wraps the
public functions an operation calls (``run_pipeline``, ``SinkWriter
.write_all``, ``TapeTable.overwrite`` ...) for the duration of one traced
operation, and sets the span's id as the job group of the benchmark thread
so every Spark job the call launches is attributed to it.  Spans stay in
memory; the event log is parsed once, after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import py4j.java_gateway

MB = 1e6


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.py4j_calls = 0
        self._counting = False
        self.pruned: list[tuple[int, int]] = []  # (kept, total) input files
        # (run_pipeline result, [(frame, storage level when returned)])
        self.results: list[tuple] = []

    # ------------------------------------------------------------ py4j
    def count_py4j(self) -> None:
        """Count every py4j round trip the driver makes (the planning cost
        of building a DataFrame plan is dominated by them)."""
        orig = py4j.java_gateway.GatewayClient.send_command
        tracer = self

        def send_command(client, *a, **k):
            if tracer._counting:
                tracer.py4j_calls += 1
            return orig(client, *a, **k)

        self._patch(py4j.java_gateway.GatewayClient, "send_command", send_command)
        self._counting = True

    # ----------------------------------------------------------- spans
    def _set_group(self, group: str | None) -> None:
        counting, self._counting = self._counting, False
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        self._counting = counting

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb-span-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        rec["py4j0"] = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j0")
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        *name* is the span name, or a function of the call's arguments
        returning it (None: call untraced)."""
        fn = owner.__dict__[attr]
        tracer = self

        def wrapped(*a, **k):
            label = name(*a, **k) if callable(name) else name
            if label is None:
                return fn(*a, **k)
            with tracer.span(label):
                return fn(*a, **k)

        self._patch(owner, attr, wrapped)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self._counting = False

    # ---------------------------------------------------------- queries
    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(tracer: Tracer, span: dict) -> float:
    return wall(span) - sum(wall(c) for c in tracer.children(span))


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, task CPU/GC/run time,
    shuffle write, spill, every task's duration and every job's
    (submitted, completed) time."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "local-*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = _group(groups, group)
                    g["jobs"] += 1
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_start:
                        group, t0 = job_start.pop(ev["Job ID"])
                        groups[group]["job_spans"].append(
                            (t0 / 1e3, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = _group(groups, group)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["stages"].add(ev["Stage ID"])
                    g["tasks"] += 1
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0) / MB
                    )
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                    g["durations"].append((
                        ev["Stage ID"],
                        (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    ))
    return groups


def _group(groups: dict, gid: str) -> dict:
    if gid not in groups:
        groups[gid] = {
            "jobs": 0, "stages": set(), "tasks": 0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "run_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "durations": [], "job_spans": [],
        }
    return groups[gid]


def rollup(tracer: Tracer, span: dict, groups: dict, cores: int) -> dict:
    """Task metrics of *span* and every span under it; ``job_s`` is the
    time during which at least one of their Spark jobs was running."""
    tot = _group({}, "x")
    for s in tracer.descendants(span):
        g = groups.get(s["id"])
        if g is None:
            continue
        for k in ("jobs", "tasks", "task_cpu_s", "gc_s", "run_s",
                  "shuffle_write_mb", "spill_mb"):
            tot[k] += g[k]
        tot["stages"] |= g["stages"]
        tot["durations"] += g["durations"]
        tot["job_spans"] += g["job_spans"]
    d = tot.pop("durations")
    tot["job_s"] = _covered(tot.pop("job_spans"))
    tot["stages"] = len(tot["stages"])
    tot["slot_util"] = tot["run_s"] / (wall(span) * cores)
    tot["task_skew"] = _skew([t for _, t in d])
    last = max((sid for sid, _ in d), default=None)
    tot["last_stage_skew"] = _skew([t for sid, t in d if sid == last])
    return tot


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Seconds during which at least one of the (start, end) intervals
    was open."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _skew(durations: list[float]) -> float:
    """Longest task time over the median task time."""
    if not durations:
        return 1.0
    return max(durations) / max(statistics.median(durations), 1e-3)
