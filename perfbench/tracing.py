"""Spans, pass-through timing wrappers and Spark-side telemetry for the
traced run.

Spans are kept in memory (name, start, end, parent, op id) and written
out when the run ends; ``self_ms`` per layer is a span's duration minus
the part its child spans cover. The wrappers only time the call: they
pass arguments and results through unchanged. The time the tracing code
itself spends on the traced thread (span bookkeeping, Spark job-group
calls, the wrappers' file walks) is counted as ``instrument_ms``.

Spark-side numbers come from two places: the event log (turned on only
in the traced run, through ``get_spark(**extra_conf)``) for task CPU,
GC, scheduling wait, shuffle and spill; and ``StreamingQueryProgress``
for micro-batch phase durations.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads with no open span (the
        # streaming query's foreachBatch callbacks run on their own thread)
        self.root: dict | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        op = op if op is not None else (parent["op"] if parent else None)
        rec = {"name": name, "op": op, "parent": parent["id"] if parent else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"{name}#{rec['id']}", name, interruptOnCancel=False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.count("instrument_ms", (rec["start"] - t0 + time.perf_counter() - rec["end"]) * 1e3)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a timing pass-through; returns an
        undo function."""
        original = getattr(module, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, timed)
        return lambda: setattr(module, attr, original)

    # -- summaries ------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name and "end" in s]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of its
        children's intervals."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"] - covered) * 1e3
        return dict(out)

    def job_groups(self) -> dict[str, str]:
        """Spark job-group id -> span name, for event-log attribution."""
        return {f"{s['name']}#{s['id']}": s["name"] for s in self.spans}

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, start=s["start"] - t0, end=s.get("end", s["start"]) - t0)
                f.write(json.dumps(rec) + "\n")


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_task_metrics(log_dir: str, groups: dict[str, str]) -> dict[str, float]:
    """Sum task metrics of the jobs run inside traced spans (by job
    group): CPU, GC, the wait between stage submission and task launch,
    shuffle bytes written and bytes spilled; plus Spark jobs and input
    records read per span name."""
    totals = defaultdict(float)
    jobs_by_span: dict[str, float] = defaultdict(float)
    stage_submit: dict[tuple[int, int], int] = {}
    stage_group: dict[int, str] = {}
    records_by_span: dict[str, float] = defaultdict(float)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        jobs_by_span[groups[group]] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = groups[group]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                        "Submission Time", 0
                    )
                elif kind == "SparkListenerTaskEnd":
                    span = stage_group.get(ev["Stage ID"])
                    if span is None:
                        continue  # set-up or checks, outside every span
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    totals["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    sub = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if sub:
                        totals["task_wait_ms"] += max(0, info["Launch Time"] - sub)
                    totals["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    records_by_span[span] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    out = {f"spark.{k}": v for k, v in totals.items()}
    out.update({f"records.{k}": v for k, v in records_by_span.items()})
    out.update({f"jobs.{k}": v for k, v in jobs_by_span.items()})
    return out


def progress_phases(progress: list[dict]) -> dict[str, list[float]]:
    """Per-batch phase durations (ms) from StreamingQueryProgress JSON."""
    out: dict[str, list[float]] = defaultdict(list)
    for p in progress:
        d = p.get("durationMs", {})
        if not d.get("addBatch") and not p.get("numInputRows"):
            continue  # an empty trigger: nothing was committed
        out["trigger"].append(d.get("triggerExecution", 0))
        out["overhead"].append(
            sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit"))
        )
    return dict(out)
