"""Spans around the benchmark's calls into the program, with Spark's
task metrics attributed to each span.

A span records its name, its parent, and its start and end on the wall
clock. While a span is open, every Spark job the calling thread starts
carries the span's id as its job group (``spark.jobGroup.id``). After
the session stops, :func:`attribute` reads the event log (written
uncompressed and unrolled) and charges each finished task to the span
whose group its stage ran under, and each job's interval to that span.

Spans live in memory and are written out once, when the run ends.
Nothing here touches the program: the spans wrap the benchmark's own
calls, and the store span comes from a subclass the benchmark passes in.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPAN_METRICS = (
    "wall_s", "self_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "input_mb", "shuffle_write_mb", "output_mb", "driver_s",
)
GROUP_PREFIX = "perfbench-span-"
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start_ms: float
    end_ms: float = 0.0
    # filled by attribute(): this span's own jobs and tasks
    job_intervals: list = field(default_factory=list)
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    output_mb: float = 0.0


class Tracer:
    """Collects spans; a disabled tracer's ``span`` does nothing."""

    def __init__(self, spark_context=None, enabled: bool = False) -> None:
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"{GROUP_PREFIX}{span.id}"
        )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name,
                  time.time() * 1000.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([
                {"id": s.id, "parent": s.parent, "name": s.name,
                 "start_ms": s.start_ms, "end_ms": s.end_ms,
                 "jobs": len(s.job_intervals), "tasks": s.tasks,
                 "exec_run_s": s.exec_run_s, "exec_cpu_s": s.exec_cpu_s,
                 "gc_s": s.gc_s, "input_mb": s.input_mb,
                 "shuffle_write_mb": s.shuffle_write_mb,
                 "output_mb": s.output_mb}
                for s in self.spans
            ], f)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an event log the attribution can read.

    The default log is zstd-compressed and rolled, and the codec's
    Python package is not a dependency of this project.
    """
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def attribute(tracer: Tracer, log_dir: str) -> int:
    """Charge the event log's jobs and tasks to the spans. Call after
    the session has stopped. Returns the number of jobs outside any span."""
    by_id = {s.id: s for s in tracer.spans}
    stage_span: dict[int, Span] = {}
    job_span: dict[int, Span] = {}
    job_start: dict[int, float] = {}
    unattributed = 0

    def span_of(props: dict | None) -> Span | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            return by_id.get(int(group[len(GROUP_PREFIX):]))
        return None

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sp = span_of(ev.get("Properties"))
                    if sp is None:
                        unattributed += 1
                        continue
                    job_span[ev["Job ID"]] = sp
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    sp = job_span.get(ev["Job ID"])
                    if sp is not None:
                        sp.job_intervals.append(
                            (job_start[ev["Job ID"]], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    sp = span_of(ev.get("Properties"))
                    if sp is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sp
                elif kind == "SparkListenerTaskEnd":
                    sp = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sp is None or not m:
                        continue
                    sp.tasks += 1
                    sp.exec_run_s += m.get("Executor Run Time", 0) / 1e3
                    sp.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    sp.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sp.input_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
                    sp.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) / MB
                    sp.output_mb += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0) / MB
    return unattributed


def _covered_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(tracer: Tracer, names: list[str]) -> dict[str, float]:
    """``<name>.<metric>`` for each name: the mean over that span's
    calls, each call counted with everything its child spans did.

    ``self_s`` is the call's wall time minus its children's;
    ``driver_s`` is the wall time no Spark job of the call was running.
    """
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.id, []):
            out += subtree(c)
        return out

    out: dict[str, float] = {}
    for name in names:
        calls = [s for s in tracer.spans if s.name == name]
        acc = dict.fromkeys(SPAN_METRICS, 0.0)
        for s in calls:
            tree = subtree(s)
            wall = (s.end_ms - s.start_ms) / 1e3
            acc["wall_s"] += wall
            acc["self_s"] += wall - sum(
                (c.end_ms - c.start_ms) / 1e3 for c in children.get(s.id, []))
            intervals = [iv for t in tree for iv in t.job_intervals]
            acc["jobs"] += len(intervals)
            acc["driver_s"] += wall - _covered_ms(intervals, s.start_ms, s.end_ms) / 1e3
            for t in tree:
                acc["tasks"] += t.tasks
                for k in ("exec_run_s", "exec_cpu_s", "gc_s", "input_mb",
                          "shuffle_write_mb", "output_mb"):
                    acc[k] += getattr(t, k)
        n = max(1, len(calls))
        for k, v in acc.items():
            out[f"{name}.{k}"] = v / n
    return out
