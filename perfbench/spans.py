"""Spans around layer calls, tagged with Spark job groups, and the
stage metrics of each span read back from Spark's event log.

A span records (name, start, end, parent, run id). While a span is
open, every Spark job the calling thread submits carries the span's
job group, so the event log's task metrics can be attributed to the
innermost open span. Spans stay in memory; ``summarize`` turns them
into per-layer totals (wall time, self time, jobs and task metrics).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder. Disabled, ``span`` is a plain pass-through."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"{GROUP_PREFIX}{self._stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)


def _num(d: dict, *path) -> float:
    for p in path:
        d = d.get(p) if isinstance(d, dict) else None
        if d is None:
            return 0
    return d or 0


def read_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Per-span task metrics from one application's event log:
    {span id: {jobs, stages, tasks, run_s, gc_s, input_bytes,
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes,
    output_bytes, task_skew}}."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        return {}
    stage_span: dict[int, int] = {}
    jobs: dict[int, int] = defaultdict(int)
    stages: dict[int, set] = defaultdict(set)
    acc: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    durations: dict[tuple, list] = defaultdict(list)
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                sid = int(group[len(GROUP_PREFIX):])
                jobs[sid] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                a = acc[sid]
                a["tasks"] += 1
                a["run_s"] += _num(m, "Executor Run Time") / 1000
                a["gc_s"] += _num(m, "JVM GC Time") / 1000
                a["input_bytes"] += _num(m, "Input Metrics", "Bytes Read")
                a["output_bytes"] += _num(m, "Output Metrics", "Bytes Written")
                a["shuffle_write_bytes"] += _num(m, "Shuffle Write Metrics", "Shuffle Bytes Written")
                a["shuffle_read_bytes"] += _num(
                    m, "Shuffle Read Metrics", "Remote Bytes Read"
                ) + _num(m, "Shuffle Read Metrics", "Local Bytes Read")
                a["spill_bytes"] += _num(m, "Memory Bytes Spilled") + _num(m, "Disk Bytes Spilled")
                stages[sid].add(ev.get("Stage ID"))
                durations[(sid, ev.get("Stage ID"))].append(
                    max(0, _num(info, "Finish Time") - _num(info, "Launch Time"))
                )
    out: dict[int, dict] = {}
    for sid in set(jobs) | set(acc):
        rec = {k: acc[sid].get(k, 0.0) for k in (
            "tasks", "run_s", "gc_s", "input_bytes", "output_bytes",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")}
        rec["jobs"] = jobs.get(sid, 0)
        rec["stages"] = len(stages.get(sid, ()))
        skews = [
            max(d) / max(statistics.median(d), 1)
            for (s, _), d in durations.items() if s == sid and len(d) > 1
        ]
        rec["task_skew"] = max(skews, default=1.0)
        out[sid] = rec
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def summarize(spans: list[dict], metrics: dict[int, dict]) -> dict[str, dict]:
    """Totals per span name: calls, wall_s, self_s, and the event-log
    metrics of the span's own jobs."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        o = out[s["name"]]
        o["calls"] += 1
        o["wall_s"] += s["end"] - s["start"]
        o["self_s"] += selfs[s["id"]]
        for k, v in metrics.get(s["id"], {}).items():
            if k == "task_skew":
                o[k] = max(o.get(k, 1.0), v)
            else:
                o[k] += v
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)):
                o[k] += v
    return {k: dict(v) for k, v in out.items()}
