"""Spans around the benchmark's calls into each layer, and per-layer
counters read back from Spark's event log.

A span records (id, name, parent, start, end) in memory and names the
Spark jobs started inside it through the job description, so the event
log's task metrics can be summed per span name after the run.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self.spans[parent]["name"] if parent is not None else None)

    def _describe(self, name: str | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(name)

    def ms(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name) * 1e3

    def self_ms(self, span_id: int) -> float:
        """Span duration minus the part of it that its children cover."""
        s = self.spans[span_id]
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == span_id)
        covered, cur_end = 0.0, s["start"]
        for a, b in kids:
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        return (s["end"] - s["start"] - covered) * 1e3

    def records(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                 "start_ms": (s["start"] - t0) * 1e3, "end_ms": (s["end"] - t0) * 1e3,
                 "self_ms": self.self_ms(s["id"])} for s in self.spans]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SUMS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "shuffle_fetch_wait_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "time to run Python workers": "python_ms",
}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], node.get("nodeName", ""))
    for c in node.get("children", ()):
        _plan_metrics(c, out)


def parse_event_log(lines) -> dict:
    """Per job description, sums of task metrics, plus the task times of
    every stage. ``lines``: the event log's JSON lines.

    → {"layers": {description: {cpu_ns, gc_ms, shuffle_write_bytes,
    shuffle_fetch_wait_ms, spill_bytes, python_bytes, python_ms,
    broadcast_bytes, tasks, task_retries}}, "stage_task_ms": {stage: [ms]},
    "stage_desc": {stage: description}}
    """
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    acc_name: dict[int, tuple[str, str]] = {}
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    stage_ms: dict[int, list[float]] = defaultdict(list)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            for s in e["Stage IDs"]:
                stage_desc[s] = desc
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_desc[e["executionId"]] = e.get("description") or ""
            _plan_metrics(e["sparkPlanInfo"], acc_name)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], acc_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            desc = exec_desc.get(e["executionId"], "")
            for acc, value in e["accumUpdates"]:
                name, node = acc_name.get(acc, ("", ""))
                if name == "data size" and "BroadcastExchange" in node:
                    layers[desc]["broadcast_bytes"] += int(value)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            layer = layers[stage_desc.get(e["Stage ID"], "")]
            layer["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed"):
                layer["task_retries"] += 1
            stage_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", ()):
                key = _SUMS.get(a.get("Name"))
                if key is not None:
                    layer[key] += int(a.get("Update", 0) or 0)
    return {"layers": {k: dict(v) for k, v in layers.items()},
            "stage_task_ms": dict(stage_ms), "stage_desc": stage_desc}


def task_skew(parsed: dict) -> float:
    """max / median task time in the stage with the most total task time,
    among the stages of jobs that ran inside a span (have a description)."""
    stages = [ms for s, ms in parsed["stage_task_ms"].items() if parsed["stage_desc"].get(s)]
    if not stages:
        return 0.0
    ms = max(stages, key=sum)
    med = statistics.median(ms)
    return max(ms) / med if med > 0 else float(max(ms) > 0)


def layer_sum(layers: dict, key: str, prefix: str = "") -> int:
    """``key`` summed over the ``parse_event_log(...)["layers"]`` entries
    whose job description starts with ``prefix``."""
    return sum(v.get(key, 0) for d, v in layers.items() if d.startswith(prefix))
