"""Spans recorded around the harness's calls into each layer, and the
Spark event-log parser that attributes jobs to them.

A span is ``{id, parent, name, layer, phase, t0, t1, ...}`` with wall
clock seconds (``time.time``, the clock Spark's event log stamps in
milliseconds). In a traced run every span also sets the Spark job
group to ``pb<id>`` while it is the innermost open span, so each job a
layer call spawns (eager checkpoints and persists included) carries
the id of the call that caused it; the package sets no job group of
its own. Jobs without a known group (streaming micro-batches run under
their query's group) fall back to the innermost span open at their
submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"
# event-log stamps are whole milliseconds; allow one tick each side
CLOCK_SLACK_S = 0.002


class Recorder:
    """In-memory span list; written out when the run ends."""

    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    def _label_jobs(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            top = self.spans[self._stack[-1]]
            self._sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._label_jobs()
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._label_jobs()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def _task_counters(metrics: dict) -> dict[str, int]:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    return {
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def parse_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log: id, group, submit/end
    (seconds), and stage/task/byte counters summed over their stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    "tasks": 0,
                    "failed_tasks": 0,
                    "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "input_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job["failed_tasks"] += 1
                for k, v in _task_counters(ev.get("Task Metrics") or {}).items():
                    job[k] += v
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id → the jobs it directly caused (not its children's)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[dict]] = {}
    for job in jobs:
        sid = None
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            sid = int(g[len(GROUP_PREFIX):])
            if sid not in by_id:
                sid = None
        if sid is None:
            # innermost span open at submission: the one with the latest
            # start among those containing the instant
            best = None
            for s in spans:
                if s["t0"] - CLOCK_SLACK_S <= job["submit"] <= s["t1"] + CLOCK_SLACK_S:
                    if best is None or s["t0"] >= best["t0"]:
                        best = s
            sid = best["id"] if best else None
        if sid is not None:
            out.setdefault(sid, []).append(job)
    return out


def subtree_jobs(spans: list[dict], direct: dict[int, list[dict]]) -> dict[int, list[dict]]:
    """span id → jobs caused by the span or any descendant."""
    out = {s["id"]: list(direct.get(s["id"], [])) for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children after parents
        if s["parent"] is not None:
            out[s["parent"]].extend(out[s["id"]])
    return out


def spark_counters(jobs: list[dict], wall_s: float) -> dict[str, float]:
    """The ``spark.*`` counters of one span: job-interval union (not the
    sum — jobs overlap), the driver gap it leaves, and byte counters."""
    union = union_length([(j["submit"], j["end"]) for j in jobs])
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "job_union_s": union,
        "driver_gap_s": wall_s - union,
        "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
    }


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s, sort_keys=True) + "\n")
