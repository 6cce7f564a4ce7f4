"""Spans recorded around the benchmark's calls into each layer, Spark's
event log parsed into per-job and per-stage task metrics, and the join
of the two into per-layer counters.

A layer span sets the Spark job group to its span id, so every job the
call launches, including jobs from ``InheritableThread`` workers such as
``run_concurrently``, carries the label in the event log. Spans live in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = ("session", "sources", "operators", "pipelines", "sinks", "streaming", "execute")
COUNTERS = (
    "calls", "self_s", "jobs", "stages", "tasks", "task_s", "gc_s",
    "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "peak_task_mem_bytes",
)
SPAN_PREFIX = "perfbench-"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so
    untraced phases run the same code without labels or bookkeeping."""

    def __init__(self) -> None:
        self.enabled = False
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str | None, op: str | None = None):
        """``layer=None`` marks an operation's root span: it groups the
        layer spans below it and labels no jobs."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{SPAN_PREFIX}{len(self.spans)}",
            "name": name,
            "layer": layer,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if layer is not None and self.sc is not None:
            self.sc.setJobGroup(rec["id"], f"{layer}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(self._stack)

    def _label(self, stack: list[dict]) -> None:
        if self.sc is None:
            return
        labelled = [s for s in stack if s["layer"] is not None]
        if labelled:
            top = labelled[-1]
            self.sc.setJobGroup(top["id"], f"{top['layer']}:{top['name']}")
        else:
            self.sc._jsc.clearJobGroup()

    def dump(self, path: str | Path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it that child spans cover;
    overlapping children count once."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                kids[p["id"]].append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids[s["id"]])
        for s in spans
    }


def _stage_row() -> dict:
    return {
        "group": None, "tasks": 0, "task_ms": 0, "gc_ms": 0,
        "shuffle_write": 0, "fetch_wait_ms": 0, "spill": 0, "peak_mem": 0,
    }


def event_log_files(path: str | Path) -> list[Path]:
    """The files of one event log: the file itself, or the numbered
    ``events_<n>_<app>`` parts of a rolling log directory, in order."""
    path = Path(path)
    if path.is_file():
        return [path]
    parts = [p for p in path.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def parse_event_log(path: str | Path) -> tuple[dict, dict]:
    """Jobs and stage attempts from a Spark event log (a file or a
    rolling log directory).

    Returns ``(jobs, stages)``: ``jobs[job_id] = {group, submit_ms}``;
    ``stages[(stage_id, attempt)]`` holds the job group that submitted
    it and its summed task metrics. Stages a job lists but never
    submits (skipped, or dropped when AQE re-plans) have no
    StageSubmitted event and are not counted; a cancelled or retried
    stage attempt counts with the tasks it ran."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_job_group: dict[int, str | None] = {}
    for line in _lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group, "submit_ms": ev.get("Submission Time")}
            for sid in ev.get("Stage IDs", []):
                stage_job_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            row = stages.setdefault(key, _stage_row())
            props = ev.get("Properties") or {}
            row["group"] = props.get(
                "spark.jobGroup.id", stage_job_group.get(key[0])
            )
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            row = stages.setdefault(key, _stage_row())
            if row["group"] is None:
                row["group"] = stage_job_group.get(key[0])
            row["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["task_ms"] += m.get("Executor Run Time", 0)
            row["gc_ms"] += m.get("JVM GC Time", 0)
            row["spill"] += m.get("Disk Bytes Spilled", 0)
            row["peak_mem"] = max(row["peak_mem"], m.get("Peak Execution Memory", 0))
            row["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            row["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0
            )
    return jobs, stages


def _lines(path: str | Path):
    for part in event_log_files(path):
        with open(part) as f:
            yield from f


def layer_metrics(
    spans: list[dict],
    jobs: dict,
    stages: dict,
    windows: list[tuple[float, float]],
    cores: int,
) -> dict[str, float]:
    """Per-layer counters: span counts and self time from the spans,
    Spark work from the jobs and stages labelled with each span's id.
    Jobs submitted inside a traced ``window`` without a span label are
    counted in ``unattributed.jobs``."""
    layer_of = {s["id"]: s["layer"] for s in spans if s["layer"] is not None}
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        for c in COUNTERS:
            out[f"{layer}.{c}"] = 0
    for s in spans:
        if s["layer"] is not None:
            out[f"{s['layer']}.calls"] += 1
            out[f"{s['layer']}.self_s"] += selfs[s["id"]]
    unattributed = 0
    for job in jobs.values():
        layer = layer_of.get(job["group"])
        if layer is not None:
            out[f"{layer}.jobs"] += 1
        elif any(lo * 1000 <= (job["submit_ms"] or 0) <= hi * 1000 for lo, hi in windows):
            unattributed += 1
    for row in stages.values():
        layer = layer_of.get(row["group"])
        if layer is None:
            continue
        out[f"{layer}.stages"] += 1
        out[f"{layer}.tasks"] += row["tasks"]
        out[f"{layer}.task_s"] += row["task_ms"] / 1000
        out[f"{layer}.gc_s"] += row["gc_ms"] / 1000
        out[f"{layer}.shuffle_write_bytes"] += row["shuffle_write"]
        out[f"{layer}.shuffle_fetch_wait_s"] += row["fetch_wait_ms"] / 1000
        out[f"{layer}.spill_bytes"] += row["spill"]
        key = f"{layer}.peak_task_mem_bytes"
        out[key] = max(out[key], row["peak_mem"])
    execute_wall = sum(
        s["end"] - s["start"] for s in spans if s["layer"] == "execute"
    )
    out["execute.sched_gap_s"] = execute_wall - out["execute.task_s"] / cores
    out["unattributed.jobs"] = unattributed
    return out
