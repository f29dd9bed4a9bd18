"""Spans around calls into the program, and their per-layer attribution
from Spark's own event log.

A span is (id, name, slot, parent, start, end). In traced mode each span
tags the Spark jobs it submits with the job group ``pb-<id>``; after the
session stops, the event log is read back and every task's counters are
summed into the span whose group submitted its stage. Untraced runs keep
the same spans (a dict per call) but set no job group and write no log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "executor_cpu_s", "py_start_s", "py_run_s",
            "py_bytes_sent", "shuffle_write_bytes")
LAYER_METRICS = ("wall_s", "between_jobs_s") + COUNTERS
GROUP_PREFIX = "pb-"

# task-end accumulables (SQL metrics) -> (counter, scale to seconds/bytes)
_ACCUMULABLES = {
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_bytes_sent", 1),
}


class Tracer:
    """Keeps spans in memory; ``sc`` is the SparkContext to tag jobs on,
    or None to record timings only."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, slot: str | None = None, phase: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "slot": slot, "phase": phase,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])


def read_event_log(root: str) -> list[dict]:
    """Every event under ``root``: rolling (v2) directories
    ``eventlog_v2_*/events_<n>_*`` in part order, and plain log files."""
    paths = []
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if os.path.isdir(p) and entry.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            paths += [os.path.join(p, f) for f in parts]
        elif os.path.isfile(p) and not entry.startswith("."):
            paths.append(p)
    events = []
    for p in paths:
        with open(p) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def group_counters(events: list[dict]) -> dict[str, dict]:
    """Per job group: the (submit, end) seconds of each job, and the task
    counters summed over every stage the group submitted."""
    groups: dict[str, dict] = defaultdict(lambda: {"job_spans": [], "tasks": 0,
                                                   "executor_cpu_s": 0.0,
                                                   "shuffle_write_bytes": 0,
                                                   **{c: 0 for c, _ in _ACCUMULABLES.values()}})
    job_group, job_submit, stage_group = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        props = e.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            g = props.get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_submit[e["Job ID"]] = e["Submission Time"] / 1e3
            for s in e.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif kind == "SparkListenerStageSubmitted":
            g = props.get("spark.jobGroup.id")
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if g is not None:
                groups[g]["job_spans"].append(
                    (job_submit[e["Job ID"]], e["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            acc = groups[g]
            acc["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = _ACCUMULABLES.get(a.get("Name"))
                if hit is not None and a.get("Update") is not None:
                    acc[hit[0]] += int(a["Update"]) * hit[1]
    return dict(groups)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_records(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """One record per span: name, start, end, parent, self time (wall minus
    the part its child spans cover), time between its jobs (wall minus the
    part any job it or a descendant submitted covers) and the counters,
    inclusive of descendants."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    incl: dict[int, dict] = {}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children first
        g = groups.get(f"{GROUP_PREFIX}{s['id']}", {})
        acc = {"job_spans": list(g.get("job_spans", []))}
        for c in COUNTERS[1:]:
            acc[c] = g.get(c, 0)
        for ch in children[s["id"]]:
            for c, v in incl[ch].items():
                acc[c] = acc[c] + v
        incl[s["id"]] = acc
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        acc = incl[s["id"]]
        wall = s["end"] - s["start"]
        kids = [(by_id[c]["start"], by_id[c]["end"]) for c in children[s["id"]]]
        rec = {"id": s["id"], "name": s["name"], "slot": s.get("slot"), "phase": s.get("phase"),
               "parent": s["parent"], "start": s["start"], "end": s["end"],
               "wall_s": wall, "self_s": wall - covered(kids, s["start"], s["end"]),
               "between_jobs_s": wall - covered(acc["job_spans"], s["start"], s["end"]),
               "jobs": len(acc["job_spans"])}
        rec.update({c: v for c, v in acc.items() if c != "job_spans"})
        out.append(rec)
    return out


def median_by(records: list[dict], key: str) -> dict[str, dict]:
    """Per value of ``key`` (span name or slot): the call count and the
    per-call median of every layer metric."""
    buckets = defaultdict(list)
    for r in records:
        if r.get(key) is not None:
            buckets[r[key]].append(r)
    return {k: {"calls": len(rs),
                **{m: statistics.median(r[m] for r in rs) for m in LAYER_METRICS + ("self_s",)}}
            for k, rs in buckets.items()}
