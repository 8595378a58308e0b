"""The out-of-program tracer: spans recorded around calls into the
program's layers, plus a per-span rollup of Spark's task metrics read
back from the event log.

Each span's id is set as the Spark job group while the span is open, so
every job the layer call triggers carries it. After the session stops,
``rollup`` reads the (uncompressed, non-rolling) event log, maps
job -> job group and stage -> job, and sums ``SparkListenerTaskEnd``
metrics per span. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"{self.trace_id}/{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": self.trace_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its duration minus the part its children cover
    (children of one span run one after another, never overlapping)."""
    child_s: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in spans}


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0}


def read_event_log(log_dir: str) -> tuple[dict[str, dict], list[tuple[float, float]]]:
    """Task metrics summed per job group, and the (start, end) wall
    interval of every job, from the single event-log file in ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    groups: dict[str, dict] = {}
    group_stages: dict[str, set[int]] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    mb = 1 / 2**20
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                groups.setdefault(g, _empty())["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                start = job_start.pop(ev["Job ID"], None)
                if start is not None:
                    intervals.append((start, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                g = stage_group.get(ev["Stage ID"], "-")
                r = groups.setdefault(g, _empty())
                r["tasks"] += 1
                group_stages.setdefault(g, set()).add(ev["Stage ID"])
                r["run_s"] += m["Executor Run Time"] / 1000
                r["cpu_s"] += m["Executor CPU Time"] / 1e9
                r["gc_s"] += m["JVM GC Time"] / 1000
                sr = m["Shuffle Read Metrics"]
                r["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) * mb
                r["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] * mb
                r["spill_mb"] += m["Disk Bytes Spilled"] * mb
    for g, stages in group_stages.items():
        groups[g]["stages"] = len(stages)
    return groups, intervals


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def rollup(spans: list[dict], log_dir: str) -> tuple[dict[str, dict], dict]:
    """Per-span rows ``{s, self_s, jobs, stages, tasks, run_s, cpu_s,
    gc_s, shuffle_read_mb, shuffle_write_mb, spill_mb}`` keyed by span
    name, and their totals over the traced pass (the root span),
    including ``driver_s``: the part of the pass during which no Spark
    job ran."""
    groups, intervals = read_event_log(log_dir)
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        row = dict(groups.get(s["id"]) or _empty())
        row["s"] = s["end"] - s["start"]
        row["self_s"] = selfs[s["id"]]
        rows[s["name"]] = row
    root = next(s for s in spans if s["parent"] is None)
    totals = {k: sum(r[k] for r in rows.values())
              for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                        "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
    totals["driver_s"] = root["end"] - root["start"] - covered(
        intervals, root["start"], root["end"])
    return rows, totals


def part(spans: list[dict], names: tuple[str, ...]) -> tuple[float, float]:
    """(wall, layer self time) of the spans named ``names``: the sum of
    their durations, and the self time of every span below them."""
    selfs = self_times(spans)
    ids = {s["id"] for s in spans if s["name"] in names}
    wall = sum(s["end"] - s["start"] for s in spans if s["id"] in ids)
    parent = {s["id"]: s["parent"] for s in spans}

    def below(sid):
        p = parent[sid]
        while p is not None:
            if p in ids:
                return True
            p = parent[p]
        return False

    return wall, sum(selfs[s["id"]] for s in spans if below(s["id"]))
