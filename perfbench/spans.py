"""Spans recorded around each call into the package, plus Spark's event log.

A traced execution opens one span per layer call (name, start, end,
parent, run id, execution id) and tags the Spark jobs it submits with
``setJobGroup(span id)``. Spans stay in memory; :func:`attribute` joins
them with the parsed event log afterwards, so each span gets the jobs,
stages, tasks and executor counters that ran on its behalf.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: Executor counters summed per span, by the name the metrics use.
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "driver_gap_s",
)
_TASK_COUNTERS = SPARK_COUNTERS[2:-1]


class Tracer:
    """Span recorder. Disabled, ``span`` only yields: no clock reads, no
    Spark calls, so untraced executions run the same code path bare."""

    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.exec_id = ""
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "span_id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": parent["span_id"] if parent else None,
            "run_id": self.run_id,
            "exec_id": self.exec_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["span_id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["span_id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: group id, interval and task counters."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith("appstatus")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "ran_stages": set(),
                        **{k: 0 for k in _TASK_COUNTERS},
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is not None:
                        _add_task(job, ev)
    return [j for j in jobs.values() if j["end"] is not None]


def _add_task(job: dict, ev: dict) -> None:
    job["ran_stages"].add(ev.get("Stage ID"))
    job["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        job["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Fill each span's ``spark`` counters and ``self_s`` in place.

    A job belongs to the span whose id it carries as job group; a job with
    no group (submitted from a thread the group does not reach) goes to
    the innermost span whose interval holds its submission. Counters are
    self counters: a parent's exclude its children's jobs. ``driver_gap_s``
    is the span's wall time not covered by any job of it or its children.
    """
    by_id = {s["span_id"]: s for s in spans}
    own: dict[str, list[dict]] = {s["span_id"]: [] for s in spans}
    for job in jobs:
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            holding = [
                s for s in spans if s["start"] <= job["start"] <= s["end"]
            ]
            if holding:
                sid = max(holding, key=lambda s: s["start"])["span_id"]
        if sid is not None:
            own[sid].append(job)
    children: dict[str, list[dict]] = {s["span_id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append(s)

    def subtree_jobs(s: dict) -> list[dict]:
        out = list(own[s["span_id"]])
        for c in children[s["span_id"]]:
            out.extend(subtree_jobs(c))
        return out

    for s in spans:
        mine = own[s["span_id"]]
        counters = {
            "jobs": len(mine),
            # stages that ran tasks; a reused shuffle's stage is skipped
            "stages": sum(len(j["ran_stages"]) for j in mine),
            **{k: sum(j[k] for j in mine) for k in _TASK_COUNTERS},
        }
        wall = s["end"] - s["start"]
        covered = _union_s(
            [
                (max(j["start"], s["start"]), min(j["end"], s["end"]))
                for j in subtree_jobs(s)
                if j["end"] > s["start"] and j["start"] < s["end"]
            ]
        )
        counters["driver_gap_s"] = max(0.0, wall - covered)
        s["spark"] = counters
        s["self_s"] = wall - _union_s(
            [(c["start"], c["end"]) for c in children[s["span_id"]]]
        )
