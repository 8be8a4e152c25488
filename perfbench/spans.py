"""Spans around the benchmark's calls into the engine, for the traced run.

A span records its name, start, end and parent, and sets the Spark job
group to its own name while it is open, so every Spark job it launches is
tagged with the layer that launched it.  When tracing is off, ``span`` only
yields: no job group, no bookkeeping.

Per-span Spark figures come from two places:

* ``SparkContext.statusTracker()`` gives jobs, completed tasks and failed
  tasks per job group.  Jobs with no group are the session's own warmup
  jobs and are charged to ``session.start``.
* The run's own event log gives executor task time, shuffle bytes and the
  intervals in which each stage ran.  ``wait_s`` is the part of a span that
  no running stage of the span (or of its children) covers: driver-side
  planning, job barriers, collects and Python work on the driver.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# job metrics reported for every span that launches Spark jobs
JOB_FIELDS = ("jobs", "tasks", "task_s", "wait_s", "shuffle_mb", "failed_tasks")
SESSION_SPAN = "session.start"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans in memory; ``report`` turns them into metrics."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None  # set once the session exists
        self.counts: dict[str, dict[str, int]] = {}  # from status_counts

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(name, time.time(), parent))
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[sid].end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]].name
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------ report --

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[s].children)
        return out

    def self_seconds(self, sid: int) -> float:
        """Span duration minus the union of its children's intervals."""
        sp = self.spans[sid]
        ivs = sorted(
            (max(self.spans[c].start, sp.start), min(self.spans[c].end, sp.end))
            for c in sp.children
        )
        return (sp.end - sp.start) - _union_length(ivs)

    def status_counts(self) -> None:
        """jobs / tasks / failed_tasks per job group from the status tracker
        into ``counts``.  Call before the session stops."""
        st = self.sc.statusTracker()
        names = {s.name for s in self.spans}
        for name in names:
            group = None if name == SESSION_SPAN else name
            jobs = st.getJobIdsForGroup(group)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
            self.counts[name] = {"jobs": len(jobs), "tasks": tasks,
                                 "failed_tasks": failed}

    def report(self, event_log: str, job_spans: set[str]) -> dict[str, float]:
        """``<span>.s`` and ``<span>.self_s`` for every span name (summed
        over its instances), plus the job fields for names in ``job_spans``."""
        stages = _read_event_log(event_log)
        by_group: dict[str | None, list[dict]] = {}
        for st in stages.values():
            by_group.setdefault(st["group"], []).append(st)
        out: dict[str, float] = {}
        for sid, sp in enumerate(self.spans):
            n = sp.name
            out[f"{n}.s"] = out.get(f"{n}.s", 0.0) + (sp.end - sp.start)
            out[f"{n}.self_s"] = out.get(f"{n}.self_s", 0.0) + self.self_seconds(sid)
            if n not in job_spans:
                continue
            # stages of this span and of every span nested in it
            groups = {self.spans[s].name for s in self._subtree(sid)}
            ivs = []
            for g in groups:
                key = None if g == SESSION_SPAN else g
                for st in by_group.get(key, []):
                    a, b = max(st["start"], sp.start), min(st["end"], sp.end)
                    if b > a:
                        ivs.append((a, b))
            wait = (sp.end - sp.start) - _union_length(sorted(ivs))
            out[f"{n}.wait_s"] = out.get(f"{n}.wait_s", 0.0) + wait
        for n in job_spans:
            key = None if n == SESSION_SPAN else n
            mine = by_group.get(key, [])
            out[f"{n}.task_s"] = sum(st["task_s"] for st in mine)
            out[f"{n}.shuffle_mb"] = sum(st["shuffle_bytes"] for st in mine) / 1e6
            c = self.counts.get(n, {"jobs": 0, "tasks": 0, "failed_tasks": 0})
            out[f"{n}.jobs"] = c["jobs"]
            out[f"{n}.tasks"] = c["tasks"]
            out[f"{n}.failed_tasks"] = c["failed_tasks"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end,
                    "self_s": self.self_seconds(i),
                }) + "\n")


def _union_length(ivs: list[tuple[float, float]]) -> float:
    """Total length covered by sorted intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _read_event_log(path: str) -> dict[int, dict]:
    """Per stage attempt that ran: job group, run interval (epoch s),
    summed executor run time and shuffle bytes (written + read)."""
    if os.path.isdir(path):  # the directory holds this run's one log
        (name,) = os.listdir(path)
        path = os.path.join(path, name)
    stage_group: dict[int, str | None] = {}
    stages: dict[tuple[int, int], dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for s in ev["Stage IDs"]:
                    stage_group[s] = group
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, _new_stage())
                m = ev.get("Task Metrics") or {}
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                w = m.get("Shuffle Write Metrics") or {}
                r = m.get("Shuffle Read Metrics") or {}
                st["shuffle_bytes"] += (
                    w.get("Shuffle Bytes Written", 0)
                    + r.get("Remote Bytes Read", 0)
                    + r.get("Local Bytes Read", 0)
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = stages.setdefault(key, _new_stage())
                st["start"] = info.get("Submission Time", 0) / 1e3
                st["end"] = info.get("Completion Time", 0) / 1e3
    out = {}
    for (sid, att), st in stages.items():
        st["group"] = stage_group.get(sid)
        out[sid * 1000 + att] = st
    return out


def _new_stage() -> dict:
    return {"task_s": 0.0, "shuffle_bytes": 0, "start": 0.0, "end": 0.0}
