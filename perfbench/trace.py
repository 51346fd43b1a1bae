"""Spans around the benchmark's calls into the package, and the reducer
that turns Spark's own event log into per-span statistics.

A span is one call into a public function plus the action that
materializes its result.  While a span is open its name is the Spark
job group and job description, so every job it submits carries the
tag in the event log.  Jobs that a package thread pool submits do not
inherit the tag; those are attributed to the innermost span whose wall
interval contains the job's submission (the benchmark is a single
closed-loop client, so at most one span chain is open at a time).

Nothing here touches the package: tracing is Spark's built-in
``spark.eventLog.enabled`` plus job-group properties.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: stats reduced from the event log for every span
STATS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "rows_scanned", "driver_only_s", "self_s",
)

#: physical plan node whose output rows are what a reader decompressed:
#: every ZipNum block read (``_read_blocks``) is a DataFrame over a
#: Python RDD of lines
SCAN_NODE = "Scan ExistingRDD"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


@dataclass
class Ratio:
    """A count known only after the log is reduced: the summed ``stat``
    of every call of ``span``, over ``denominator``."""

    span: str
    stat: str
    denominator: float

    def value(self, stats: dict[str, dict]) -> float:
        return stats.get(self.span, {}).get(self.stat, 0.0) / self.denominator


class Tracer:
    """Records spans in memory.  ``enabled=False`` keeps the same call
    sites free of any Spark property traffic (the untraced runs)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].name
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application log in ``log_dir``; call
    after ``SparkContext.stop()`` so the writer has flushed."""
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    events = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _scan_row_metrics(events: list[dict]) -> set[int]:
    """Accumulator ids of the "number of output rows" metric of every
    ``SCAN_NODE`` in the SQL plans the log records (adaptive re-plans
    included)."""
    ids: set[int] = set()

    def walk(node: dict) -> None:
        if node.get("nodeName", "").startswith(SCAN_NODE):
            ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                       if m.get("name") == "number of output rows")
        for c in node.get("children", []):
            walk(c)

    for ev in events:
        if "sparkPlanInfo" in ev:
            walk(ev["sparkPlanInfo"])
    return ids


def reduce_spans(spans: list[Span], events: list[dict]) -> dict[str, dict]:
    """Per span name: summed stats over all its calls plus ``calls``.
    Times in seconds; ``driver_only_s`` is span wall minus the union of
    its jobs' intervals, ``self_s`` span wall minus its child spans;
    ``rows_scanned`` the rows its jobs' ``SCAN_NODE`` operators emitted."""
    scan_ids = _scan_row_metrics(events)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None, "stages": set(), "tasks": 0, "run": 0.0,
                "cpu": 0.0, "sw": 0, "sr": 0, "spill": 0, "scan": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            j = jobs[jid]
            j["stages"].add(ev["Stage ID"])
            j["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            j["run"] += m.get("Executor Run Time", 0) / 1000.0
            j["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            j["sw"] += sw.get("Shuffle Bytes Written", 0)
            j["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in scan_ids:
                    j["scan"] += int(acc.get("Update") or 0)

    # innermost span owning each job: the job group when tagged, else
    # the innermost span whose interval holds the submission time
    owner: dict[int, int] = {}
    for jid, j in jobs.items():
        best = None
        for i, s in enumerate(spans):
            if not (s.start - 0.001 <= j["start"] <= s.end + 0.001):
                continue
            if j["group"] is not None and s.name != j["group"]:
                continue
            if best is None or s.start >= spans[best].start:
                best = i
        if best is not None:
            owner[jid] = best

    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)

    def subtree(i: int) -> list[int]:
        out = [i]
        for c in children.get(i, []):
            out.extend(subtree(c))
        return out

    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        agg = out.setdefault(s.name, {k: 0.0 for k in STATS} | {"calls": 0, "wall_s": 0.0})
        agg["calls"] += 1
        wall = s.end - s.start
        agg["wall_s"] += wall
        # a span's job stats cover its whole subtree; its self time
        # excludes child spans
        own = [jid for jid, o in owner.items() if o in set(subtree(i))]
        intervals = []
        for jid in own:
            j = jobs[jid]
            agg["jobs"] += 1
            agg["stages"] += len(j["stages"])
            agg["tasks"] += j["tasks"]
            agg["executor_run_s"] += j["run"]
            agg["executor_cpu_s"] += j["cpu"]
            agg["shuffle_write_bytes"] += j["sw"]
            agg["shuffle_read_bytes"] += j["sr"]
            agg["spill_bytes"] += j["spill"]
            agg["rows_scanned"] += j["scan"]
            end = j["end"] if j["end"] is not None else s.end
            intervals.append((max(j["start"], s.start), min(end, s.end)))
        agg["driver_only_s"] += max(0.0, wall - _union_len(intervals))
        kids = [(spans[c].start, spans[c].end) for c in children.get(i, [])]
        agg["self_s"] += max(0.0, wall - _union_len(kids))
        for k, v in s.counts.items():
            agg[k] = agg.get(k, 0.0) + v
    return out


def self_check(spark, tracer: Tracer) -> None:
    """A span holding exactly one RDD ``count()`` must own exactly one
    job; the reducer's attribution is verified against this after the
    run.  (An RDD action, because adaptive execution submits each
    query stage of a DataFrame action as a job of its own.)"""
    with tracer.span("trace.selfcheck"):
        spark.sparkContext.parallelize(range(1000), 2).count()
