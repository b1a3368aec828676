"""Tracing for the per-layer run: spans, job groups and the event log.

Spans are recorded in memory around the benchmark's own calls into each
engine module; the same call runs under its own Spark job group, so the
jobs, stages and tasks it caused can be read back from Spark's event log
once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; the jobs a span starts (outside any child span) run
    under the span's own job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].group if self._stack else ""
        s = Span(name, f"{name}#{next(self._ids)}", parent, time.time())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobGroup(parent, parent.split("#")[0])
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def groups_under(self, span: Span) -> set[str]:
        """The span's job group and those of its direct children."""
        return {span.group} | {s.group for s in self.spans if s.parent == span.group}


@dataclass
class Stage:
    id: int
    start: float
    end: float
    scopes: set[str]
    tasks: list[dict] = field(default_factory=list)


@dataclass
class Job:
    id: int
    group: str
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        """Parse the one uncompressed application log in ``log_dir``."""
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        jobs: dict[int, Job] = {}
        stages: dict[int, Stage] = {}
        tasks: dict[int, list[dict]] = defaultdict(list)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], group, e["Submission Time"] / 1e3,
                        stage_ids=[s["Stage ID"] for s in e["Stage Infos"]],
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = {
                        json.loads(r["Scope"])["name"].strip()
                        for r in si["RDD Info"]
                        if r.get("Scope")
                    }
                    stages[si["Stage ID"]] = Stage(
                        si["Stage ID"],
                        si["Submission Time"] / 1e3,
                        si["Completion Time"] / 1e3,
                        scopes,
                    )
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    m = e["Task Metrics"]
                    info = e["Task Info"]
                    tasks[e["Stage ID"]].append(
                        {
                            "ms": info["Finish Time"] - info["Launch Time"],
                            "run_ms": m["Executor Run Time"],
                            "cpu_ns": m["Executor CPU Time"],
                            "read": m["Input Metrics"]["Records Read"]
                            + m["Shuffle Read Metrics"]["Total Records Read"],
                            "written": m["Shuffle Write Metrics"]["Shuffle Records Written"]
                            + m["Output Metrics"]["Records Written"],
                            "shuffle_write_bytes": m["Shuffle Write Metrics"][
                                "Shuffle Bytes Written"
                            ],
                            "spill_bytes": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                            "output_bytes": m["Output Metrics"]["Bytes Written"],
                        }
                    )
        for sid, ts in tasks.items():
            if sid in stages:
                stages[sid].tasks = ts
        return cls(sorted(jobs.values(), key=lambda j: j.id), stages)

    def jobs_of(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran (skipped stages never complete) for ``jobs``."""
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]


def union_seconds(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tasks_of(stages: list[Stage]) -> list[dict]:
    return [t for s in stages for t in s.tasks]


def skew(stages: list[Stage]) -> float:
    """Max over median task time, per stage, worst stage."""
    out = 0.0
    for s in stages:
        ms = [t["ms"] for t in s.tasks]
        if ms and statistics.median(ms) > 0:
            out = max(out, max(ms) / statistics.median(ms))
    return out
