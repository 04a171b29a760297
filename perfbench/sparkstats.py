"""Spark's own job/stage/task accounting, attributed by job group.

Reads the driver's status REST API (``/api/v1/applications/<app>/...``).
Task time comes from each stage's ``executorRunTime`` and
``executorCpuTime``: summed task time, so N parallel one-second tasks
report N seconds. The executors endpoint's ``totalDuration`` is not used;
it tracks wall time, not task time.
"""

from __future__ import annotations

import json
import statistics
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

_MB = 1024 * 1024


def _epoch_s(stamp: str | None) -> float | None:
    """Spark REST time stamps look like ``2026-10-17T03:03:55.123GMT``."""
    if not stamp:
        return None
    parsed = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return parsed.replace(tzinfo=timezone.utc).timestamp()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class GroupStats:
    """Spark accounting for the jobs of one or more job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    stage_wait_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    #: (submission, completion) epoch seconds of every stage that ran
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)
    #: (median, max) task run time of every stage that ran
    task_quantiles: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for name in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                     "stage_wait_s", "shuffle_mb", "spill_mb", "gc_s"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.stage_intervals += other.stage_intervals
        self.task_quantiles += other.task_quantiles

    def task_skew(self) -> float:
        """Max task time over median task time, across the stages' tasks
        (stage medians stand in for the overall median)."""
        if not self.task_quantiles:
            return 1.0
        med = statistics.median(q[0] for q in self.task_quantiles)
        top = max(q[1] for q in self.task_quantiles)
        return top / med if med > 0 else 1.0


class SparkAccounting:
    """Reads job, stage and task accounting from a live SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def by_group(self, with_task_quantiles: bool = False) -> dict[str, GroupStats]:
        """Accounting of every job group seen so far, keyed by group id.

        Stages are counted once per group even when several of its jobs
        list them; skipped stages (shuffle reuse) are not counted.
        """
        self.drain()
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages")
            if s.get("status") in ("COMPLETE", "FAILED")
        }
        latest = {}
        for sid, att in stages:
            latest[sid] = max(att, latest.get(sid, att))
        out: dict[str, GroupStats] = {}
        seen: dict[str, set[int]] = {}
        for job in self._get("/jobs"):
            group = job.get("jobGroup")
            if group is None:
                continue
            gs = out.setdefault(group, GroupStats())
            gs.jobs += 1
            for sid in job.get("stageIds", []):
                if sid not in latest or sid in seen.setdefault(group, set()):
                    continue
                seen[group].add(sid)
                stage = stages[(sid, latest[sid])]
                gs.add(self._stage(stage, with_task_quantiles))
        return out

    def _stage(self, s: dict, with_task_quantiles: bool) -> GroupStats:
        sub = _epoch_s(s.get("submissionTime"))
        first = _epoch_s(s.get("firstTaskLaunchedTime"))
        done = _epoch_s(s.get("completionTime"))
        gs = GroupStats(
            stages=1,
            tasks=s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0),
            executor_run_s=s.get("executorRunTime", 0) / 1e3,
            executor_cpu_s=s.get("executorCpuTime", 0) / 1e9,
            shuffle_mb=(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)) / _MB,
            spill_mb=(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / _MB,
            gc_s=s.get("jvmGcTime", 0) / 1e3,
        )
        if sub is not None and first is not None:
            gs.stage_wait_s = max(0.0, first - sub)
        if sub is not None and done is not None:
            gs.stage_intervals.append((sub, done))
        if with_task_quantiles and gs.tasks:
            q = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            gs.task_quantiles.append((q[0], q[1]))
        return gs
