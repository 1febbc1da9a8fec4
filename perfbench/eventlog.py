"""Execution metrics from Spark's JSON event log.

The log is one JSON object per line (``spark.eventLog.enabled``, written
uncompressed to a local directory). Jobs are attributed to benchmark
operations by submission time: the benchmark is a closed loop with one client,
so operations never overlap, and a job submitted inside an operation's window
belongs to it, whichever thread submitted it.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from spans import union_length


@dataclass
class Job:
    id: int
    submitted: float  # epoch ms
    completed: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    tasks: list[dict] = field(default_factory=list)  # {"s": seconds, metrics...}
    completed: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def parse(lines) -> EventLog:
    """Build jobs and stages (with their finished tasks) from event lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"], None, list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.completed = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            log.stages.setdefault(sid, Stage(sid)).completed = True
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])).tasks.append(
                {
                    "s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                }
            )
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _in(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def jobs_in(log: EventLog, windows: list[tuple[float, float]]) -> list[Job]:
    return [j for j in log.jobs.values() if _in(j.submitted, windows)]


def exec_metrics(log: EventLog, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """``exec.*`` metrics of the jobs submitted inside ``windows`` (epoch ms)."""
    jobs = jobs_in(log, windows)
    stages = [
        log.stages[sid]
        for sid in sorted({sid for j in jobs for sid in j.stage_ids})
        if sid in log.stages and log.stages[sid].completed
    ]
    tasks = [t for st in stages for t in st.tasks]
    exec_s = union_length([(j.submitted, j.completed) for j in jobs if j.completed is not None]) / 1000.0
    task_s = sum(t["s"] for t in tasks)
    skews = []
    for st in stages:
        if len(st.tasks) >= cores:
            times = [t["s"] for t in st.tasks]
            skews.append(max(times) / max(statistics.median(times), 0.001))
    return {
        "exec.s": exec_s,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.task_s": task_s,
        "exec.busy_ratio": task_s / (exec_s * cores) if exec_s else 0.0,
        "exec.input_bytes": sum(t["input_bytes"] for t in tasks),
        "exec.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "exec.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "exec.task_skew": max(skews) if skews else 1.0,
        "exec.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "exec.gc_s": sum(t["gc_s"] for t in tasks),
    }
