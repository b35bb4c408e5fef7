"""Reader for Spark's JSON-lines event log (``spark.eventLog.enabled``,
uncompressed). It is the outside view of job, stage and task work: the
benchmark never reaches into the engine for these numbers."""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from common import union_length


@dataclass
class Stage:
    stage_id: int
    start: float | None = None  # epoch seconds, from StageCompleted
    end: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: list[float] = field(default_factory=list)  # executor run time per task
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def jobs_where(self, pred) -> list[Job]:
        return [j for j in self.jobs.values() if pred(j)]

    def totals(self, jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
        """Per-layer figures over ``jobs``; ``wall_s`` and ``cores`` give the
        slot capacity the tasks ran in."""
        stage_ids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        stages = [self.stages[s] for s in stage_ids]
        task_ms = sum(sum(s.task_ms) for s in stages)
        skews = [
            max(s.task_ms) / statistics.median(s.task_ms)
            for s in stages
            if len(s.task_ms) >= 2 and statistics.median(s.task_ms) > 0
        ]
        capacity = wall_s * cores
        return {
            "operators.jobs": float(len(jobs)),
            "operators.stages": float(len(stages)),
            "operators.tasks": float(sum(s.tasks for s in stages)),
            "operators.task_s": task_ms / 1000.0,
            "operators.task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "operators.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "operators.slot_idle_frac": (1.0 - task_ms / 1000.0 / capacity) if capacity > 0 else 0.0,
            "operators.shuffle_write_bytes": float(sum(s.shuffle_write for s in stages)),
            "operators.shuffle_read_bytes": float(sum(s.shuffle_read for s in stages)),
            "operators.spill_bytes": float(sum(s.spill for s in stages)),
            "operators.task_skew": max(skews) if skews else 1.0,
            "operators.failed_tasks": float(sum(s.failed_tasks for s in stages)),
            "catalog.input_bytes": float(sum(s.input_bytes for s in stages)),
            "catalog.input_rows": float(sum(s.input_rows for s in stages)),
        }

    def driver_gap_s(self, start: float, end: float, jobs: list[Job]) -> float:
        """Wall of ``[start, end]`` not covered by any of ``jobs``' intervals:
        plan building, analysis, Py4J and Python work on the driver."""
        spans = [
            (max(j.start, start), min(j.end, end))
            for j in jobs
            if j.end is not None and min(j.end, end) > max(j.start, start)
        ]
        return (end - start) - union_length(spans)


def _task(stage: Stage, ev: dict) -> None:
    info = ev.get("Task Info", {})
    metrics = ev.get("Task Metrics") or {}
    stage.tasks += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
        stage.failed_tasks += 1
    stage.task_ms.append(float(metrics.get("Executor Run Time", 0)))
    stage.cpu_ns += int(metrics.get("Executor CPU Time", 0))
    stage.gc_ms += int(metrics.get("JVM GC Time", 0))
    stage.spill += int(metrics.get("Memory Bytes Spilled", 0)) + int(metrics.get("Disk Bytes Spilled", 0))
    sw = metrics.get("Shuffle Write Metrics") or {}
    stage.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
    sr = metrics.get("Shuffle Read Metrics") or {}
    stage.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
    inp = metrics.get("Input Metrics") or {}
    stage.input_bytes += int(inp.get("Bytes Read", 0))
    stage.input_rows += int(inp.get("Records Read", 0))


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                start=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            stage = log.stages.setdefault(info["Stage ID"], Stage(stage_id=info["Stage ID"]))
            if info.get("Submission Time") and info.get("Completion Time"):
                stage.start = info["Submission Time"] / 1000.0
                stage.end = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            _task(log.stages.setdefault(sid, Stage(stage_id=sid)), ev)
    return log


def parse_dir(path: str) -> EventLog:
    """Parse the newest application log under ``path``. Each SparkContext
    writes its own log and restarts job and stage ids, so logs are never
    merged."""
    files = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    if not files:
        raise FileNotFoundError(f"no event log under {path}")
    newest = max(files, key=os.path.getmtime)
    with open(newest) as f:
        return parse_lines(f)
