"""Stdlib parser for a plain (uncompressed, non-rolling) Spark event log.

Reads ``SparkListenerJobStart`` and ``SparkListenerTaskEnd`` events and
rolls the task metrics up per job group (``spark.jobGroup.id``, which the tracer
sets to ``<run>|<span name>|<label>``).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    group: str
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    duration_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int
    input_rows: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def stage_jobs(self) -> dict[int, int]:
        out = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for s in job.stages:
                out.setdefault(s, job.id)
        return out


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id") or "",
                list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            shuffle = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            log.tasks.append(Task(
                stage=ev["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                duration_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
                shuffle_write_bytes=shuffle.get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                input_bytes=inp.get("Bytes Read", 0),
                input_rows=inp.get("Records Read", 0),
            ))
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def rollup(log: EventLog, keep=lambda group: True) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor CPU/run/GC seconds,
    shuffle-write and spill bytes, input bytes/rows and task skew (max ÷
    median task duration over the group's tasks). Only groups accepted by
    ``keep`` are returned."""
    stage_job = log.stage_jobs()
    tasks_by_job: dict[int, list[Task]] = {}
    for t in log.tasks:
        job = stage_job.get(t.stage)
        if job is not None:
            tasks_by_job.setdefault(job, []).append(t)
    out: dict[str, dict] = {}
    for job in log.jobs.values():
        if not keep(job.group):
            continue
        g = out.setdefault(job.group, {
            "jobs": 0, "stages": set(), "tasks": 0, "executor_cpu_s": 0.0,
            "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "read_bytes": 0, "read_rows": 0, "_durations": [],
        })
        g["jobs"] += 1
        tasks = tasks_by_job.get(job.id, [])
        g["stages"].update(t.stage for t in tasks)
        g["tasks"] += len(tasks)
        for t in tasks:
            g["executor_cpu_s"] += t.cpu_ns / 1e9
            g["executor_run_s"] += t.run_ms / 1e3
            g["gc_s"] += t.gc_ms / 1e3
            g["shuffle_write_bytes"] += t.shuffle_write_bytes
            g["spill_bytes"] += t.spill_bytes
            g["read_bytes"] += t.input_bytes
            g["read_rows"] += t.input_rows
            g["_durations"].append(t.duration_ms)
    for g in out.values():
        g["stages"] = len(g["stages"])
        durations = g.pop("_durations")
        med = statistics.median(durations) if durations else 0
        g["task_skew"] = max(durations) / med if med else 1.0
    return out
