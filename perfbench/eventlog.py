"""Parser for Spark's JSON event log (``spark.eventLog.enabled``).

Reads one uncompressed, non-rolling log file and returns, per job, its
job group, submit and completion times and stages, and per stage the task
metrics summed over its tasks: executor run and CPU time, GC time, shuffle
bytes written, spilled bytes, failed tasks, and the Python-boundary SQL
metrics that Spark 4 attaches to Arrow/pandas UDF operators (their
accumulable display names are listed in ``PYTHON_METRICS``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from spans import covered

# SQL metric display name -> our key. Bytes for data, milliseconds for times.
PYTHON_METRICS = {
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
    "time to run Python workers": "worker_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
}

TASK_FIELDS = (
    "tasks", "tasks_failed", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_bytes", "spill_bytes",
    *PYTHON_METRICS.values(),
)


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)
    succeeded: bool | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics (keys: TASK_FIELDS)
    stages: dict[int, dict[str, float]] = field(default_factory=dict)


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          ev["Submission Time"], stages=list(ev.get("Stage IDs", [])))
                log.jobs[job.id] = job
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
                    job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stages.setdefault(
                    ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0.0)), ev)
    return log


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["tasks_failed"] += 1
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for a in info.get("Accumulables") or []:
        key = PYTHON_METRICS.get(a.get("Name"))
        if key is not None:
            acc[key] += float(a.get("Update") or 0)


def summarize(log: EventLog, groups: set[str] | None = None) -> dict[str, float]:
    """Jobs, stages and summed task metrics of the jobs whose group is in
    ``groups`` (all jobs when None)."""
    jobs = [j for j in log.jobs.values() if groups is None or j.group in groups]
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    stage_ids = {s for j in jobs for s in j.stages}
    for s in stage_ids:
        for k, v in log.stages.get(s, {}).items():
            out[k] += v
    out["jobs"] = float(len(jobs))
    # stages that ran (skipped stages of a reused shuffle have no tasks)
    out["stages"] = float(sum(1 for s in stage_ids if s in log.stages))
    return out


def busy_ms(log: EventLog, t0_ms: float, t1_ms: float) -> float:
    """Wall time inside [t0, t1] during which at least one job ran."""
    ivs = [
        (max(j.submit_ms, t0_ms), min(j.end_ms, t1_ms))
        for j in log.jobs.values()
        if j.end_ms is not None and j.end_ms > t0_ms and j.submit_ms < t1_ms
    ]
    return covered(ivs)
