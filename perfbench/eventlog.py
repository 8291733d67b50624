"""Reader for Spark's uncompressed JSON event log.

Only Spark's public listener events are used: job start/end (with the
job group from the job's properties) and task end (with the task
metrics). Jobs are attributed to a query by job group,
or to a micro-batch by the wall-clock window of its span.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from harness import median


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def find(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                log.jobs[event["Job ID"]] = Job(
                    event["Job ID"],
                    props.get("spark.jobGroup.id"),
                    event["Submission Time"],
                    stage_ids=list(event.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(event["Job ID"])
                if job is not None:
                    job.end_ms = event["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, metrics = event["Task Info"], event.get("Task Metrics") or {}
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                log.tasks.append(
                    Task(
                        event["Stage ID"],
                        info["Launch Time"],
                        info["Finish Time"],
                        metrics.get("Executor Run Time", 0),
                        metrics.get("Executor CPU Time", 0),
                        metrics.get("JVM GC Time", 0),
                        shuffle.get("Shuffle Bytes Written", 0),
                        metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0),
                    )
                )
    return log


def busy_ms(jobs: list[Job], lo_ms: float, hi_ms: float) -> float:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    spans = sorted(
        (max(j.submit_ms, lo_ms), min(j.end_ms if j.end_ms is not None else hi_ms, hi_ms))
        for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(log: EventLog, jobs: list[Job]) -> dict:
    """Counts and executor-side totals of the given jobs' stages."""
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.finish_ms - t.launch_ms)
    skews = [max(d) / max(median(d), 1.0) for d in by_stage.values() if len(d) > 1]
    return {
        # stages that ran tasks; skipped stages (shuffle reuse) never do
        "stages": len(by_stage),
        "tasks": len(tasks),
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 2**20,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 2**20,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "task_skew": median(skews) if skews else 1.0,
    }


def jobs_in_group(log: EventLog, group: str) -> list[Job]:
    return [j for j in log.jobs.values() if j.group == group]


def jobs_in_window(log: EventLog, lo_ms: float, hi_ms: float) -> list[Job]:
    return [j for j in log.jobs.values() if lo_ms <= j.submit_ms <= hi_ms]
