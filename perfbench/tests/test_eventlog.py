"""The event-log reader on a small hand-written log."""

import json

import eventlog


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms, shuffle, spill):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "perfbench:q"}},
    _task(0, 1010, 1110, 90, 80_000_000, 5, 2**20, 0),
    _task(0, 1010, 1310, 280, 250_000_000, 15, 2**20, 2**20),
    _task(1, 1320, 1400, 70, 60_000_000, 0, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1350, "Stage IDs": [2],
     "Properties": {}},
    _task(2, 1360, 1500, 100, 1, 0, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000, "Stage IDs": [3],
     "Properties": {"spark.jobGroup.id": "perfbench:q"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2100},
]


def test_parse_and_summarize(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "local-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    log = eventlog.parse(eventlog.find(str(log_dir)))
    assert sorted(log.jobs) == [0, 1, 2] and len(log.tasks) == 4
    jobs = eventlog.jobs_in_group(log, "perfbench:q")
    assert [j.job_id for j in jobs] == [0, 2]
    s = eventlog.summarize(log, jobs)
    assert (s["stages"], s["tasks"]) == (2, 3)
    assert s["executor_run_s"] == 0.44
    assert abs(s["executor_cpu_s"] - 0.39) < 1e-12
    assert s["shuffle_write_mb"] == 2.0 and s["spill_mb"] == 1.0 and s["gc_s"] == 0.02
    # stage 0: task times 100 and 300 ms, median 200, max 300
    assert s["task_skew"] == 1.5
    # jobs 0 and 1 overlap: busy from 1000 to 1500, then 2000 to 2100
    assert eventlog.busy_ms(list(log.jobs.values()), 0, 3000) == 600
    assert eventlog.busy_ms(list(log.jobs.values()), 1200, 2050) == 350
    assert [j.job_id for j in eventlog.jobs_in_window(log, 1300, 2000)] == [1, 2]
