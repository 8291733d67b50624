#!/usr/bin/env python3
"""The repository benchmark: three workloads over the streaming core and
the query layer, each with its outputs checked against an independent
account of its inputs.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Run from the root of a checkout. Each run sets up several times (the
median is ``setup_s``), then makes a fixed number of whole passes of its
workload, about ``--seconds`` long on a 4-vCPU host, then checks the
outputs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run measures once untraced, once traced, and the
last line carries the per-layer metrics and the tracing overhead. The
exit code is 1 when an output check fails and 2 when the benchmark
cannot run at all; ``--workload all`` runs each workload in a child
process and prints all end-to-end metrics by name and unit.

See ``perfbench/README.md`` for why each workload exists and which
layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
from harness import median, percentile  # noqa: E402

SETUP_REPS = 3
#: nominal seconds of one pass on a 4-vCPU host; with --seconds they fix
#: the number of passes a run makes
DRAIN_S = 4.0
ACK_PASS_S = 0.6
QUERY_PASS_S = 4.0
#: untimed passes of the query set after its oracle check: the JVM keeps
#: compiling for about six passes, and the timed ones should start late
#: on that curve
QUERY_WARM_PASSES = 2
WORKLOADS = ("stream_drain", "tracker_acks", "queries")

#: end-to-end metrics and units; error_rate is printed but not in the
#: JSON result, whose ``failed``/``attempted`` carry it
END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "queries_total_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}
JSON_END_TO_END = tuple(k for k in END_TO_END if k != "error_rate")

PER_LAYER = {
    "tracker.track_us.p50": "us",
    "tracker.track_us.p99": "us",
    "tracker.process_us.p50": "us",
    "tracker.process_us.p99": "us",
    "tracker.checkpoint_if_needed_us.p50": "us",
    "tracker.checkpoint_if_needed_us.p99": "us",
    "tracker.checkpoints": "count",
    "tracker.checkpoint_hit_ratio": "ratio",
    "tracker.max_tracked": "count",
    "delivery.overhead_ms": "ms",
    "delivery.jobs_per_batch": "count",
    "consumer.latest_offset_ms": "ms",
    "consumer.get_batch_ms": "ms",
    "consumer.rows_per_batch": "count",
    "offsetlog.wal_commit_ms": "ms",
    "offsetlog.commit_offsets_ms": "ms",
    "envelope.process_ms": "ms",
    "checkpoint.commit_ms": "ms",
    "checkpoint.commits": "count",
    "driver_gap_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "task_skew": "ratio",
    "trace.overhead_pct": "%",
}


def query_metric_names() -> dict[str, str]:
    from queries import QUERIES

    out = {}
    for name, _ in QUERIES:
        out[f"query.{name}.build_s"] = "s"
        out[f"query.{name}.exec_s"] = "s"
        out[f"query.{name}.jobs"] = "count"
    return out


def passes(seconds: float, nominal_s: float, one_pass) -> list:
    """Run ``one_pass`` a fixed number of times: as many passes of
    ``nominal_s`` seconds (a pass's length on a 4-vCPU host) as fit
    in ``seconds``, at least one. The work per run does not depend on
    how fast the program is, so runs of two versions stay comparable."""
    return [one_pass() for _ in range(max(1, round(seconds / nominal_s)))]


class Run:
    """What one workload run reports."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.setup_samples: list[float] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []

    def outcome(self, problems: list[str], attempts: int = 1) -> None:
        """Count ``attempts`` operations, one failed per problem group."""
        self.attempted += attempts
        if problems:
            self.failed += 1
            self.problems.extend(problems)


# -- stream_drain ---------------------------------------------------------------


def stream_drain(run: Run, workdir: str, seed: int, seconds: float, trace: bool) -> None:
    import gen
    import stream_drain as sd

    spark = None
    rounds = 0

    def drain_round(stream_dir, backlog, spans=None) -> dict:
        nonlocal rounds
        rounds += 1
        try:
            with harness.SpeedSampler() as sampler:
                result = sd.drain(spark, stream_dir, workdir, f"drain-{rounds}", spans)
        except Exception as exc:  # a failing drain is counted, not fatal
            run.outcome([f"drain {rounds}: {type(exc).__name__}: {exc}"[:300]])
            return {"failed": True}
        run.outcome(sd.check(result, backlog), attempts=result["batches"])
        result["scale"] = sampler.scale()
        return result

    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = harness.start_spark(workdir)
        stream_dir = os.path.join(workdir, f"stream-{rep}")
        backlog = gen.write_backlog(seed, stream_dir, sd.FILES, sd.RECORDS_PER_FILE)
        warm_dir = os.path.join(workdir, f"warm-{rep}")
        warm = gen.write_backlog(seed + 1, warm_dir, sd.WARMUP_FILES, sd.RECORDS_PER_FILE)
        drain_round(warm_dir, warm)
        run.setup_samples.append(time.perf_counter() - t0)

    results = [r for r in passes(seconds, DRAIN_S, lambda: drain_round(stream_dir, backlog)) if "failed" not in r]
    # times at the reference host speed (harness.SpeedSampler)
    batch_ms = [p["durationMs"]["triggerExecution"] * r["scale"] for r in results for p in r["progress"]]
    walls = [r["wall_s"] * r["scale"] for r in results]
    records = backlog.n_records * len(results)
    run.metrics.update(
        records_per_s=records / sum(walls) if walls else 0.0,
        batch_p50_ms=median(batch_ms),
        batch_p90_ms=percentile(batch_ms, 90),
        queries_total_s=median(walls),
        peak_rss_mb=harness.peak_rss_mb(),
    )
    run.notes.append(
        f"{len(results)} drains of {sd.FILES} files x {sd.RECORDS_PER_FILE} records, "
        f"{len(batch_ms)} micro-batches; batch_p90_ms from {len(batch_ms)} samples"
    )
    run.notes.append(scale_note([r["scale"] for r in results]))
    if trace:
        spark = traced_spark_restart(spark, workdir)
        from spans import Spans

        spans = Spans()
        traced = [
            r for r in passes(seconds, DRAIN_S, lambda: drain_round(stream_dir, backlog, spans)) if "failed" not in r
        ]
        log = stop_and_read_log(spark, workdir)
        spark = None
        stream_layers(run, traced, spans, log)
        run.layers["trace.overhead_pct"] = overhead_pct(
            median(walls), median([r["wall_s"] * r["scale"] for r in traced])
        )
        spans.write(trace_path(run, seed))
    else:
        harness.stop_spark(spark)


def scale_note(scales: list[float]) -> str:
    return (
        f"times scaled to the host speed at which the speed probe takes {harness.PROBE_REF_S * 1e3:g} ms "
        f"(this run's factors: {min(scales, default=1.0):.3f}-{max(scales, default=1.0):.3f})"
    )


def stream_layers(run: Run, traced: list[dict], spans, log) -> None:
    import eventlog

    progress = [p for r in traced for p in r["progress"]]

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in progress])

    batches = [(i, r) for i, r in enumerate(spans.records) if r[0] == "delivery.batch"]
    overhead, jobs = [], []
    for i, (_, start, end, _) in batches:
        children = sum(e - s for n, s, e, parent in spans.records if parent == i)
        overhead.append((end - start - children) * 1e3)
        jobs.append(len(eventlog.jobs_in_window(log, *spans.epoch_ms(start, end))))
    run.layers.update(tracker_layers(spans, len(traced)))
    run.layers.update(
        {
            "delivery.overhead_ms": median(overhead),
            "delivery.jobs_per_batch": median(jobs),
            "consumer.latest_offset_ms": dur("latestOffset"),
            "consumer.get_batch_ms": dur("getBatch"),
            "consumer.rows_per_batch": median([p["numInputRows"] for p in progress]),
            "offsetlog.wal_commit_ms": dur("walCommit"),
            "offsetlog.commit_offsets_ms": dur("commitOffsets"),
            "envelope.process_ms": spans.p("envelope.process", 50, 1e3),
            "checkpoint.commit_ms": spans.p("checkpoint.commit", 50, 1e3),
            "checkpoint.commits": len(spans.durations.get("checkpoint.commit", [])) / max(len(traced), 1),
        }
    )
    window = eventlog.jobs_in_window(log, *spans.epoch_ms(*spans.extent("delivery.batch")))
    spark_layers(run, log, window, sum(r["wall_s"] for r in traced), len(traced))


# -- tracker_acks ---------------------------------------------------------------

#: sequence numbers per pass over the ack schedule
ACK_SEQS = 300_000
WARMUP_SEQS = 20_000


def tracker_acks(run: Run, workdir: str, seed: int, seconds: float, trace: bool) -> None:
    import gen
    import tracker_acks as ta

    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        schedule = gen.ack_schedule(seed, ACK_SEQS)
        batches, acks = ta.prepare(schedule)
        ta.replay(*ta.prepare(gen.ack_schedule(seed + 1, WARMUP_SEQS)))
        run.setup_samples.append(time.perf_counter() - t0)
    expected = ta.reference_commits(schedule)

    def one_pass(wrapper=None) -> dict:
        gc.collect()
        result = ta.replay(batches, acks, wrapper)
        run.attempted += len(result["cycle_s"])
        run.failed += result["failures"]
        run.outcome(ta.check(result["commits"], expected))
        return result

    results = passes(seconds, ACK_PASS_S, one_pass)
    # every pass replays the same cycles: take each cycle's median over
    # the passes, then percentiles over the cycles
    cycle_ms = [median(c) * 1e3 for c in zip(*(r["scaled_cycle_s"] for r in results))]
    pass_s = [r["pass_s"] for r in results]
    run.metrics.update(
        records_per_s=median([schedule.n_acks / p for p in pass_s]),
        batch_p50_ms=median(cycle_ms),
        batch_p90_ms=percentile(cycle_ms, 90),
        queries_total_s=median(pass_s),
        peak_rss_mb=harness.peak_rss_mb(),
    )
    probe_ms = [p * 1e3 for r in results for p in r["probe_s"]]
    run.notes.append(
        f"{len(results)} passes of {schedule.n_acks} acks over {len(batches)} cycles, "
        f"{len(expected)} checkpoints per pass; batch_p90_ms from the median times of {len(cycle_ms)} cycles"
    )
    run.notes.append(
        f"times scaled to the host speed at which the speed probe takes {harness.PROBE_REF_S * 1e3:g} ms, "
        f"probed every {ta.PROBE_EVERY} cycles (this run: median {median(probe_ms):.3f} ms over {len(probe_ms)} probes)"
    )
    if trace:
        from spans import Spans

        spans = Spans()
        wrappers = []

        def wrap(tracker):
            wrappers.append(spans.wrap_tracker(tracker))
            return wrappers[-1]

        traced = passes(seconds, ACK_PASS_S, lambda: one_pass(wrap))
        run.layers.update(tracker_layers(spans, len(traced)))
        run.layers["tracker.max_tracked"] = max(w.max_tracked for w in wrappers)
        run.layers["trace.overhead_pct"] = overhead_pct(median(pass_s), median([r["pass_s"] for r in traced]))
        spans.write(trace_path(run, seed))


def tracker_layers(spans, n_passes: int) -> dict:
    calls = spans.counts.get("tracker.checkpoint_calls", 0)
    commits = spans.counts.get("tracker.checkpoints", 0)
    out = {
        "tracker.checkpoints": commits / max(n_passes, 1),
        "tracker.checkpoint_hit_ratio": commits / calls if calls else 0.0,
    }
    for call in ("track", "process", "checkpoint_if_needed"):
        for q in (50, 99):
            out[f"tracker.{call}_us.p{q}"] = spans.p(f"tracker.{call}", q, 1e6)
    return out


# -- query sets -----------------------------------------------------------------


def query_set(run: Run, workdir: str, seed: int, seconds: float, trace: bool) -> None:
    import queries as qs

    run.notes.append(f"--seed {seed} does not apply: the set reads the committed fixture perfbench/fixture")
    spark = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = harness.start_spark(workdir)
        qs.warm_tables(spark)
        run.setup_samples.append(time.perf_counter() - t0)

    # the oracle check runs the whole set once, outside the timed region
    checked, rows = qs.check(spark)
    for name, problems in checked.items():
        run.outcome([f"{name}: {p}" for p in problems])

    def one_pass() -> dict:
        """Each query's (build_s, exec_s) at the reference host speed;
        ``raw_s`` is the pass's unscaled total, for the event-log figures."""
        out = {"start": time.time(), "queries": {}, "scales": [], "raw_s": 0.0}
        with harness.SpeedSampler() as sampler:
            for name, sf_dir in qs.QUERIES:
                t0 = time.perf_counter()
                try:
                    build_s, exec_s = qs.run_query(spark, name, sf_dir)
                    k = sampler.scale(t0, time.perf_counter())
                    out["queries"][name] = (build_s * k, exec_s * k)
                    out["scales"].append(k)
                    out["raw_s"] += build_s + exec_s
                    run.outcome([])
                except Exception as exc:  # a broken query must not hide the rest
                    run.outcome([f"{name}: {type(exc).__name__}: {exc}"[:300]])
                gc.collect()
        out["end"] = time.time()
        out["wall_s"] = sum(b + e for b, e in out["queries"].values())
        return out

    for _ in range(QUERY_WARM_PASSES):
        one_pass()
    results = passes(seconds, QUERY_PASS_S, one_pass)
    # each query's median over the passes, then percentiles over the
    # queries: pooling would let the percentile jump between queries
    per_query_ms = [
        median([sum(r["queries"][name]) * 1e3 for r in results if name in r["queries"]])
        for name, _ in qs.QUERIES
    ]
    totals = [r["wall_s"] for r in results]
    run.metrics.update(
        records_per_s=rows / median(totals) if totals else 0.0,
        batch_p50_ms=median(per_query_ms),
        batch_p90_ms=percentile(per_query_ms, 90),
        queries_total_s=median(totals),
        peak_rss_mb=harness.peak_rss_mb(),
    )
    run.notes.append(
        f"{len(results)} timed passes of {len(qs.QUERIES)} queries after {QUERY_WARM_PASSES} untimed; records are result rows ({rows} per pass); "
        f"batch percentiles over the median times of {len(per_query_ms)} queries"
    )
    run.notes.append(scale_note([k for r in results for k in r["scales"]]))
    if trace:
        spark = traced_spark_restart(spark, workdir)
        traced = passes(seconds, QUERY_PASS_S, one_pass)
        log = stop_and_read_log(spark, workdir)
        query_layers(run, traced, log)
        run.layers["trace.overhead_pct"] = overhead_pct(
            median(totals), median([r["wall_s"] for r in traced])
        )
    else:
        harness.stop_spark(spark)


def query_layers(run: Run, traced: list[dict], log) -> None:
    import eventlog
    import queries as qs

    n = len(traced)
    for name, _ in qs.QUERIES:
        run.layers[f"query.{name}.build_s"] = median([r["queries"][name][0] for r in traced if name in r["queries"]])
        run.layers[f"query.{name}.exec_s"] = median([r["queries"][name][1] for r in traced if name in r["queries"]])
        run.layers[f"query.{name}.jobs"] = len(eventlog.jobs_in_group(log, qs.job_group(name))) / n
    lo = min(r["start"] for r in traced) * 1e3
    hi = max(r["end"] for r in traced) * 1e3
    window = [j for j in log.jobs.values() if j.group and j.group.startswith("perfbench:")]
    spark_layers(run, log, window, sum(r["raw_s"] for r in traced), n, lo, hi)


def spark_layers(run: Run, log, jobs, wall_s: float, n: int, lo=None, hi=None) -> None:
    """Executor-side totals per pass and the time no Spark job ran."""
    import eventlog

    if lo is None:
        lo = min((j.submit_ms for j in jobs), default=0)
        hi = max((j.end_ms or j.submit_ms for j in jobs), default=0)
    summary = eventlog.summarize(log, jobs)
    busy_s = eventlog.busy_ms(jobs, lo, hi) / 1e3
    run.layers.update(
        {
            "driver_gap_s": max(wall_s - busy_s, 0.0) / n,
            "spark.stages": summary["stages"] / n,
            "spark.tasks": summary["tasks"] / n,
            "executor_run_s": summary["executor_run_s"] / n,
            "executor_cpu_s": summary["executor_cpu_s"] / n,
            "shuffle_write_mb": summary["shuffle_write_mb"] / n,
            "spill_mb": summary["spill_mb"] / n,
            "gc_s": summary["gc_s"] / n,
            "task_skew": summary["task_skew"],
        }
    )


# -- traced-run plumbing --------------------------------------------------------


def traced_spark_restart(spark, workdir: str):
    """A new SparkContext in the same JVM, writing an uncompressed,
    single-file event log."""
    spark.stop()
    log_dir = os.path.join(workdir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return harness.start_spark(
        workdir,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )


def stop_and_read_log(spark, workdir: str):
    import eventlog

    harness.stop_spark(spark)
    return eventlog.parse(eventlog.find(os.path.join(workdir, "eventlog")))


def overhead_pct(untraced: float, traced: float) -> float:
    return (traced - untraced) / untraced * 100.0 if untraced else 0.0


def trace_path(run: Run, seed: int) -> str:
    out = os.path.join(harness.ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"{run.workload}-seed{seed}.json")


# -- entry point ----------------------------------------------------------------

RUNNERS = {
    "stream_drain": stream_drain,
    "tracker_acks": tracker_acks,
    "queries": query_set,
}


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    workdir = harness.make_workdir(workload)
    try:
        import kinesis_stream_spark  # noqa: F401  (fails outside a full checkout)
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        harness.remove_workdir(workdir)
        return 2
    run = Run(workload)
    try:
        RUNNERS[workload](run, workdir, seed, seconds, trace)
    finally:
        if "pyspark" in sys.modules:
            harness.stop_spark()
        harness.remove_workdir(workdir)
    run.metrics["setup_s"] = median(run.setup_samples)
    run.metrics["error_rate"] = run.failed / max(run.attempted, 1)

    print(f"workload {workload}, seed {seed}, {seconds:g} s, trace {int(trace)}")
    for note in run.notes:
        print(f"  note: {note}")
    print(f"  setup samples (s): {', '.join(f'{s:.3f}' for s in run.setup_samples)}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<16} {run.metrics.get(name, 0.0):>14.4f} {unit}")
    if trace:
        units = {**PER_LAYER, **query_metric_names()}
        for name, unit in units.items():
            print(f"  {name:<48} {run.layers.get(name, 0.0):>14.4f} {unit}")
    for p in run.problems[:20]:
        print(f"  FAILED: {p}")
    if trace:
        metrics = {n: {"value": float(run.layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": float(run.metrics[n]), "unit": END_TO_END[n]} for n in JSON_END_TO_END}
    correct = not run.problems
    print(
        json.dumps(
            {"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own child process; one table at the end."""
    rows, status = {}, 0
    for workload in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        try:
            rows[workload] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            return 2
        status = max(status, proc.returncode)
    print(f"{'metric':<16} {'unit':<6} " + " ".join(f"{w:>16}" for w in WORKLOADS))
    for name, unit in END_TO_END.items():
        if name == "error_rate":
            values = [rows[w]["failed"] / rows[w]["attempted"] for w in WORKLOADS]
        else:
            values = [rows[w]["metrics"][name]["value"] for w in WORKLOADS]
        print(f"{name:<16} {unit:<6} " + " ".join(f"{v:>16.4f}" for v in values))
    return status


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=12.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
