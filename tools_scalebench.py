#!/usr/bin/env python
"""Scaling-measurement companion to ``bench.py`` (NOT the driver
contract — bench.py is untouched): times a SUBSET of the declared
queries at an arbitrary ``SPARK_GRAFT_SF_DIR`` so the heavy tail can be
re-baselined at a larger scale factor (VERDICT r12 item 2), where a
full 278-query run would take hours.

Methodology is bench.py's, verbatim: ``local[$SPARK_GRAFT_CPUS]``,
untimed all-table noop warm-up, fixed sorted execution order, min-of-N
reps (default 2) of an end-to-end noop-sink materialization per query,
gc between queries, one JSON line + a detail file.

Each rep runs under its own Spark job group, so the detail file also
records, per query, the jobs the first rep ran (building the frame and
writing it) and the distinct stage ids of those jobs.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata_scaled/sf1 SPARK_GRAFT_CPUS=32 \
        python tools_scalebench.py --only q1,q2,... --out OUT.json
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--out", required=True, help="detail JSON path")
    args = ap.parse_args()
    names = [n for n in args.only.split(",") if n]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from kinesis_stream_spark.queries import all_queries
    from kinesis_stream_spark.session import get_spark
    from kinesis_stream_spark.sources.batch import TABLE_NAMES, load_table

    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("kinesis-stream-spark-scalebench")
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    sc = spark.sparkContext
    status = sc.statusTracker()
    timings: dict[str, float] = {}
    counts: dict[str, dict[str, int]] = {}
    failures: dict[str, str] = {}
    for name in sorted(names):
        fn = registry[name]
        best = None
        for rep in range(reps):
            group = f"scalebench:{name}:{rep}"
            sc.setJobGroup(group, f"scalebench: {name}")
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception as exc:
                failures[name] = f"{type(exc).__name__}: {exc}"[:200]
                best = None
                break
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            best = dt if best is None else min(best, dt)
            if rep == 0:
                jobs = status.getJobIdsForGroup(group)
                stages = {
                    s for j in jobs if (info := status.getJobInfo(j)) for s in info.stageIds
                }
                counts[name] = {"jobs": len(jobs), "stages": len(stages)}
        if best is not None:
            timings[name] = round(best, 3)
        gc.collect()

    detail = {
        "metric": "scaling_subset_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "counts": counts,
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "n_failures": len(failures),
        "reps": reps,
        "exec_order": "sorted(name)",
        "warmup": "all-table noop scan, untimed",
    }
    if failures:
        detail["failures"] = failures
    with open(args.out, "w") as fh:
        json.dump(detail, fh, indent=2, sort_keys=True)
    print(json.dumps({k: detail[k] for k in ("value", "cpus", "sf_dir", "n_queries", "n_failures")}))


if __name__ == "__main__":
    main()
