"""queries: registered queries, each planned, executed and materialized
to the noop sink as ``bench.py`` does, and checked against its DuckDB
oracle.

The set reads the tables committed under ``perfbench/fixture`` (copies
of the repository's seed-42 test tables), so ``--seed`` does not apply to it.
"""

from __future__ import annotations

import os
import time

from kinesis_stream_spark.queries import all_oracle_sql, all_queries
from kinesis_stream_spark.sources.batch import TABLE_NAMES, load_table
from kinesis_stream_spark.testing import compare, run_oracle

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

SF0001 = os.path.join(FIXTURE, "sf0.001")
SF001 = os.path.join(FIXTURE, "sf0.01")
#: (query, fixture). The graph loops are driver- and job-bound: few
#: rows, many jobs and rounds, so sf0.001 isolates the per-job and
#: per-round cost. The other two do executor, shuffle and Arrow work on
#: sf0.01: a gain for loops that costs kernels shows on them.
QUERIES = (
    ("graph_kcore_purchases", SF0001),
    ("graph_label_propagation", SF0001),
    ("udf_map_in_pandas_tokenize", SF001),
    ("q18_large_quantity_orders", SF001),
)


def job_group(name: str) -> str:
    return f"perfbench:{name}"


def warm_tables(spark) -> None:
    """``bench.py``'s warm-up: one noop scan of every table."""
    for sf_dir in sorted({sf for _, sf in QUERIES}):
        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()


def run_query(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Plan, execute and materialize one query under its own job group.
    Returns (build_s, exec_s): the time inside the ``queries.*`` call,
    where eager loop rounds run, and the time of the noop write."""
    fn = all_queries()[name]
    spark.sparkContext.setJobGroup(job_group(name), name)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return t1 - t0, t2 - t1


def check(spark) -> tuple[dict[str, list[str]], int]:
    """Each result against its DuckDB oracle, compared as
    ``testing.compare`` does. Returns the problems per query and the
    number of result rows the oracles expect for the whole set."""
    oracles = all_oracle_sql()
    queries = all_queries()
    out, rows = {}, 0
    for name, sf_dir in QUERIES:
        try:
            expected = run_oracle(oracles[name], sf_dir)
            rows += len(expected)
            out[name] = compare(queries[name](spark, sf_dir), expected)
        except Exception as exc:  # a broken query must not hide the rest
            out[name] = [f"{type(exc).__name__}: {exc}"[:300]]
    return out, rows
