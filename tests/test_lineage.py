"""The checkpoint lifecycle (operators/lineage.py): no lineage cut
outside it, then pin, pin_observed, advance and release on their own,
then the block-release contract of every iterative graph loop — a
finished call holds at most its result's checkpoint, and releasing the
result frees that too."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kinesis_stream_spark.operators import graph
from kinesis_stream_spark.operators.lineage import (
    advance,
    pin,
    pin_observed,
    release,
)


PACKAGE = Path(__file__).resolve().parents[1] / "kinesis_stream_spark"


def _stored(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_every_lineage_cut_goes_through_lineage():
    # the local-vs-durable choice is made in lineage.pin alone: a
    # checkpoint call anywhere else would escape a switch made there
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 50  # the scan sees the package
    cuts = []
    for path in modules:
        if path == PACKAGE / "operators" / "lineage.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                cuts.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert cuts == []


@pytest.mark.parametrize("shuffles", [0, 1])
def test_lazy_pin_runs_no_job_until_read_then_holds_blocks(spark, shuffles):
    # a lazy cut runs nothing at the call — except, under adaptive
    # execution (on in the package session), the shuffle stages below
    # it, which AQE runs to plan the stage above them
    before = _stored(spark)
    df = spark.range(300).select((F.col("id") % 11).alias("k"))
    want = sorted(i % 11 for i in range(300))
    if shuffles:
        df, want = df.distinct(), list(range(11))
    lazy, n_at_call = _jobs(
        spark, f"lineage-test-lazy-pin-{shuffles}", lambda: pin(df, eager=False)
    )
    assert n_at_call == shuffles
    assert not _stored(spark) - before
    assert sorted(r.k for r in lazy.collect()) == want
    assert len(_stored(spark) - before) == 1
    release(lazy)
    assert not _stored(spark) - before


def test_advance_result_survives_release_of_prev(spark):
    before = _stored(spark)
    prev = pin(spark.range(50).select(F.col("id").alias("v")))
    nxt = advance(prev, prev.select((F.col("v") * 2).alias("v")))
    # prev's blocks are gone, nxt's are the only new ones
    assert len(_stored(spark) - before) == 1
    assert sorted(r.v for r in nxt.collect()) == list(range(0, 100, 2))
    assert nxt.agg(F.sum("v")).first()[0] == 2 * sum(range(50))
    release(nxt)
    assert not _stored(spark) - before


def test_release_tolerates_none_unpinned_and_repeats(spark):
    before = _stored(spark)
    lazy = spark.range(10)
    local = spark.createDataFrame([(1,), (2,)], "x long")
    pinned = pin(spark.range(20))
    derived = pinned.where("id > 5")
    release(None, lazy, local, pinned, pinned, derived, None)
    assert not _stored(spark) - before
    # the unpinned frames are untouched and still compute
    assert lazy.count() == 10 and local.count() == 2
    release()  # nothing to do


def test_pin_observed_returns_metric_and_adds_no_job(spark):
    df = spark.range(200).select((F.col("id") % 7).alias("k")).distinct()
    plain, n_plain = _jobs(spark, "lineage-test-pin", lambda: pin(df))
    (observed, m), n_observed = _jobs(
        spark,
        "lineage-test-pin-observed",
        lambda: pin_observed(
            df, F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
        ),
    )
    assert m["n"] == 7 and m["s"] == 21
    assert n_plain >= 1 and n_observed == n_plain
    assert sorted(r.k for r in observed.collect()) == list(range(7))
    release(plain, observed)


def _edges(spark):
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 8)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _sources(spark):
    return spark.createDataFrame([(1,), (7,)], "node long")


def _weighted(spark):
    return _edges(spark).withColumn("w", (F.col("src") % 3 + 1).cast("long"))


LOOPS = {
    "pagerank": lambda s: graph.pagerank(_edges(s)),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(
        _edges(s), _sources(s)
    ),
    "kcore": lambda s: graph.kcore(_edges(s), k=2, rounds=3),
    "label_propagation": lambda s: graph.label_propagation(_edges(s), rounds=3),
    "bfs_hops": lambda s: graph.bfs_hops(_edges(s), _sources(s), rounds=4),
    "cheapest_path": lambda s: graph.cheapest_path(
        _weighted(s), _sources(s), rounds=4
    ),
    "hits_scores": lambda s: graph.hits_scores(_edges(s)),
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_graph_loop_releases_checkpoint_blocks(spark, name):
    # every intermediate checkpoint must be released by the operator;
    # only the one its result reads may stay, and releasing the result
    # frees that one too
    before = _stored(spark)
    out = LOOPS[name](spark)
    assert out.collect()  # the result stays usable after the releases
    leaked = _stored(spark) - before
    assert len(leaked) <= 1, leaked
    release(out)
    remaining = _stored(spark) - before
    assert not remaining, remaining


def test_personalized_pagerank_with_every_seed_is_pagerank(spark):
    # the two operators share one round: seeding every node puts the
    # teleport and dangling mass exactly where pagerank puts it
    edges = _edges(spark).union(
        spark.createDataFrame([(2, 9), (9, 1), (5, 10)], "src long, dst long")
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    )
    for iterations in (1, 3):
        pr = graph.pagerank(edges, iterations=iterations)
        ppr = graph.personalized_pagerank(edges, nodes, iterations=iterations)
        assert sorted(map(tuple, ppr.collect())) == sorted(
            map(tuple, pr.collect())
        )
        release(pr, ppr)
