"""Large-star / small-star connected components — the scale variant.

The round-4 min-label propagation
(:func:`~kinesis_stream_spark.operators.dedup.connected_components`)
spreads a component's minimum id ONE HOP per round, so its round count
is O(graph diameter): fine for duplicate clusters (near-cliques,
diameter 2-4), quadratic-feeling on chain-shaped components (a 64-node
path needs 63 rounds — beyond its default iteration cap). This module
implements the alternating large-star/small-star algorithm (Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
MapReduce and Beyond", ACM SoCC 2014): each round REWIRES the edge set
toward a star centered on the component minimum, halving tree heights,
and converges in O(log² n) rounds independent of diameter — the
documented upgrade trigger in README.md ("graphs with long chains").

Both phases are one groupBy-min + one equi-join over the EDGE list —
the same shuffle shape per round as label propagation, just far fewer
rounds — and per-round ``localCheckpoint`` keeps the plan from growing
(at 100 TB, a durable checkpoint dir instead). Components are never
materialized as rows-per-pair.

The operator is a drop-in for ``connected_components`` — same
(v, comp) output with comp = minimum reachable id — so the existing
recursive-CTE DuckDB oracle verifies it unchanged, and equality with
the propagation twin is pinned by test on fixtures, fuzz graphs, and a
long-chain round-count case.

Why both kernels stay: each wins one kind of traffic. On the
``dedup_connected_components`` chain-copy edges at sf0.1 (11,124 edges;
shallow near-clique clusters), min-label propagation takes 1.9–2.6 s
and 23 jobs per call after the first, large/small-star 4.2–5.1 s and
44–45 jobs (6 interleaved reps, local[4] on a 4-vCPU host, edges
cached, each call counted to completion). On long chains only
large/small-star converges within its cap — propagation needs a round
per hop and raises past ``max_iterations``. Deleting either kernel
regresses one of the two; merging them needs one kernel that is fast
on both.

Naive pointer jumping (a min-label round, then ``comp := comp[comp]``)
is not that kernel: its round count is O(diameter) for arbitrary id
orders. Probed with the jump as one key-partitioned window over the
union of ask rows (k=comp, v) and answer rows (k=v, ans=comp), so no
self-join and no stall, it reaches a fixpoint on a 64-node path in 7
rounds with ascending or descending ids but in 33 with ids shuffled by
``random.Random(7)``, and a 200-node shuffled path has no fixpoint
within 60 rounds. Ordered ids were the easy case: a jump only shortens
pointer chains that already point downhill. A merge needs a hooking
scheme with a proven round bound (the large/small-star rewiring here,
or Shiloach–Vishkin-style conditional hooking), not only a fix to
``lineage.pin``'s inherited size estimate — although a pinned frame
still inherits its source plan's ``sizeInBytes``, which grows by about
64 bits a round under the min-label join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin_observed, release


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u connects its STRICTLY LARGER
    neighbors to m = min(Γ(u) ∪ {u}). Tall trees flatten; edges only
    ever point a node at a smaller id, so the component minimum is a
    fixpoint."""
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges (larger → smaller); every node u
    connects its smaller neighbors AND ITSELF to m = min of them.
    Shallow trees collapse into stars centered on their minimum."""
    e = (
        edges.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (
        e.join(mins, "u")
        .select(F.col("v").alias("n"), "m")
        .unionAll(mins.select(F.col("u").alias("n"), "m"))
        .where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components_bigstar(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star:
    (v, comp) with comp = minimum id reachable from v — the same
    contract as ``connected_components``, in O(log² n) rounds instead
    of O(diameter).

    Convergence is an edge-set fixpoint: when a small-star round
    reproduces its input, every non-minimum node points directly at its
    component minimum (the star state is stable under both phases).
    The check is a driver-side scalar (`subtract().count()`, set
    semantics — both frames are ``distinct``), one extra job per round
    on O(components·size)-row frames, cheap because rounds are few.
    A non-converged exit raises instead of returning silently-partial
    clusters — wrong components mean wrong keep-decisions downstream.
    """
    raw = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    n_rows = F.count(F.lit(1)).alias("n")
    cur, m = pin_observed(raw.where(F.col("u") != F.col("v")).distinct(), n_rows)
    cur_count = int(m["n"] or 0)
    for _ in range(max_rounds):
        # row count rides the checkpoint materialization (r12): the
        # former nxt.count() job per round is gone; the subtract still
        # runs only on count-equality (normally just the final round)
        nxt, m = pin_observed(_small_star(_large_star(cur)), n_rows)
        nxt_count = int(m["n"] or 0)
        # fixpoint ⇔ equal edge SETS; both sides are distinct, so two
        # one-sided subtracts reduce to count-equality plus one subtract
        # (counts are carried on the driver — no recount of cur's frame)
        converged = nxt_count == cur_count and nxt.subtract(cur).count() == 0
        release(cur)
        cur, cur_count = nxt, nxt_count
        if converged:
            break
    else:
        raise ValueError(
            f"connected_components_bigstar: no fixpoint in {max_rounds} rounds"
        )
    # The star fixpoint contains every vertex that survived the
    # self-loop filter: each non-minimum vertex has exactly one
    # out-edge to its component minimum, and each minimum appears as
    # that edge's target. Deriving labels from the final edges alone
    # avoids holding a live reference to the released first-round
    # checkpoint. Vertices that appeared ONLY in self-loop edges were
    # filtered before round one, so they are restored as singleton
    # components via an anti-join against the labeled set — matching
    # the propagation twin, which labels them from its symmetrized
    # vertex frame (same (v, comp) output on ANY edge input).
    nonroot = cur.select(F.col("u").alias("v"), F.col("v").alias("comp"))
    roots = (
        cur.select(F.col("v").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("comp"))
    )
    labeled = nonroot.unionAll(roots)
    selfloop_singletons = (
        raw.where(F.col("u") == F.col("v"))
        .select("v")
        .distinct()
        .join(labeled.select("v"), "v", "left_anti")
        .select("v", F.col("v").alias("comp"))
    )
    return labeled.unionAll(selfloop_singletons)


def duplicate_clusters_bigstar(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Cluster summary over :func:`connected_components_bigstar` — one
    row per duplicate cluster, (canonical_id, cluster_size, max_id) —
    the same contract (and DuckDB oracle) as ``duplicate_clusters``."""
    comp = connected_components_bigstar(edges, src_col=src_col, dst_col=dst_col)
    return comp.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size"), F.max("v").alias("max_id")
    ).select(
        F.col("comp").alias("canonical_id"), "cluster_size", "max_id"
    )
