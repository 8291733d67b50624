"""PageRank with exact integer fixed-point arithmetic.

The iterative-algorithm counterpart to the one-shot graph operators
(connected components in operators/dedup.py / components.py): a fixed
number of power-iteration rounds over an edge list, every quantity an
integer, so the whole computation — including the damping split and
dangling-mass redistribution — replays bit-identically in a DuckDB
oracle of unrolled CTEs. Reference scope note: the reference
(`500px/kinesis-stream`) ships no graph processing; north-star
extension surface, same as the components family.

Fixed-point semantics (PR_SCALE = 2^40, damping d = 17/20 = 0.85):

    r⁰(v)   = PR_SCALE div N
    c(u→v)  = (17 · r(u)) div (20 · outdeg(u))       per edge
    D       = (17 · Σ_{dangling u} r(u)) div (20 · N) per round
    T       = (3 · PR_SCALE) div (20 · N)             per round
    r'(v)   = T + D + Σ_{u→v} c(u→v)

Integer floor division loses a few units of mass per round (bounded by
edges + N per round at 2^-40 granularity) — the deterministic price of
exactness; ranks stay ordered identically to float PageRank far beyond
any real ranking gap. Headroom: total mass ≈ PR_SCALE, so every
per-node sum is ≤ ~2^40 regardless of graph size — BIGINT-safe at any
N (contributions CONSERVE mass; no N-proportional blowup anywhere).

Scale shape (100 TB): the edge list is the only large input,
checkpointed once (at deployment scale a durable checkpoint dir, as
everywhere in the repo); each round is one broadcast-joined map over
edges (rank and checkpointed outdeg joins on src) plus a dst-keyed
sum. N and the per-round dangling sum ride as broadcast 1-row frames —
NO driver collect anywhere. Rounds checkpoint eagerly and superseded
blocks are released as the loop advances (see :func:`pagerank`).
Rounds are a fixed constant: power iteration converges geometrically
(damping 0.85 → ~5 rounds for ranking stability), so the job count is
bounded and known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import (
    advance,
    pin,
    pin_observed,
    release,
)

PR_SCALE = 1 << 40


def _directed_edges(edges: DataFrame) -> DataFrame:
    """Non-null distinct (src, dst) edges, pinned — the directed view
    shared by the PageRank family, HITS and the degree statistics.
    Callers release it when done."""
    return pin(
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )


def _nodes(e: DataFrame) -> DataFrame:
    """Every endpoint of a :func:`_directed_edges` frame as ``v``,
    pinned."""
    return pin(
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .distinct()
    )


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """The undirected simple graph as distinct (a, b) pairs with a < b:
    NULL endpoints and self-loops drop, each edge appears once. Lazy —
    :func:`triangle_stats` and :func:`modularity` pin it as it is,
    :func:`_undirected_edges` pins its doubled form."""
    uu, vv = F.col("src"), F.col("dst")
    return (
        edges.where(uu.isNotNull() & vv.isNotNull())
        .where(uu != vv)
        .select(F.least(uu, vv).alias("a"), F.greatest(uu, vv).alias("b"))
        .distinct()
    )


def _undirected_edges(edges: DataFrame) -> DataFrame:
    """Cleaned, doubled, deduped adjacency, pinned: every undirected
    edge appears as both (a, b) and (b, a). Shared by the fixed-round
    operators (:func:`kcore`, :func:`label_propagation`, the BFS) —
    callers release the returned checkpoint when done. Canonicalizing
    BEFORE the dedup (r12) runs the distinct over |E| canonical pairs
    instead of 2|E| doubled rows — half the dedup shuffle — and
    doubling afterwards cannot re-introduce duplicates (self-loops are
    gone, so (u,v) != (v,u))."""
    e = _canonical_edges(edges)
    return pin(e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))))


def _pagerank_round(
    e: DataFrame,
    nodes: DataFrame,
    outdeg: DataFrame,
    nn: DataFrame,
    r: DataFrame,
    seedset: DataFrame | None = None,
) -> DataFrame:
    """One power-iteration round (module docstring for the integer
    semantics) — factored out so plan tests can pin the round SHAPE
    (broadcast scalars, hash joins, no cartesian) directly: inside
    :func:`pagerank` every round's output is an eager checkpoint, which
    truncates the explainable plan. With ``seedset`` — (v, is_seed)
    for the seed nodes, ``nn`` then holding the seed count — the
    teleport and dangling mass land on the seeds only: the
    :func:`personalized_pagerank` round."""
    contribs = (
        e.join(r.select(F.col("v").alias("src"), "r"), "src")
        .join(outdeg.select(F.col("v").alias("src"), "deg"), "src")
        .select("dst", F.expr("(17 * r) div (20 * deg)").alias("c"))
        .groupBy(F.col("dst").alias("v"))
        .agg(F.sum("c").alias("csum"))
    )
    dang = r.join(outdeg, "v", "left_anti").agg(
        F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("ds")
    )
    nxt = nodes.join(contribs, "v", "left")
    teleport = f"(3 * {PR_SCALE}) div (20 * n) + (17 * ds) div (20 * n)"
    if seedset is not None:
        nxt = nxt.join(seedset, "v", "left")
        teleport = f"case when is_seed = 1 then {teleport} else 0 end"
    return (
        nxt.crossJoin(F.broadcast(dang))
        .crossJoin(F.broadcast(nn))
        .select(
            "v",
            F.expr(f"{teleport} + coalesce(csum, 0)").cast("long").alias("r"),
        )
    )


def _out_degrees(e: DataFrame) -> DataFrame:
    """(v, deg) per source, pinned: out-degrees feed two joins per
    round, so they are aggregated once instead of up to twice per
    round."""
    return pin(
        e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    )


def _power_iterate(
    e: DataFrame,
    nodes: DataFrame,
    outdeg: DataFrame,
    nn: DataFrame,
    r: DataFrame,
    iterations: int,
    seedset: DataFrame | None = None,
) -> DataFrame:
    """Run the rounds of :func:`pagerank` / :func:`personalized_pagerank`
    from the pinned initial ranks ``r``, release every input checkpoint,
    and project the final ranks to (node, rank_fx, rank)."""
    for _ in range(iterations):
        r = advance(r, _pagerank_round(e, nodes, outdeg, nn, r, seedset))
    release(e, nodes, outdeg, seedset)
    return r.select(
        F.col("v").alias("node"),
        F.col("r").alias("rank_fx"),
        (F.col("r").cast("double") / PR_SCALE).alias("rank"),
    )


def pagerank(edges: DataFrame, *, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (module
    docstring for the exact integer semantics). Returns one row per
    node: (node, rank_fx BIGINT, rank double = rank_fx / 2^40).
    Duplicate edges collapse (simple graph); self-loops count as
    ordinary edges; nodes appearing only as destinations are dangling
    and their mass redistributes uniformly each round.

    Block-manager hygiene (the components-family discipline): rounds
    checkpoint EAGERLY and every superseded checkpoint — the previous
    round's ranks, and after the final round the edge list, node frame,
    and out-degrees — is released before return, so a completed call
    retains ONE node-sized block (the final ranks), never the
    corpus-sized edge checkpoint. The cost is that construction runs
    the computation (standard for the iterative operators here;
    connected_components does the same)."""
    e = _directed_edges(edges)
    nodes = _nodes(e)
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    outdeg = _out_degrees(e)
    r = pin(
        nodes.crossJoin(F.broadcast(nn))
        .select("v", F.expr(f"{PR_SCALE} div n").alias("r"))
    )
    return _power_iterate(e, nodes, outdeg, nn, r, iterations)


def sql_pagerank(
    edges_cte: str,
    *,
    iterations: int = 3,
) -> str:
    """DuckDB oracle twin: the same integer semantics as unrolled CTEs
    over ``edges_cte → (src, dst)``. HUGEINT sums cast back to BIGINT
    each round; ordered (rank_fx desc, node) by the caller's tail."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src, dst FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT DISTINCT v FROM"
        " (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e))",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "outdeg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM e GROUP BY 1)",
        f"r0 AS (SELECT v, CAST({PR_SCALE} // n AS BIGINT) AS r"
        " FROM nodes CROSS JOIN nn)",
    ]
    for i in range(iterations):
        ctes.append(
            f"""c{i} AS (
              SELECT e.dst AS v, CAST(SUM((17 * r.r) // (20 * o.deg))
                                      AS BIGINT) AS csum
              FROM e
              JOIN r{i} r ON r.v = e.src
              JOIN outdeg o ON o.v = e.src
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""d{i} AS (
              SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS ds
              FROM r{i} r LEFT JOIN outdeg o ON o.v = r.v
              WHERE o.v IS NULL
            )"""
        )
        ctes.append(
            f"""r{i + 1} AS (
              SELECT n.v,
                     CAST((3 * {PR_SCALE}) // (20 * x.n)
                          + (17 * d.ds) // (20 * x.n)
                          + COALESCE(c.csum, 0) AS BIGINT) AS r
              FROM nodes n
              LEFT JOIN c{i} c ON c.v = n.v
              CROSS JOIN d{i} d
              CROSS JOIN nn x
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f""" SELECT v AS node, r AS rank_fx,
               CAST(r AS DOUBLE) / {PR_SCALE} AS rank
               FROM r{iterations}"""
    )


def kcore(edges: DataFrame, *, k: int, rounds: int) -> DataFrame:
    """k-core peeling over an undirected view of the edge list: for a
    fixed number of ``rounds``, drop every node whose current degree is
    below ``k`` (with all its incident edges), then recompute degrees —
    the standard core-decomposition step that isolates the densely
    connected subgraph. Returns (node, degree) for the survivors after
    the last round. Self-loops and NULL endpoints are dropped up
    front; degree counts DISTINCT neighbors.

    Fixed-round discipline (the :func:`pagerank` pattern): peeling is
    monotone — the surviving set only shrinks — so ``rounds`` bounds
    the cascade depth deterministically and the DuckDB oracle replays
    the exact same rounds as unrolled CTEs. Integer counts and
    comparisons only; nothing engine-dependent anywhere.

    Scale shape: the doubled adjacency is the only corpus-sized frame,
    localCheckpoint-pinned once (durable checkpoint at deployment
    scale) and re-pinned per round as it shrinks, with superseded
    blocks released (the components/pagerank release discipline). Each
    round is one map-side-combinable degree aggregate plus two
    shuffle-keyed semi joins against the (node-sized, much smaller)
    survivor set. Rounds are a small constant — each extra round costs
    one aggregate + two joins, never a growing lineage."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k ({k}) and rounds ({rounds}) must be >= 1")
    und = _undirected_edges(edges)
    for _ in range(rounds):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.where(F.col("degree") >= k).select("a")
        und = advance(
            und,
            und.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .select("a", "b"),
        )
    return (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("a").alias("node"), "degree")
    )


def sql_kcore(
    edges_cte: str,
    *,
    k: int,
    rounds: int,
) -> str:
    """DuckDB oracle twin of :func:`kcore`: the same peel rounds
    unrolled as CTEs over ``edges_cte → (src, dst)``."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src AS a, dst AS b FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "und0 AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e)",
    ]
    for i in range(rounds):
        ctes.append(
            f"deg{i} AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS degree"
            f" FROM und{i} GROUP BY 1)"
        )
        ctes.append(
            f"keep{i} AS (SELECT a FROM deg{i} WHERE degree >= {k})"
        )
        ctes.append(
            f"""und{i + 1} AS (
              SELECT u.a, u.b FROM und{i} u
              WHERE u.a IN (SELECT a FROM keep{i})
                AND u.b IN (SELECT a FROM keep{i})
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f""" SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
               FROM und{rounds} GROUP BY 1"""
    )


def label_propagation(edges: DataFrame, *, rounds: int) -> DataFrame:
    """Fixed-round semi-synchronous label propagation (community
    detection): every node starts labeled with its own id; each round,
    every node simultaneously adopts the most frequent label among its
    neighbors, ties broken to the LEXICOGRAPHICALLY SMALLEST label —
    a fully deterministic variant of LPA (Raghavan et al. 2007, whose
    random tie-breaks and vertex orderings are replaced by total
    orders so any engine replays the rounds bit-identically). Returns
    (node, label) after the last round. Self-loops and NULL endpoints
    drop up front (a self-loop-only node has no neighbors to vote).

    On bipartite graphs synchronous LPA can oscillate between sides —
    the fixed round count makes the snapshot deterministic either way,
    same contract as :func:`pagerank`'s fixed iterations.

    Scale shape: the doubled adjacency is checkpointed once; each
    round is one edge-sized join (neighbor label lookup), one
    map-side-combinable (node, label) count, and two node-sized
    aggregates (max count, then min label among the argmax) — the
    argmax-by-(count, label) is expressed as aggregate-join-aggregate
    instead of a window so every step is combinable and shuffle keys
    stay on node id. Labels are checkpointed per round with the
    superseded block released (the pagerank discipline)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _undirected_edges(edges)
    lab = pin(
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(rounds):
        nbr = und.join(
            lab.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        cnts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # argmax-by-(count desc, label asc) as ONE combinable aggregate:
        # min(struct(-c, label)) — struct order compares -c first
        # (largest count wins), then takes the MIN label among ties.
        # The former aggregate-join-aggregate (max count per node,
        # join back, min label) computed the identical winner but
        # re-executed the edge-sized cnts subtree on both join inputs
        # — two neighbor joins + three exchanges per round instead of
        # one join + two combinable aggregations (r12).
        lab = advance(
            lab,
            cnts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label")),
        )
    # the returned labels are checkpointed, so the adjacency block is
    # no longer reachable — release it (the pagerank discipline)
    release(und)
    return lab


def sql_label_propagation(
    edges_cte: str,
    *,
    rounds: int,
) -> str:
    """DuckDB oracle twin of :func:`label_propagation`: identical
    rounds unrolled as CTEs over ``edges_cte → (src, dst)``."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src AS a, dst AS b FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e)",
        "lab0 AS (SELECT DISTINCT a AS node, a AS label FROM und)",
    ]
    for i in range(rounds):
        ctes.append(
            f"""cnt{i} AS (
              SELECT u.a AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
              FROM und u JOIN lab{i} l ON l.node = u.b
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"mx{i} AS (SELECT node, MAX(c) AS m FROM cnt{i} GROUP BY 1)"
        )
        ctes.append(
            f"""lab{i + 1} AS (
              SELECT c.node, MIN(c.label) AS label
              FROM cnt{i} c JOIN mx{i} m
                ON m.node = c.node AND c.c = m.m
              GROUP BY 1
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, label FROM lab{rounds}"
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected simple graph:
    (node, degree, n_triangles, clustering_coeff), where the local
    clustering coefficient is 2·T/(d·(d−1)) (0.0 when d < 2 — a
    single exact-integer ratio, the only float op anywhere).

    Triangles are enumerated once each via the id-ordered orientation
    (u < v < w): canonical edges join on the shared middle vertex and
    the closing edge — the standard distributed triangle join. Scale
    note: the join cost is Σ_v deg(v)² on the ORIENTED graph; at
    deployment scale the classic refinement is degree-based
    orientation (point edges from low to high degree, bounding the
    quadratic term by arboricity) — id-orientation is kept here
    because it is total-order deterministic and oracle-replayable;
    swapping the comparator is a one-line deployment knob. The edge
    list is checkpointed once and reused by all three join legs and
    the degree count."""
    e = pin(_canonical_edges(edges))
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("degree")
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    cc = F.when(
        d >= 2,
        (2.0 * t.cast("double"))
        / (d.cast("double") * (d - 1).cast("double")),
    ).otherwise(F.lit(0.0))
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        t.alias("n_triangles"),
        cc.alias("clustering_coeff"),
    )


def sql_triangle_stats(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`triangle_stats` (same id-ordered
    orientation, same count identities, same single-divide cc)."""
    return f"""
    WITH rawe AS ({edges_cte}),
    e AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM rawe WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY 1
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pern AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY 1
    )
    SELECT d.node, d.degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN (2.0 * CAST(COALESCE(p.n_triangles, 0) AS DOUBLE))
                     / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
                ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN pern p USING (node)
    """


def _sources_at_zero(und: DataFrame, sources: DataFrame, name: str) -> DataFrame:
    """The graph nodes of ``sources`` at distance 0 in column ``name``,
    pinned — the first frontier of the relaxation loops. Sources that
    aren't graph nodes drop in the semi join."""
    return pin(
        und.select(F.col("a").alias("node"))
        .distinct()
        .join(sources.select("node").distinct(), "node", "left_semi")
        .select("node", F.lit(0).cast("long").alias(name))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    *,
    rounds: int,
    frontier_sizes: list | None = None,
) -> DataFrame:
    """Multi-source BFS hop distance over the undirected view of the
    edge list: every node in ``sources`` starts at distance 0; each
    round relaxes one hop (dist'(v) = min(dist(v), min over neighbors
    u of dist(u) + 1)). Returns (node, dist) for every node REACHED
    within ``rounds`` hops — the k-hop neighborhood / blast-radius
    primitive (who is within k steps of the seed cohort).

    Fixed-round contract (the :func:`pagerank` / :func:`kcore`
    discipline): ``rounds`` bounds the frontier depth deterministically
    and the DuckDB oracle unrolls the identical rounds as CTEs.
    Distances are small integers; MIN is the only aggregate — nothing
    engine-dependent anywhere.

    Scale shape — FRONTIER-ONLY relaxation: a settled BFS distance
    never improves, so each round joins the adjacency against only the
    nodes discovered in the PREVIOUS round (the frontier), not the
    whole distance frame — per round the edge join emits only
    frontier-incident edges, so total relaxation work over the run is
    O(E) instead of O(E·rounds) (each edge is relaxed once per
    endpoint-discovery, not once per round). New discoveries are the
    round's candidates minus the already-settled set (one node-keyed
    anti join against the V-sized frame); the loop exits early once
    the frontier empties (identical result — further rounds are
    no-ops, which the whole-set oracle replays as fixed-point CTEs).
    The doubled adjacency is the only corpus-sized frame
    (checkpoint-pinned once, released on return). Sources that aren't
    graph nodes are dropped by the semi join (distance to a non-node
    is undefined). ``frontier_sizes``, when given, receives the
    per-round frontier row counts (test / ops observability).
    Equivalence to whole-set relaxation: any ≤k-edge path u→v has its
    last edge relaxed the round after u is discovered (≤k), and every
    relaxation corresponds to a real path — so round-k output is
    exactly the ≤k-hop minimum, matching the unrolled oracle."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _undirected_edges(edges)
    frontier = _sources_at_zero(und, sources, "dist")
    dist = frontier
    # r12 loop shape: ONE job per hop instead of three. The frontier
    # row count rides the checkpoint materialization as an Observation
    # metric (the former frontier.count() job is gone), and `dist`
    # stays a LAZY union of the per-hop frontier checkpoints —
    # frontiers are disjoint, so the union holds each node exactly
    # once and the per-hop anti join reads the same bytes a
    # re-checkpointed dist would have held, without paying a V-sized
    # materialization per hop. One final checkpoint makes the result
    # self-contained so every per-hop block can be released.
    frontiers = [frontier]
    if frontier_sizes is not None:
        frontier_sizes.append(frontier.count())
    for hop in range(1, rounds + 1):
        candidates = (
            und.join(frontier.select(F.col("node").alias("a")), "a")
            .select(F.col("b").alias("node"))
            .distinct()
        )
        frontier, m = pin_observed(
            candidates.join(dist, "node", "left_anti")
            .select("node", F.lit(hop).cast("long").alias("dist")),
            F.count(F.lit(1)).alias("n"),
        )
        frontiers.append(frontier)
        dist = dist.unionAll(frontier)
        n_new = int(m["n"] or 0)
        if frontier_sizes is not None:
            frontier_sizes.append(n_new)
        if n_new == 0:
            break
    out = pin(dist)
    release(*frontiers, und)
    return out


def sql_bfs_hops(
    edges_cte: str,
    sources_cte: str,
    *,
    rounds: int,
) -> str:
    """DuckDB oracle twin of :func:`bfs_hops`: identical relaxation
    rounds unrolled as CTEs. ``sources_cte`` must yield a ``node``
    column."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src AS a, dst AS b FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e)",
        f"srcs AS ({sources_cte})",
        "d0 AS (SELECT DISTINCT n.node, CAST(0 AS BIGINT) AS dist"
        " FROM (SELECT DISTINCT a AS node FROM und) n"
        " JOIN (SELECT DISTINCT node FROM srcs) s USING (node))",
    ]
    for i in range(rounds):
        ctes.append(
            f"""d{i + 1} AS (
              SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d{i}
                UNION ALL
                SELECT u.b AS node, d.dist + 1 AS dist
                FROM und u JOIN d{i} d ON d.node = u.a
              ) GROUP BY 1
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, dist FROM d{rounds}"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank: the :func:`pagerank` power iteration with
    the teleport (and dangling) mass concentrated on the ``seeds`` set
    instead of spread uniformly — the standard graph-proximity score
    behind seed-cohort recommendation ("rank everything by closeness
    to these nodes"). Same exact integer semantics (PR_SCALE = 2^40,
    d = 17/20); the only change is WHERE the 3/20 teleport and the
    dangling redistribution land:

        r⁰(v)  = [v ∈ S] · PR_SCALE div |S|
        r'(v)  = [v ∈ S] · ((3·PR_SCALE) div (20·|S|)
                            + (17·D) div (20·|S|))  +  Σ_{u→v} c(u→v)

    Mass still conserves (≤ PR_SCALE up to floor loss), so the BIGINT
    headroom argument is unchanged at any graph size. Seeds outside
    the graph drop via the semi join (they can hold no mass). Returns
    (node, rank_fx, rank) for every node — zero-rank nodes included,
    so the output schema matches :func:`pagerank`.

    Scale shape: identical to :func:`pagerank` (edge-sized join +
    dst-keyed sum per round, broadcast 1-row scalars, eager round
    checkpoints with release); the seed flag rides as one extra
    node-sized left join per round (:func:`_pagerank_round` with a
    seed set)."""
    e = _directed_edges(edges)
    nodes = _nodes(e)
    seedset = pin(
        nodes.join(seeds.select(F.col("node").alias("v")).distinct(), "v", "left_semi")
        .select("v", F.lit(1).alias("is_seed"))
    )
    ns = seedset.agg(F.count(F.lit(1)).cast("long").alias("n"))
    outdeg = _out_degrees(e)
    r = pin(
        nodes.join(seedset, "v", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "v",
            F.expr(
                f"case when is_seed = 1 then {PR_SCALE} div n else 0 end"
            )
            .cast("long")
            .alias("r"),
        )
    )
    return _power_iterate(e, nodes, outdeg, ns, r, iterations, seedset)


def sql_personalized_pagerank(
    edges_cte: str,
    seeds_cte: str,
    *,
    iterations: int = 3,
) -> str:
    """DuckDB oracle twin of :func:`personalized_pagerank` — unrolled
    CTEs, seed-concentrated teleport/dangling. ``seeds_cte`` must
    yield a ``node`` column."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src, dst FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT DISTINCT v FROM"
        " (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e))",
        f"rawseed AS ({seeds_cte})",
        "seedset AS (SELECT DISTINCT n.v FROM nodes n"
        " JOIN (SELECT DISTINCT node FROM rawseed) s ON s.node = n.v)",
        "ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seedset)",
        "outdeg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM e GROUP BY 1)",
        f"""r0 AS (
          SELECT n.v,
                 CAST(CASE WHEN s.v IS NOT NULL THEN {PR_SCALE} // x.n
                      ELSE 0 END AS BIGINT) AS r
          FROM nodes n LEFT JOIN seedset s ON s.v = n.v CROSS JOIN ns x)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""c{i} AS (
              SELECT e.dst AS v, CAST(SUM((17 * r.r) // (20 * o.deg))
                                      AS BIGINT) AS csum
              FROM e
              JOIN r{i} r ON r.v = e.src
              JOIN outdeg o ON o.v = e.src
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""d{i} AS (
              SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS ds
              FROM r{i} r LEFT JOIN outdeg o ON o.v = r.v
              WHERE o.v IS NULL
            )"""
        )
        ctes.append(
            f"""r{i + 1} AS (
              SELECT n.v,
                     CAST(CASE WHEN s.v IS NOT NULL THEN
                            (3 * {PR_SCALE}) // (20 * x.n)
                            + (17 * d.ds) // (20 * x.n)
                          ELSE 0 END
                          + COALESCE(c.csum, 0) AS BIGINT) AS r
              FROM nodes n
              LEFT JOIN seedset s ON s.v = n.v
              LEFT JOIN c{i} c ON c.v = n.v
              CROSS JOIN d{i} d
              CROSS JOIN ns x
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f""" SELECT v AS node, r AS rank_fx,
               CAST(r AS DOUBLE) / {PR_SCALE} AS rank
               FROM r{iterations}"""
    )


def cheapest_path(
    edges: DataFrame,
    sources: DataFrame,
    *,
    rounds: int,
    frontier_sizes: list | None = None,
) -> DataFrame:
    """Multi-source cheapest path (Bellman-Ford relaxation) over the
    undirected view of a WEIGHTED edge list: every source starts at
    cost 0; each round relaxes one edge step

        cost'(v) = min(cost(v), min over neighbors u of cost(u) + w(u,v))

    Returns (node, cost) for every node reached within ``rounds`` edge
    steps — the weighted upgrade of :func:`bfs_hops` (hop counts answer
    "how far"; this answers "how cheap"). Weights must be non-negative
    BIGINTs (integer cents in the registered query — the engine's
    fixed-point discipline: never float adds inside a fold).

    Fixed-round contract (the :func:`pagerank` / :func:`bfs_hops`
    discipline): ``rounds`` bounds the relaxation depth
    deterministically — the result is the cheapest cost USING AT MOST
    ``rounds`` edges, which the DuckDB oracle replays as unrolled CTEs.
    Full Bellman-Ford convergence is rounds = |V| − 1; bounded-depth
    is the deployment norm (blast radius, not all-pairs).

    Scale shape — FRONTIER-ONLY relaxation (SPFA-style, round-
    synchronous): a node's cost can only improve via a neighbor whose
    cost improved in the previous round, so each round joins the
    adjacency against only the JUST-IMPROVED nodes, not the whole
    cost frame — frontier-incident edges per round instead of E·rounds
    total. The round's candidate minima then update the V-sized cost
    frame through one node-keyed left join (detect improvements) and
    one anti join + union (apply them); the loop exits early once no
    cost improves (identical result — further rounds are no-ops,
    matching the unrolled fixed-point oracle). Parallel (a, b) edges
    collapse to their MIN weight map-side BEFORE any iteration (the
    only corpus-sized pass), with per-round ``localCheckpoint``
    lineage cuts and release discipline. Costs are bounded by
    rounds·max(w) — no N-proportional growth. Sources that aren't
    graph nodes are dropped by the semi join. ``frontier_sizes``,
    when given, receives per-round improved-node counts.
    Equivalence to whole-set relaxation, by induction on rounds: for
    any path q+(u,v) with |q| ≤ k−1, cost_{k−1}(u) ≤ cost(q) and u's
    last improvement at round j ≤ k−1 relaxes v at round j+1 ≤ k with
    that final value, so cost_k(v) ≤ cost(q)+w; conversely every
    relaxation chain maps to a real ≤k-edge path — round-k output is
    exactly the ≤k-edge minimum."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.col("w").cast("long").alias("w"),
        )
    )
    und = pin(
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    frontier = cost = _sources_at_zero(und, sources, "cost")
    if frontier_sizes is not None:
        frontier_sizes.append(frontier.count())
    for _ in range(rounds):
        candidates = (
            und.join(
                frontier.select(F.col("node").alias("a"), "cost"), "a"
            )
            .select(
                F.col("b").alias("node"),
                (F.col("cost") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        # improved-count rides the checkpoint materialization as an
        # Observation metric (r12) — the former frontier.count() job
        # per round is gone
        improved, m = pin_observed(
            candidates.join(
                cost.select("node", F.col("cost").alias("old")),
                "node",
                "left",
            )
            .where(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("node", F.col("cand").alias("cost")),
            F.count(F.lit(1)).alias("n"),
        )
        n_improved = int(m["n"] or 0)
        if frontier_sizes is not None:
            frontier_sizes.append(n_improved)
        if n_improved == 0:
            # nothing improved: cost is already the fixpoint — skip
            # rebuilding (and re-materializing) an identical frame
            release(improved)
            break
        prev_cost = cost
        cost = pin(cost.join(improved, "node", "left_anti").unionAll(improved))
        # the first round's frontier IS the initial cost frame; release
        # takes each frame once
        release(prev_cost, frontier)
        frontier = improved
    # when no round improved anything, frontier IS the returned cost
    release(None if frontier is cost else frontier, und)
    return cost


def sql_cheapest_path(
    edges_cte: str,
    sources_cte: str,
    *,
    rounds: int,
) -> str:
    """DuckDB oracle twin of :func:`cheapest_path`: identical
    min-weight edge collapse and relaxation rounds unrolled as CTEs.
    ``edges_cte`` must yield (src, dst, w); ``sources_cte`` a ``node``
    column."""
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT src AS a, dst AS b, CAST(w AS BIGINT) AS w FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "und AS (SELECT a, b, MIN(w) AS w FROM"
        " (SELECT a, b, w FROM e UNION ALL SELECT b AS a, a AS b, w FROM e)"
        " GROUP BY 1, 2)",
        f"srcs AS ({sources_cte})",
        "c0 AS (SELECT DISTINCT n.node, CAST(0 AS BIGINT) AS cost"
        " FROM (SELECT DISTINCT a AS node FROM und) n"
        " JOIN (SELECT DISTINCT node FROM srcs) s USING (node))",
    ]
    for i in range(rounds):
        ctes.append(
            f"""c{i + 1} AS (
              SELECT node, MIN(cost) AS cost FROM (
                SELECT node, cost FROM c{i}
                UNION ALL
                SELECT u.b AS node, c.cost + u.w AS cost
                FROM und u JOIN c{i} c ON c.node = u.a
              ) GROUP BY 1
            )"""
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, cost FROM c{rounds}"
    )


def link_prediction_ra(
    edges: DataFrame,
    *,
    max_intermediate_degree: int = 20,
    min_common: int = 2,
    top_k: int = 30,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) on
    a bipartite edge list: score candidate (dst, dst) pairs by the
    intermediates they share, weighting each shared src by the inverse
    of its degree —

        RA(x, y) = Σ_{w ∈ N(x) ∩ N(y)} 1 / deg(w)

    — common-neighbors counting where promiscuous intermediates say
    little and rare ones say a lot. Zhou et al. showed RA beats
    Adamic-Adar's 1/log(deg) on dense graphs, and 1/deg has an exact
    integer form where 1/log needs a transcendental the cross-engine
    hash can't carry: each intermediate contributes ⌊10^6/deg(w)⌋, so
    the pair score is an exact BIGINT sum of per-intermediate integer
    quanta (deterministic truncation, same floor both engines).

    Output: global top ``top_k`` pairs (node_a < node_b) by
    (ra_ppm desc, node_a, node_b): (node_a, node_b, n_common, ra_ppm).

    Scale shape: the pair frame comes from the src-keyed self-join, so
    its size is Σ deg(src)² — quadratic in INTERMEDIATE degree, which
    is why ``max_intermediate_degree`` caps it (the containment
    dedup's max_df discipline: a hub intermediate contributes ~0 score
    anyway — 10^6/deg quanta — while costing deg² pair rows; dropping
    it changes low-signal candidates only, and the cap is the
    documented knob to sweep). Degrees are a combinable aggregate;
    the candidate reduce is map-side combinable; top-k is
    TakeOrderedAndProject, never a full sort."""
    if max_intermediate_degree < 2:
        raise ValueError(
            "max_intermediate_degree must be >= 2, got"
            f" {max_intermediate_degree}"
        )
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    # two lineage cuts (triangle_stats precedent): e feeds the degree
    # aggregate and the join, and the capped ew frame feeds BOTH sides
    # of the src-keyed self-join — without them the upstream edge build
    # runs 3× and the degree cap twice (intra-query, recomputed per call)
    e = pin(
        edges.select(F.col("src").alias("w"), F.col("dst").alias("v"))
        .where(F.col("w").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    deg = (
        e.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .where(F.col("deg") <= max_intermediate_degree)
        .select("w", F.expr("1000000 div deg").alias("quantum"))
    )
    ew = pin(e.join(deg, "w"))
    l, r = ew.alias("l"), ew.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.w") == F.col("r.w")) & (F.col("l.v") < F.col("r.v")),
        )
        .groupBy(F.col("l.v").alias("node_a"), F.col("r.v").alias("node_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.col("l.quantum")).cast("long").alias("ra_ppm"),
        )
        .where(F.col("n_common") >= min_common)
    )
    return pairs.orderBy(
        F.desc("ra_ppm"), F.asc("node_a"), F.asc("node_b")
    ).limit(top_k)


def sql_link_prediction_ra(
    edges_cte: str,
    *,
    max_intermediate_degree: int = 20,
    min_common: int = 2,
    top_k: int = 30,
) -> str:
    """DuckDB oracle twin of :func:`link_prediction_ra`.
    ``edges_cte`` must yield (src, dst) rows."""
    return f"""
    WITH rawe AS ({edges_cte}),
    e AS (SELECT DISTINCT src AS w, dst AS v FROM rawe
          WHERE src IS NOT NULL AND dst IS NOT NULL),
    deg AS (
      SELECT w, 1000000 // CAST(COUNT(*) AS BIGINT) AS quantum
      FROM e GROUP BY 1
      HAVING COUNT(*) <= {max_intermediate_degree}),
    ew AS (SELECT e.w, e.v, d.quantum FROM e JOIN deg d ON e.w = d.w),
    pairs AS (
      SELECT l.v AS node_a, r.v AS node_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(l.quantum) AS BIGINT) AS ra_ppm
      FROM ew l JOIN ew r ON l.w = r.w AND l.v < r.v
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_common})
    SELECT node_a, node_b, n_common, ra_ppm FROM pairs
    ORDER BY ra_ppm DESC, node_a, node_b
    LIMIT {top_k}
    """


def degree_profile(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of a directed edge list, per
    node role — the first thing to read before ANY graph job here:
    PageRank cost, the k-core peel count, the link-prediction cap, and
    every join-skew salting decision key off "how heavy is the degree
    tail". Power-law graphs show a straight line in (bucket, count)
    space; a bucket holding one super-hub names the exact node class
    the skew guards exist for.

    Buckets are ⌊log2(deg)⌋ computed WITHOUT a transcendental:
    length(bin(deg)) − 1, the bit length of a positive BIGINT —
    Spark's ``bin`` and DuckDB's ``bin`` both render minimal binary
    digits, so the bucket is integer-exact on both engines. Per
    (role, bucket): node count, share of that role's nodes in ppm,
    and the bucket's degree extents. Roles: 'out' buckets source
    nodes by out-degree, 'in' buckets destinations by in-degree
    (bipartite graphs read naturally; for a doubled undirected list
    both roles coincide). Duplicate edges collapse; NULL endpoints
    drop.

    Scale shape: one distinct edge pass, two combinable degree
    aggregates, a K-bucket reduce (K ≤ 63) with the role totals
    joined broadcast — no window, no iteration."""
    # e feeds four consumers (per role: the degree bucketing and the
    # role total) — checkpoint so the edge build + distinct runs once
    e = _directed_edges(edges)
    d38 = "decimal(38,0)"
    out = []
    for role, node in (("out", "src"), ("in", "dst")):
        deg = e.groupBy(F.col(node).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        buck = (
            deg.select(
                F.expr("length(bin(deg)) - 1").cast("long").alias("bucket"),
                "deg",
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.min("deg").alias("deg_min"),
                F.max("deg").alias("deg_max"),
            )
        )
        tot = deg.agg(F.count(F.lit(1)).cast("long").alias("role_nodes"))
        out.append(
            buck.crossJoin(F.broadcast(tot)).select(
                F.lit(role).alias("role"),
                "bucket",
                "n_nodes",
                "deg_min",
                "deg_max",
                F.expr(
                    f"cast(cast(n_nodes as {d38}) * 1000000"
                    " div role_nodes as long)"
                ).alias("share_ppm"),
            )
        )
    return out[0].unionAll(out[1])


def sql_degree_profile(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`degree_profile`. ``edges_cte``
    must yield (src, dst) rows."""
    roles = []
    for role, node in (("out", "src"), ("in", "dst")):
        roles.append(
            f"""
      SELECT '{role}' AS role, bucket,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             MIN(deg) AS deg_min, MAX(deg) AS deg_max,
             CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
                  // MAX(role_nodes) AS BIGINT) AS share_ppm
      FROM (
        SELECT CAST(LENGTH(BIN(deg)) - 1 AS BIGINT) AS bucket, deg,
               CAST(COUNT(*) OVER () AS BIGINT) AS role_nodes
        FROM (SELECT {node} AS v, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e GROUP BY 1))
      GROUP BY 1, 2"""
        )
    return (
        f"""
    WITH rawe AS ({edges_cte}),
    e AS (SELECT DISTINCT src, dst FROM rawe
          WHERE src IS NOT NULL AND dst IS NOT NULL)
    """
        + " UNION ALL ".join(roles)
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of a directed edge list (Newman 2002): the
    Pearson correlation, over EDGES, between the source's out-degree
    and the destination's in-degree — positive means hubs wire to
    hubs (social cores), negative means hubs wire to leaves
    (hub-and-spoke, most purchase/dependency graphs). One number that
    predicts how a graph partitions: disassortative graphs salt well
    (hub edges spread over leaf partitions); assortative ones
    concentrate hot edges and need the skew guards.

    Exactness: degrees are exact integers; the five moments (Σx, Σy,
    Σxy, Σx², Σy²) accumulate in DECIMAL(38,0)/HUGEINT over d19
    products (the numeric_correlations discipline); the final r is
    num/(√vx·√vy) — two sqrts, one divide, pinned order. Degenerate
    variance (all sources equal degree, or all destinations) yields
    NULL r via lazy CASE. Duplicate edges collapse; NULL endpoints
    drop.

    Output: ONE row (n_edges, n_sources, n_destinations, mean_out,
    mean_in, r).

    Scale shape: one distinct edge pass, two combinable degree
    aggregates joined back edge-keyed (src-keyed then dst-keyed — both
    equi joins on the degree frames, broadcastable when the node set
    fits), one 1-row moment reduce. No window, no iteration."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    # e feeds both degree aggregates and the per-edge join — checkpoint
    # so the upstream edge build + distinct runs once, not three times
    e = _directed_edges(edges)
    outd = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("x"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("y"))
    per_edge = e.join(outd, "src").join(ind, "dst")
    m = per_edge.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("src").cast("long").alias("n_src"),
        F.count_distinct("dst").cast("long").alias("n_dst"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((F.col("x").cast(d19) * F.col("y").cast(d19)).cast(d38))
        .cast(d38)
        .alias("sxy"),
        F.sum((F.col("x").cast(d19) * F.col("x").cast(d19)).cast(d38))
        .cast(d38)
        .alias("sxx"),
        F.sum((F.col("y").cast(d19) * F.col("y").cast(d19)).cast(d38))
        .cast(d38)
        .alias("syy"),
    )
    n_d = F.col("n").cast(d38)
    # the guard's vx/vy; r itself re-derives the same quantities as
    # VARCHAR-routed expression strings below (string routing is the
    # cross-engine cast rule and has no Column-API spelling)
    vx = n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n_d * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").alias("n_edges"),
        F.col("n_src").alias("n_sources"),
        F.col("n_dst").alias("n_destinations"),
        F.when(
            F.col("n") > 0,
            F.expr("cast(cast(sx as string) as double)")
            / F.col("n").cast("double"),
        ).alias("mean_out"),
        F.when(
            F.col("n") > 0,
            F.expr("cast(cast(sy as string) as double)")
            / F.col("n").cast("double"),
        ).alias("mean_in"),
        F.when(
            (vx == 0) | (vy == 0) | (F.col("n") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.expr(
                "cast(cast(cast(n as decimal(38,0)) * sxy - sx * sy"
                " as string) as double)"
            )
            / (
                F.sqrt(
                    F.expr(
                        "cast(cast(cast(n as decimal(38,0)) * sxx - sx * sx"
                        " as string) as double)"
                    )
                )
                * F.sqrt(
                    F.expr(
                        "cast(cast(cast(n as decimal(38,0)) * syy - sy * sy"
                        " as string) as double)"
                    )
                )
            )
        )
        .alias("r"),
    )


def sql_degree_assortativity(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`degree_assortativity`."""
    return f"""
    WITH rawe AS ({edges_cte}),
    e AS (SELECT DISTINCT src, dst FROM rawe
          WHERE src IS NOT NULL AND dst IS NOT NULL),
    outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS x FROM e GROUP BY 1),
    ind AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS y FROM e GROUP BY 1),
    pe AS (
      SELECT o.x, i.y, e.src, e.dst
      FROM e JOIN outd o ON e.src = o.src JOIN ind i ON e.dst = i.dst),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
             CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pe)
    SELECT n AS n_edges, n_src AS n_sources, n_dst AS n_destinations,
           CASE WHEN n > 0 THEN
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           END AS mean_out,
           CASE WHEN n > 0 THEN
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           END AS mean_in,
           CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0
                  OR CAST(n AS HUGEINT) * syy - sy * sy = 0
                  OR n = 0 THEN NULL
                ELSE CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
                               AS VARCHAR) AS DOUBLE)
                     / (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                       AS VARCHAR) AS DOUBLE))
                        * SQRT(CAST(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                          AS VARCHAR) AS DOUBLE)))
           END AS r
    FROM m
    """


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity: the fraction of edges whose reverse
    edge also exists (Garlaschelli & Loffredo 2004) — on an
    interaction graph this is the mutual-relationship rate; on a
    commerce graph wired purchase-forward / return-backward it is the
    exact "bought AND came back the other way" rate the returns desk
    watches. Self-loops are excluded (trivially reciprocal).

    Exactness: one distinct edge pass, one self-LEFT-SEMI-join on the
    reversed key, exact counts, one integer floor division
    (reciprocity in ppm). An empty graph yields one row of zeros with
    NULL reciprocity (lazy CASE).

    Output: ONE row (n_edges, n_reciprocated, reciprocity_ppm).

    Scale shape: distinct collapse (map-side combinable), one
    equi-join on (dst, src) against itself, a 1-row reduce — the
    join is the edge list against the edge list on a both-sides-keyed
    equi condition; AQE handles hub skew the usual way."""
    d38 = "decimal(38,0)"
    # e feeds three consumers (semi-join probe, reversed build side,
    # edge total); a lineage cut here was measured and REJECTED — at
    # bench scale the three branches overlap as concurrent stages and
    # the eager materialization serialized them (solo min-of-3 twice:
    # 2.7→3.0 s and 3.2→3.9 s) — see degree_assortativity for the
    # same-shape site where the cut DID win.
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    recip = e.join(rev, ["a", "b"], "left_semi")
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    rc = recip.agg(
        F.count(F.lit(1)).cast("long").alias("n_reciprocated")
    )
    return tot.crossJoin(F.broadcast(rc)).select(
        "n_edges",
        "n_reciprocated",
        F.when(
            F.col("n_edges") > 0,
            F.expr(
                f"cast(cast(n_reciprocated as {d38}) * 1000000"
                " div n_edges as long)"
            ),
        ).alias("reciprocity_ppm"),
    )


def sql_reciprocity(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`reciprocity`. ``edges_cte`` must
    yield (src, dst) rows."""
    return f"""
    WITH rawe AS ({edges_cte}),
    e AS (SELECT DISTINCT src AS a, dst AS b FROM rawe
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
    recip AS (
      SELECT COUNT(*) AS n_reciprocated FROM e
      WHERE EXISTS (SELECT 1 FROM e r WHERE r.a = e.b AND r.b = e.a)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_edges, CAST(n_reciprocated AS BIGINT) AS n_reciprocated,
           CASE WHEN n_edges > 0 THEN
             CAST(CAST(n_reciprocated AS HUGEINT) * 1000000 // n_edges
                  AS BIGINT) END AS reciprocity_ppm
    FROM tot CROSS JOIN recip
    """


#: HITS fixed-point scale: scores live in [0, 2^20] after each L1
#: normalization, so an edge-sum round holds Σ ≤ E · 2^20 (BIGINT to
#: E ≈ 2^43 edges) and the normalization product raw · 2^20 runs in
#: DECIMAL(38,0)/HUGEINT — headroom at any corpus size
HITS_SCALE = 1 << 20


def _hits_half_round(
    e: DataFrame, s: DataFrame, on: str, to: str
) -> tuple[DataFrame, DataFrame]:
    """One HITS half-round: raw(v) = Σ s over the edges joined on
    ``on`` and grouped by ``to``, pinned, then L1-normalized to (v, s)
    with Σs ≈ HITS_SCALE: s = raw·2^20 div Σraw — exact integer floor
    division on both engines (all-zero total ⇒ all zeros by contract,
    never a divide by zero). Returns (raw checkpoint, normalized lazy
    projection over it). Σraw is read driver-side from an Observation
    riding the raw frame's own checkpoint materialization (r12) — the
    former 1-row-aggregate + broadcast crossJoin form computed the
    identical integers but re-executed the edge-join-plus-sum subtree
    on both branches, doubling the per-half-round edge work."""
    raw, m = pin_observed(
        e.join(s.select(F.col("v").alias(on), "s"), on)
        .groupBy(F.col(to).alias("v"))
        .agg(F.sum("s").cast("long").alias("raw")),
        F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("t"),
    )
    t = m["t"]
    if t > 0:
        norm = F.expr(
            f"cast(cast(raw as decimal(38,0)) * {HITS_SCALE} div {t}"
            " as long)"
        )
    else:
        norm = F.lit(0).cast("long")
    return raw, raw.select("v", norm.alias("s"))


def hits_scores(edges: DataFrame, *, iterations: int = 3) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, "Authoritative sources in
    a hyperlinked environment", JACM 1999) over a directed edge list —
    the OTHER eigenvector centrality beside :func:`pagerank`: PageRank
    scores a node by the rank of who points AT it; HITS separates the
    two roles, scoring pointers (hubs) by the authority of what they
    point at and targets (authorities) by the hub quality of who
    points at them — the natural shape for bipartite-ish interaction
    graphs (buyers↔products, queries↔documents) where "influential"
    means different things on the two sides.

    Fixed-iteration mutual power iteration in exact integer fixed
    point (the :func:`pagerank` discipline): h⁰(v) = 2^20 uniform;
    each round a_raw(v) = Σ_{(u,v)∈E} h(u) then L1-normalizes to
    a = a_raw·2^20 div Σa_raw, and h_raw(u) = Σ_{(u,v)∈E} a(v)
    normalizes the same way — every step BIGINT sums and one exact
    integer floor division (never a float), so the DuckDB oracle
    replays every round bit-for-bit as unrolled CTEs
    (:func:`sql_hits_scores`). L1 replaces the textbook L2
    normalization (a transcendental-free choice that preserves the
    RANKING — both are positive-scalar rescalings of the same
    iterate); duplicate edges collapse; nodes with no in-edges hold
    authority 0, no out-edges hub 0; an edgeless input yields an
    empty frame (no nodes to score).

    Output per node: (node, hub_fx, auth_fx, hub, auth) — fx the
    integer scores, hub/auth their 2^-20 doubles (one power-of-two
    divide).

    Scale shape: per round, two edge-map joins + two combinable
    dst/src-keyed sums + two 1-row reductions broadcast back — edge
    traffic 2·E rows per round, state one node-sized frame. Rounds
    checkpoint eagerly with superseded checkpoints released (the
    iterative-family block-manager hygiene); a completed call retains
    ONE node-sized block (the final scores — the :func:`pagerank`
    discipline). ``iterations`` must be ≥ 1 (there is no meaningful
    0-round HITS state — the uniform init is a hub-only frame)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = _directed_edges(edges)
    nodes = _nodes(e)
    h_ck = pin(nodes.select("v", F.lit(HITS_SCALE).cast("long").alias("s")))
    h = h_ck
    a_ck = None
    # per half-round the RAW edge sum is checkpointed with the L1 total
    # riding the same materialization as an Observation; normalization
    # is then a lazy projection over the checkpointed blocks with the
    # total as a literal — one edge join per half-round instead of two
    # (the former broadcast-total crossJoin re-ran the edge sum on its
    # aggregate branch), and no extra job for the total (r12).
    for _ in range(iterations):
        prev_ck = a_ck
        a_ck, a = _hits_half_round(e, h, "src", "dst")
        release(prev_ck)
        prev_ck = h_ck
        h_ck, h = _hits_half_round(e, a, "dst", "src")
        release(prev_ck)
    out = pin(
        nodes.join(h.withColumnRenamed("s", "h"), "v", "left")
        .join(a.withColumnRenamed("s", "a"), "v", "left")
        .select(
            F.col("v").alias("node"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_fx"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_fx"),
        )
    )
    release(e, nodes, h_ck, a_ck)
    return out.select(
        "node",
        "hub_fx",
        "auth_fx",
        (F.col("hub_fx").cast("double") / HITS_SCALE).alias("hub"),
        (F.col("auth_fx").cast("double") / HITS_SCALE).alias("auth"),
    )


def sql_hits_scores(edges_cte: str, *, iterations: int = 3) -> str:
    """DuckDB oracle twin of :func:`hits_scores`: the same integer
    rounds as unrolled CTEs. Caller appends its ORDER BY."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    norm = (
        f"CASE WHEN t > 0 THEN CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}"
        " // t AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    ctes = [
        f"rawe AS ({edges_cte})",
        "e AS (SELECT DISTINCT src, dst FROM rawe"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT DISTINCT v FROM"
        " (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e))",
        f"h0 AS (SELECT v, CAST({HITS_SCALE} AS BIGINT) AS s FROM nodes)",
    ]
    for i in range(iterations):
        ctes.append(
            f"""ar{i} AS (
              SELECT e.dst AS v, CAST(SUM(h.s) AS BIGINT) AS raw
              FROM e JOIN h{i} h ON h.v = e.src GROUP BY 1)"""
        )
        ctes.append(
            f"at{i} AS (SELECT COALESCE(CAST(SUM(raw) AS BIGINT), 0) AS t"
            f" FROM ar{i})"
        )
        ctes.append(
            f"a{i} AS (SELECT v, {norm} AS s FROM ar{i} CROSS JOIN at{i})"
        )
        ctes.append(
            f"""hr{i} AS (
              SELECT e.src AS v, CAST(SUM(a.s) AS BIGINT) AS raw
              FROM e JOIN a{i} a ON a.v = e.dst GROUP BY 1)"""
        )
        ctes.append(
            f"ht{i} AS (SELECT COALESCE(CAST(SUM(raw) AS BIGINT), 0) AS t"
            f" FROM hr{i})"
        )
        ctes.append(
            f"h{i + 1} AS (SELECT v, {norm} AS s FROM hr{i} CROSS JOIN ht{i})"
        )
    last = iterations - 1
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT n.v AS node,
               COALESCE(h.s, 0) AS hub_fx,
               COALESCE(a.s, 0) AS auth_fx,
               CAST(COALESCE(h.s, 0) AS DOUBLE) / {HITS_SCALE} AS hub,
               CAST(COALESCE(a.s, 0) AS DOUBLE) / {HITS_SCALE} AS auth
               FROM nodes n
               LEFT JOIN h{iterations} h ON h.v = n.v
               LEFT JOIN a{last} a ON a.v = n.v"""
    )


def modularity(edges: DataFrame, *, rounds: int) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    "are these communities real" score the detection step itself
    can't provide (Newman & Girvan 2004): Q = Σ_c [L_c/m − (D_c/2m)²]

    Bench note (round-11 adjudication of the r9→r10 9.3→11.4 s drift,
    sf0.1 local[32] idle host, fresh process each, gc between reps):
    SOLO min-of-3 = 11.85 s (reps 23.9/12.3/11.9) — matching the r10
    full-suite 11.4 s, so r10 IS the steady state and r9's lower
    number was favorable context; run in the same session AFTER
    graph_label_propagation the same binary measures 17.6 s min-of-3
    (predecessor session residue — released checkpoint/broadcast
    blocks reap asynchronously). Per-query numbers for this family
    carry ±30-50% session-context noise that min-of-2 cannot remove;
    compare rounds only against solo fresh-process measurements. Code
    untouched since r8.
    with m the undirected edge count, L_c community c's internal
    edges, D_c its degree mass. Q ≈ 0 says the partition is no better
    than random wiring; Q ≳ 0.3 says real structure. Per-community
    contributions show WHICH communities carry the structure.

    Exactness: over the common denominator 4m² the contribution is
    the EXACT integer (4·m·L_c − D_c²) — DECIMAL(38,0)/HUGEINT
    products (headroom to m ≈ 10^12 edges) summed exactly; the ONLY
    float is one string-routed divide by 4m² per output row. The
    partition comes from :func:`label_propagation` (fully
    deterministic LPA), so the whole chain is oracle-replayable.

    Output: one row per community (community, n_nodes, degree_sum,
    internal_edges, q_contrib) plus the '__total__' row whose
    q_contrib IS the partition's modularity Q. Self-loops and NULL
    endpoints drop (the LPA contract); an edgeless graph returns only
    the '__total__' row with zeros and NULL Q.

    Scale shape: the canonical edge list checkpoints once and feeds
    the edge count, the degree count, and the within-community join
    (two broadcast-able label lookups); everything else is combinable
    label-sized aggregation. The LPA rounds dominate — modularity
    adds one edge-sized join pass. Measured at sf0.1 in the full-suite
    min-of-2 bench: 9.9 s, vs 6.7 s for the bare LPA query on the same
    graph (both under local[32] full-suite contention)."""
    ce = pin(_canonical_edges(edges))
    lbl = label_propagation(edges, rounds=rounds)
    m = ce.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        ce.select(F.col("a").alias("node"))
        .unionAll(ce.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dc = (
        deg.join(lbl, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    lc = (
        ce.join(lbl.select(F.col("node").alias("a"), F.col("label").alias("la")), "a")
        .join(lbl.select(F.col("node").alias("b"), F.col("label").alias("lb")), "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_c"))
    )
    d38 = "decimal(38,0)"
    per = pin(
        dc.join(lc, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("label").cast("string").alias("community"),
            "n_nodes",
            F.col("d_c").alias("degree_sum"),
            F.coalesce(F.col("l_c"), F.lit(0)).cast("long").alias(
                "internal_edges"
            ),
            F.expr(
                "cast(4 * cast(m as decimal(38,0)) * coalesce(l_c, 0)"
                " - cast(d_c as decimal(38,0)) * d_c as decimal(38,0))"
            ).alias("num"),
            "m",
        ),
        eager=False,
    )
    q = F.when(
        F.col("m") > 0,
        F.expr("cast(cast(num as string) as double)")
        / (F.lit(4.0) * F.col("m").cast("double") * F.col("m").cast("double")),
    ).otherwise(F.lit(None).cast("double"))
    rows = per.select(
        "community", "n_nodes", "degree_sum", "internal_edges",
        q.alias("q_contrib"),
    )
    tot = (
        per.agg(
            F.coalesce(F.sum("n_nodes"), F.lit(0)).cast("long").alias(
                "n_nodes"
            ),
            F.coalesce(F.sum("degree_sum"), F.lit(0)).cast("long").alias(
                "degree_sum"
            ),
            F.coalesce(F.sum("internal_edges"), F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            F.coalesce(F.sum("num"), F.lit(0).cast(d38))
            .cast(d38)
            .alias("num"),
            F.max("m").alias("m"),
        )
        .select(
            F.lit("__total__").alias("community"),
            "n_nodes",
            "degree_sum",
            "internal_edges",
            q.alias("q_contrib"),
        )
    )
    empty_total = m.where(F.col("m") == 0).select(
        F.lit("__total__").alias("community"),
        F.lit(0).cast("long").alias("n_nodes"),
        F.lit(0).cast("long").alias("degree_sum"),
        F.lit(0).cast("long").alias("internal_edges"),
        F.lit(None).cast("double").alias("q_contrib"),
    )
    nonempty_total = tot.where(F.col("n_nodes") > 0)
    return rows.unionAll(nonempty_total).unionAll(empty_total)


def sql_modularity(edges_cte: str, *, rounds: int) -> str:
    """DuckDB oracle twin of :func:`modularity` (the LPA oracle rides
    inside as a subquery)."""
    lpa = sql_label_propagation(edges_cte, rounds=rounds)
    return f"""
    WITH rawe2 AS ({edges_cte}),
    ce AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM rawe2
      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
    lbl AS (SELECT * FROM ({lpa}) t),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ce),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM ce UNION ALL SELECT b AS node FROM ce)
      GROUP BY 1),
    dc AS (
      SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d.d) AS BIGINT) AS d_c
      FROM deg d JOIN lbl l ON l.node = d.node GROUP BY 1),
    lc AS (
      SELECT la.label, CAST(COUNT(*) AS BIGINT) AS l_c
      FROM ce
      JOIN lbl la ON la.node = ce.a
      JOIN lbl lb ON lb.node = ce.b
      WHERE la.label = lb.label GROUP BY 1),
    per AS (
      SELECT dc.label, dc.n_nodes, dc.d_c,
             COALESCE(lc.l_c, 0) AS l_c,
             CAST(4 * CAST(mm.m AS HUGEINT) * COALESCE(lc.l_c, 0)
                  - CAST(dc.d_c AS HUGEINT) * dc.d_c AS HUGEINT) AS num,
             mm.m
      FROM dc LEFT JOIN lc ON lc.label = dc.label CROSS JOIN mm),
    rows_out AS (
      SELECT CAST(label AS VARCHAR) AS community, n_nodes,
             d_c AS degree_sum, l_c AS internal_edges,
             CASE WHEN m > 0 THEN
               CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) END
               AS q_contrib
      FROM per
      UNION ALL
      SELECT '__total__', CAST(COALESCE(SUM(n_nodes), 0) AS BIGINT),
             CAST(COALESCE(SUM(d_c), 0) AS BIGINT),
             CAST(COALESCE(SUM(l_c), 0) AS BIGINT),
             CASE WHEN MAX(m) > 0 THEN
               CAST(CAST(CAST(COALESCE(SUM(num), 0) AS HUGEINT)
                         AS VARCHAR) AS DOUBLE)
               / (4.0 * CAST(MAX(m) AS DOUBLE) * CAST(MAX(m) AS DOUBLE))
               END
      FROM per HAVING COUNT(*) > 0
      UNION ALL
      SELECT '__total__', 0, 0, 0, NULL
      FROM mm WHERE m = 0)
    SELECT * FROM rows_out
    """
