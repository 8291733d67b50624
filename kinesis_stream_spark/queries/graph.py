"""Graph query inventory: PageRank over the purchase graph.

The edge extraction is the heavy part at scale — a fact-to-fact join
(lineitem ⋈ orders) distilled to distinct customer→supplier edges —
and the iteration is the new algorithmic surface: fixed-round integer
power iteration whose every step the DuckDB oracle replays (unrolled
CTEs). Suppliers are pure sinks in this graph (no out-edges), so the
dangling-mass path is exercised on every round, not just in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.graph import (
    bfs_hops,
    cheapest_path,
    degree_assortativity,
    degree_profile,
    hits_scores,
    kcore,
    label_propagation,
    link_prediction_ra,
    modularity,
    pagerank,
    personalized_pagerank,
    reciprocity,
    sql_bfs_hops,
    sql_cheapest_path,
    sql_degree_assortativity,
    sql_degree_profile,
    sql_hits_scores,
    sql_kcore,
    sql_label_propagation,
    sql_link_prediction_ra,
    sql_modularity,
    sql_pagerank,
    sql_personalized_pagerank,
    sql_reciprocity,
    sql_triangle_stats,
    triangle_stats,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)

ITERATIONS = 3

_EDGES_CTE = """
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer→supplier purchase edges — the Spark twin of
    ``_EDGES_CTE``, shared by every query over this graph so the edge
    derivation (and its sync with the oracle CTE) lives in one place.
    Node ids are type-prefixed strings ('c…'/'s…') because customer
    and supplier keys share a numeric range."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )


@_q(
    "graph_pagerank_purchases",
    sql_pagerank(_EDGES_CTE, iterations=ITERATIONS)
    + " ORDER BY rank_fx DESC, node",
)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph — who holds
    the demand-weighted influence. Node ids are type-prefixed strings
    ('c…'/'s…') because customer and supplier keys share a numeric
    range. The extraction join is the only corpus-sized work; each of
    the 3 power-iteration rounds is one edge-map + dst-keyed sum with
    the corpus-independent mass bound (operators/graph.py)."""
    return pagerank(_purchase_edges(spark, sf_dir), iterations=ITERATIONS).orderBy(
        F.desc("rank_fx"), F.asc("node")
    )


@_q(
    "graph_hits_scores",
    sql_hits_scores(_EDGES_CTE, iterations=ITERATIONS)
    + " ORDER BY auth_fx DESC, hub_fx DESC, node",
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the purchase graph — the
    two-role centrality PageRank can't express on a bipartite-ish
    graph: customers score as hubs (do they buy from authoritative
    suppliers?), suppliers as authorities (do strong buyers buy from
    them?). Three integer fixed-point mutual power-iteration rounds,
    every step replayed by the oracle's unrolled CTEs
    (operators/graph.py)."""
    return hits_scores(
        _purchase_edges(spark, sf_dir), iterations=ITERATIONS
    ).orderBy(F.desc("auth_fx"), F.desc("hub_fx"), F.asc("node"))


_KCORE_K, _KCORE_ROUNDS = 40, 3


@_q(
    "graph_kcore_purchases",
    sql_kcore(_EDGES_CTE, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    + " ORDER BY node",
)
def graph_kcore_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the customer↔supplier purchase graph (k = 40, 3 peel
    rounds): the buyers and suppliers still mutually dense after
    low-degree nodes cascade out — the dense-subgraph extraction that
    complements PageRank's per-node scores. Fixed-round peeling with
    integer degrees only; the oracle unrolls the identical rounds
    (operators/graph.py)."""
    return kcore(
        _purchase_edges(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    ).orderBy("node")


_LPA_ROUNDS = 3


@_q(
    "graph_label_propagation",
    sql_label_propagation(_EDGES_CTE, rounds=_LPA_ROUNDS)
    + " ORDER BY node",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-round label propagation over the
    customer↔supplier purchase graph — which demand communities
    emerge when every node adopts its neighbors' majority label
    (ties to the smallest label). Three semi-synchronous rounds,
    integer counts and string min-aggregates only (operator
    docstring)."""
    return label_propagation(
        _purchase_edges(spark, sf_dir), rounds=_LPA_ROUNDS
    ).orderBy("node")


_TRI_MIN_SUPPORT = 5

_COPURCHASE_CTE = f"""
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MIN_SUPPORT}
"""


@_q(
    "graph_triangles_copurchase",
    sql_triangle_stats(_COPURCHASE_CTE) + " ORDER BY node",
)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts and local clustering coefficient
    over the co-purchase graph (suppliers appearing together in >= 5
    DISTINCT shared orders — COUNT(DISTINCT orderkey) support, so a
    supplier shipping several lineitems inside one order can't inflate
    the pair past the threshold) — how clique-ish each supplier's
    neighborhood is. The support threshold is the density knob that
    keeps the edge set sparse as order volume grows; triangles
    enumerate once each via the id-ordered three-way join (operator
    docstring)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.countDistinct("a.l_orderkey").alias("n_orders"))
        .where(F.col("n_orders") >= _TRI_MIN_SUPPORT)
        .select("src", "dst")
    )
    return triangle_stats(edges).orderBy("node")


_BFS_ROUNDS = 3

_BFS_SOURCES_CTE = """
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node
  FROM customer WHERE c_custkey % 97 = 0
"""


@_q(
    "graph_bfs_hops",
    sql_bfs_hops(_EDGES_CTE, _BFS_SOURCES_CTE, rounds=_BFS_ROUNDS)
    + " ORDER BY node",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the purchase graph: hop distance from a
    deterministic seed cohort (every 97th customer) — the k-hop
    blast-radius query (1 hop = the cohort's suppliers, 2 = co-buying
    customers, 3 = THEIR suppliers). Fixed 3 relaxation rounds with
    min-distance semantics; the oracle unrolls the identical rounds
    (operator docstring)."""
    sources = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 97 == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return bfs_hops(
        _purchase_edges(spark, sf_dir), sources, rounds=_BFS_ROUNDS
    ).orderBy("node")


@_q(
    "graph_ppr_seed_cohort",
    sql_personalized_pagerank(_EDGES_CTE, _BFS_SOURCES_CTE, iterations=ITERATIONS)
    + " ORDER BY rank_fx DESC, node",
)
def graph_ppr_seed_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the same seed cohort as the BFS query
    (every 97th customer): graph-proximity recommendation scores —
    suppliers and co-buying customers ranked by closeness to the
    cohort, with teleport and dangling mass returning to the seeds.
    Exact integer power iteration, mass-conserving at any N (operator
    docstring)."""
    sources = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 97 == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return personalized_pagerank(
        _purchase_edges(spark, sf_dir), sources, iterations=ITERATIONS
    ).orderBy(F.desc("rank_fx"), F.asc("node"))


_WEDGES_CTE = """
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
         MIN(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
"""


@_q(
    "graph_cheapest_path",
    sql_cheapest_path(_WEDGES_CTE, _BFS_SOURCES_CTE, rounds=_BFS_ROUNDS)
    + " ORDER BY node",
)
def graph_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source cheapest path over the purchase graph with edge
    weights = the cheapest lineitem (integer cents) between that
    customer and supplier: the weighted companion of graph_bfs_hops —
    "how cheaply can the seed cohort reach each node in ≤ 3 edge
    steps". Bellman-Ford relaxation, exact BIGINT costs; the oracle
    unrolls the identical rounds (operator docstring). The cents
    encoding is FLOOR(price·100 + 0.5) — one deterministic IEEE
    multiply+add, identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
            ).alias("w")
        )
    )
    sources = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 97 == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
        )
    )
    return cheapest_path(edges, sources, rounds=_BFS_ROUNDS).orderBy("node")


_RA_CAP, _RA_MIN_COMMON, _RA_TOP_K = 20, 2, 30


@_q(
    "graph_link_prediction",
    sql_link_prediction_ra(
        _EDGES_CTE,
        max_intermediate_degree=_RA_CAP,
        min_common=_RA_MIN_COMMON,
        top_k=_RA_TOP_K,
    ),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction over the purchase graph:
    score supplier pairs by shared customers weighted 1/deg (integer
    ⌊10^6/deg⌋ quanta — exact BIGINT sums), intermediates capped at
    degree ≤ 20 so the pair frame stays linear in the corpus (the
    max_df discipline; hubs contribute ~0 score and deg² rows).
    Top-30 predicted supplier-supplier links (operators/graph.py)."""
    return link_prediction_ra(
        _purchase_edges(spark, sf_dir),
        max_intermediate_degree=_RA_CAP,
        min_common=_RA_MIN_COMMON,
        top_k=_RA_TOP_K,
    )


@_q(
    "graph_degree_profile",
    sql_degree_profile(_EDGES_CTE) + " ORDER BY role, bucket",
)
def graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the purchase graph, per
    role (customer out-degree / supplier in-degree) — the tail-heaviness
    readout every skew guard here keys off; buckets from bit length
    (no log), integer shares (operators/graph.py)."""
    return degree_profile(_purchase_edges(spark, sf_dir)).orderBy(
        "role", "bucket"
    )


@_q(
    "graph_assortativity",
    sql_degree_assortativity(_EDGES_CTE),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the purchase graph — do high-volume
    customers buy from high-volume suppliers? One Pearson r over
    edges (exact HUGEINT moments, two sqrts + one divide), the
    partition-strategy telltale next to the degree profile
    (operators/graph.py)."""
    return degree_assortativity(_purchase_edges(spark, sf_dir))


#: purchase-forward / return-backward edges: c→s for every purchase,
#: s→c where goods flowed back (l_returnflag = 'R') — reciprocity is
#: then the exact "bought AND returned the other way" rate
_RECIP_EDGES_CTE = """
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 's' || CAST(l.l_suppkey AS VARCHAR) AS src,
         'c' || CAST(o.o_custkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
"""


@_q("graph_reciprocity", sql_reciprocity(_RECIP_EDGES_CTE))
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the purchase/return flow graph — the exact rate
    of customer↔supplier relationships with goods moving BOTH ways;
    one reversed-key semi join over distinct edges, integer ppm
    (operators/graph.py)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    fwd = j.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    back = j.where(F.col("l_returnflag") == "R").select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    return reciprocity(fwd.unionAll(back))


@_q(
    "graph_modularity",
    sql_modularity(_EDGES_CTE, rounds=_LPA_ROUNDS)
    + " ORDER BY community",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities on the
    purchase graph — are the detected demand communities real
    structure or random wiring: exact integer contributions
    (4mL_c − D_c²) over the common 4m² denominator, one pinned divide
    per row, '__total__' = Q (operators/graph.py)."""
    return modularity(
        _purchase_edges(spark, sf_dir), rounds=_LPA_ROUNDS
    ).orderBy("community")
