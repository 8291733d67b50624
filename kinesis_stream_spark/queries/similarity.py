"""Similarity-search query inventory (embeddings table, 64-dim float).

Query vectors are the corpus rows with ``vec_id < 5`` (deterministic, no
external fixtures). Oracles replay the identical algorithm in DuckDB —
including the LSH signatures and IVF routing, possible because planes and
centroids are derived deterministically (md5 parity / exact-decimal means),
never from an RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import sql_md5_int64
from kinesis_stream_spark.functions.vectors import sql_cosine, sql_dot
from kinesis_stream_spark.operators.similarity import (
    ann_recall,
    cluster_balance,
    ivf_recall_sweep,
    kmeans_fit,
    plane_signs,
    range_search,
    semantic_dedup,
    topk_bruteforce,
    topk_ivf,
    topk_ivf_trained,
    topk_lsh,
    topk_sq8,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._emb_family import DIM, emb_scan, guard_oracles, queries_df

QUERIES = {}
ORACLE = {}

N_QUERIES = 5
K = 10

_q = make_q(QUERIES, ORACLE)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan behind the validity guard (see valid_vector):
    corrupt vectors are excluded at the edge on BOTH engines."""
    return emb_scan(spark, sf_dir, DIM)


def _queries_df(emb: DataFrame) -> DataFrame:
    return queries_df(emb, N_QUERIES)


@_q(
    "similarity_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_cosine('q.qv', 'e.embedding')} AS cosine
      FROM embeddings e JOIN q ON e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast queries × corpus scan, window top-k.
    The 100 TB plan: map-side scoring (no shuffle for the join), one
    shuffle on query_id for the k-selection."""
    emb = _emb(spark, sf_dir)
    return topk_bruteforce(emb, _queries_df(emb), k=K).orderBy("query_id", "rank")


def _sql_signature() -> str:
    """DuckDB replay of hyperplane_signature: left-assoc ±1 dot folds."""
    bits = []
    for signs in plane_signs(DIM):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {signs[i]:.1f}" for i in range(DIM)
        )
        bits.append(f"CASE WHEN (0.0 + {terms}) >= 0 THEN '1' ELSE '0' END")
    return "CONCAT(" + ", ".join(bits) + ")"


@_q(
    "similarity_topk_lsh",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_sql_signature()} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM sig
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, s.vec_id AS neighbor_id,
             {sql_cosine('q.qv', 's.embedding')} AS cosine
      FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id != q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: candidates share an 8-bit signature bucket
    (≈1/256 of pairs scored), exact cosine re-ranks. The oracle replays
    the same deterministic planes, so approximation error matches exactly."""
    emb = _emb(spark, sf_dir)
    return topk_lsh(emb, _queries_df(emb), k=K, dim=DIM).orderBy(
        "query_id", "rank"
    )


# DuckDB twins of operators/similarity.py's CENTROID_SCALE fixed point:
# floor(x * 1e12) summed as exact integers (DuckDB SUM(BIGINT) widens to
# HUGEINT; Spark accumulates DECIMAL(38,0) — both exact, and both casts
# to DOUBLE are correctly rounded from the same integer), then the same
# two sequential IEEE divides for the mean.
_CSCALE = "1000000000000.0"


def _sql_centroid_sums() -> str:
    return ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * {_CSCALE}) AS BIGINT))"
        f" AS s{i}"
        for i in range(DIM)
    )


def _sql_centroid_mean(i: int) -> str:
    return f"CAST(s{i} AS DOUBLE) / {_CSCALE} / n"


def _sql_centroids() -> str:
    elems = ", ".join(_sql_centroid_mean(i) for i in range(DIM))
    return f"""
      SELECT label, [{elems}] AS centroid
      FROM (SELECT label, COUNT(*) AS n, {_sql_centroid_sums()}
            FROM embeddings GROUP BY label)
    """


def _sql_ivf_topk(nprobe: int) -> str:
    """DuckDB replay of topk_ivf at a given nprobe (label centroids as
    the coarse quantizer)."""
    return f"""
    WITH cents AS ({_sql_centroids()}),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    routed AS (
      SELECT q.query_id, q.qv, c.label,
             {sql_dot('q.qv', 'c.centroid')} AS score
      FROM q CROSS JOIN cents c
    ),
    probes AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, label) AS pr
        FROM routed
      ) WHERE pr <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             {sql_cosine('p.qv', 'e.embedding')} AS cosine
      FROM embeddings e JOIN probes p ON e.label = p.label
      WHERE e.vec_id != p.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """


@_q("similarity_topk_ivf", _sql_ivf_topk(2))
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: per-label centroids (exact-decimal means) as the coarse
    quantizer; each query probes its 2 best partitions and scans only
    those — the partition-pruning scale path."""
    emb = _emb(spark, sf_dir)
    return topk_ivf(emb, _queries_df(emb), k=K, nprobe=2, dim=DIM).orderBy(
        "query_id", "rank"
    )


_RECALL_SQL = f"""
    WITH exact AS (SELECT query_id, neighbor_id
                   FROM ({ORACLE["similarity_topk_bruteforce"]})),
         approx AS (SELECT query_id, neighbor_id
                    FROM ({ORACLE["similarity_topk_lsh"]})),
         hits AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
                  FROM approx JOIN exact USING (query_id, neighbor_id)
                  GROUP BY query_id),
         totals AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
                    FROM exact GROUP BY query_id)
    SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_exact AS recall
    FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
    ORDER BY t.query_id
"""


@_q("similarity_ann_recall", _RECALL_SQL)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH path against the exact brute-force baseline —
    the quality gauge for the ANN knobs (signature bits here; nprobe for
    IVF). Both rankings are deterministic on both engines, so the oracle
    replays the *measurement*, not just the inputs. The recall join
    itself is O(k·Q) — noise next to producing the rankings."""
    emb = _emb(spark, sf_dir)
    q = _queries_df(emb)
    exact = topk_bruteforce(emb, q, k=K)
    approx = topk_lsh(emb, q, k=K, dim=DIM)
    return ann_recall(approx, exact, k=K).orderBy("query_id")


def _kmeans_ctes(k: int = 4, iterations: int = 2) -> list[str]:
    """Shared CTE chain replaying kmeans_fit in DuckDB: md5-seeded init,
    then `iterations` unrolled Lloyd rounds (fixed-point dots for
    assignment, floor-fixed-point means for the update), same tie-breaks.
    Ends with ``c{iterations}`` (final centroids) and ``m{iterations-1}``
    (final members + sums)."""
    md5i = sql_md5_int64("CAST(vec_id AS VARCHAR)")
    sums = _sql_centroid_sums()
    means = ", ".join(_sql_centroid_mean(i) for i in range(DIM))
    score = (
        f"(2 * {sql_dot('e.embedding', 'c.centroid')}"
        f" - {sql_dot('c.centroid', 'c.centroid')})"
    )
    ctes = [
        f"""seeds AS (
          SELECT embedding AS centroid, {md5i} AS h, vec_id
          FROM embeddings ORDER BY h, vec_id LIMIT {k}
        )""",
        f"""c0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid, centroid
          FROM seeds
        )""",
    ]
    for it in range(iterations):
        ctes.append(
            f"""a{it} AS (
              SELECT e.vec_id, e.embedding, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                        ORDER BY {score} DESC, c.cid) AS rn
              FROM embeddings e CROSS JOIN c{it} c
            )"""
        )
        ctes.append(
            f"""m{it} AS (
              SELECT cid, COUNT(*) AS n, {sums}
              FROM (SELECT cid, embedding FROM a{it} WHERE rn = 1)
              GROUP BY cid
            )"""
        )
        ctes.append(f"c{it + 1} AS (SELECT cid, [{means}] AS centroid FROM m{it})")
    return ctes


def _sql_kmeans(k: int = 4, iterations: int = 2) -> str:
    ctes = _kmeans_ctes(k, iterations)
    last = f"m{iterations - 1}"
    checksum = ", ".join(
        f"CAST(FLOOR(({_sql_centroid_mean(i)}) * 1048576) AS BIGINT)"
        for i in range(DIM)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT cid, CAST(n AS BIGINT) AS n_members,
           CAST(FLOOR(({_sql_centroid_mean(0)}) * 1048576) AS BIGINT) AS c_first,
           MD5(CONCAT_WS(',', {checksum})) AS centroid_md5
    FROM {last}
    ORDER BY cid
    """


@_q("similarity_kmeans_fit", _sql_kmeans())
def similarity_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline coarse-quantizer training for IVF: deterministic
    (md5-seeded) Lloyd's k-means, 2 fixed rounds, k=4. The oracle
    replays the whole algorithm — seeding, fixed-point assignment with
    tie-breaks, exact-decimal means — so parity covers the training
    computation, not just shapes. Centroids are summarized as
    fixed-point checksums (floor(dim * 2^20): identical IEEE multiply +
    floor on both engines)."""
    emb = _emb(spark, sf_dir)
    fitted = kmeans_fit(emb, k=4, dim=DIM, iterations=2)
    fixed = F.transform(
        F.col("centroid"), lambda x: F.floor(x * 1048576).cast("long")
    )
    return (
        fitted.select(
            "cid",
            "n_members",
            F.element_at(fixed, 1).alias("c_first"),
            F.md5(
                F.concat_ws(",", F.transform(fixed, lambda x: x.cast("string")))
            ).alias("centroid_md5"),
        )
        .orderBy("cid")
    )


def _sql_assigned_cte(cfinal: str) -> str:
    """DuckDB twin of assign_to_centroids over the ``cfinal`` centroids."""
    score = (
        f"(2 * {sql_dot('e.embedding', 'c.centroid')}"
        f" - {sql_dot('c.centroid', 'c.centroid')})"
    )
    return f"""assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {score} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {cfinal} c)
      WHERE rn = 1
    )"""


def _sql_ivf_trained(k_clusters: int = 4, iterations: int = 2, nprobe: int = 2) -> str:
    ctes = _kmeans_ctes(k_clusters, iterations)
    cfinal = f"c{iterations}"
    qscore = (
        f"(2 * {sql_dot('q.qv', 'c.centroid')}"
        f" - {sql_dot('c.centroid', 'c.centroid')})"
    )
    ctes.extend(
        [
            _sql_assigned_cte(cfinal),
            f"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES})""",
            f"""probes AS (
          SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {qscore} DESC, c.cid) AS pr
            FROM q CROSS JOIN {cfinal} c)
          WHERE pr <= {nprobe}
        )""",
            f"""scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 {sql_cosine('p.qv', 'a.embedding')} AS cosine
          FROM assigned a JOIN probes p
            ON a.cid = p.cid AND a.vec_id != p.query_id
        )""",
            """ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )""",
        ]
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """


_SWEEP_NPROBES = (1, 2, 4)


def _sql_nprobe_sweep() -> str:
    approx_ctes = ", ".join(
        f"a{n} AS (SELECT query_id, neighbor_id FROM ({_sql_ivf_topk(n)}))"
        for n in _SWEEP_NPROBES
    )
    rows = " UNION ALL ".join(
        f"""SELECT {n} AS nprobe,
               (SELECT COUNT(*) FROM a{n}
                JOIN exact USING (query_id, neighbor_id)) AS n_hits,
               (SELECT COUNT(*) FROM exact) AS n_exact"""
        for n in _SWEEP_NPROBES
    )
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id
                   FROM ({ORACLE["similarity_topk_bruteforce"]})),
    {approx_ctes},
    u AS ({rows})
    SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_hits AS DOUBLE) / n_exact AS recall
    FROM u ORDER BY nprobe
    """


@_q("similarity_ivf_nprobe_sweep", _sql_nprobe_sweep())
def similarity_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k vs nprobe (1, 2, 4), one row per
    setting, micro-averaged over the query batch with exact integer hit
    counts. This is what the nprobe knob is FOR — at deployment time you
    sweep it, read the cost/recall knee, and pin the setting; the oracle
    replays the whole measurement (centroids, routing, ranking, recall
    join), so even IVF's misses at each nprobe must match exactly."""
    emb = _emb(spark, sf_dir)
    return ivf_recall_sweep(
        emb, _queries_df(emb), nprobes=_SWEEP_NPROBES, k=K, dim=DIM
    ).orderBy("nprobe")


def _sql_semantic_dedup(
    k_clusters: int = 4, iterations: int = 2, threshold: float = 0.4
) -> str:
    ctes = _kmeans_ctes(k_clusters, iterations)
    ctes.append(_sql_assigned_cte(f"c{iterations}"))
    ctes.extend(
        [
            f"""pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assigned a JOIN assigned b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {threshold}
        )""",
            """sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs)""",
            """walk(v, l) AS (
          SELECT DISTINCT src, src FROM sym
          UNION
          SELECT s.dst, w.l FROM walk w JOIN sym s ON s.src = w.v
        )""",
            "comp AS (SELECT v, MIN(l) AS comp FROM walk GROUP BY v)",
        ]
    )
    return f"""
    WITH RECURSIVE {", ".join(ctes)}
    SELECT v AS vec_id, comp AS canonical_id
    FROM comp WHERE v != comp
    ORDER BY vec_id
    """


@_q("similarity_semantic_dedup", _sql_semantic_dedup())
def similarity_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication end-to-end: deterministic
    k-means clusters bound the pair scoring (no corpus-wide all-pairs),
    within-cluster cosine ≥ 0.4 edges collapse through min-label
    connected components, and the drop list (member → canonical) comes
    out. The oracle replays training, assignment, pair scoring, AND the
    transitive closure — the complete published-pipeline composition,
    every stage an operator this module already verifies in isolation."""
    emb = _emb(spark, sf_dir)
    return semantic_dedup(
        emb, threshold=0.4, dim=DIM
    ).orderBy("vec_id")


@_q("similarity_topk_ivf_trained", _sql_ivf_trained())
def similarity_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF loop over a TRAINED index: deterministic k-means
    centroids (similarity_kmeans_fit) partition the corpus, queries
    route to their nprobe best clusters by the training metric, and
    only those inverted lists are scanned. The oracle replays training,
    assignment, routing, and ranking end-to-end — the complete
    train → index → search path a production ANN deployment runs."""
    emb = _emb(spark, sf_dir)
    return topk_ivf_trained(
        emb, _queries_df(emb), k=K, dim=DIM
    ).orderBy("query_id", "rank")


def _sql_sq8() -> str:
    mn = ", ".join(f"MIN(CAST(embedding[{i+1}] AS DOUBLE))" for i in range(DIM))
    mx = ", ".join(f"MAX(CAST(embedding[{i+1}] AS DOUBLE))" for i in range(DIM))
    code_i = (
        "CASE WHEN mx[i] = mn[i] THEN 0 "
        "ELSE CAST(LEAST(GREATEST(FLOOR("
        "(CAST(embedding[i] AS DOUBLE) - mn[i]) / (mx[i] - mn[i]) * 255.0"
        "), 0), 255) AS BIGINT) END"
    )
    return f"""
    WITH stats AS (SELECT [{mn}] AS mn, [{mx}] AS mx FROM embeddings),
    codes AS (
      SELECT vec_id, [{code_i} FOR i IN RANGE(1, {DIM + 1})] AS codes
      FROM embeddings, stats),
    q AS (SELECT vec_id AS query_id, codes AS qc FROM codes
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qc, c.codes),
                                     z -> z[1] * z[2])) AS qscore
      FROM codes c JOIN q ON c.vec_id != q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qscore DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, CAST(qscore AS BIGINT) AS qscore, rank
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """


@_q("similarity_topk_sq8", _sql_sq8())
def similarity_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 compressed-domain top-k: per-dimension [min,max] scalar
    quantization to 8-bit codes (4x smaller scan), ranking by exact
    integer dot product of codes. The oracle replays the learned
    quantizer (same stats row, same clamp/floor tree) and the integer
    scoring, so parity pins the codes themselves, not just neighbor
    sets. No float ties exist for the two engines to break apart."""
    emb = _emb(spark, sf_dir)
    return topk_sq8(
        emb, emb.where(F.col("vec_id") < N_QUERIES), k=K, dim=DIM
    ).orderBy("query_id", "rank")

def _sql_cluster_balance(k: int = 4, iterations: int = 2) -> str:
    ctes = _kmeans_ctes(k, iterations)
    ctes.append(_sql_assigned_cte(f"c{iterations}"))
    return f"""
    WITH {", ".join(ctes)},
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM assigned GROUP BY cid
    ),
    totals AS (
      -- product in HUGEINT: a BIGINT n*n wraps past n ~ 3e9 members in
      -- one list, the exact regime the Spark side's DECIMAL sum covers
      SELECT CAST(SUM(n_members) AS BIGINT) AS nt,
             SUM(CAST(n_members AS HUGEINT) * n_members) AS ss,
             CAST(COUNT(*) AS BIGINT) AS ka
      FROM sizes
    )
    SELECT cid, n_members,
           CAST(n_members AS DOUBLE) / CAST(nt AS DOUBLE) AS list_frac,
           CAST(ss AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))
             * CAST(ka AS DOUBLE) AS imbalance
    FROM sizes, totals
    ORDER BY cid
    """


@_q("similarity_cluster_balance", _sql_cluster_balance())
def similarity_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list balance for the trained IVF index: per-cluster
    sizes/fractions + the FAISS-style imbalance factor k·Σn²/N² — the
    metric that predicts probe latency and triggers re-training. The
    oracle replays training, assignment, and the exact-integer Σn²
    before the (identical) IEEE ratio steps."""
    emb = _emb(spark, sf_dir)
    return cluster_balance(emb, k=4, dim=DIM).orderBy("cid")


RANGE_TAU = 0.30


@_q(
    "similarity_range_search",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_cosine('q.qv', 'e.embedding')} AS cosine
      FROM embeddings e JOIN q ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM scored WHERE cosine >= {RANGE_TAU!r}
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius query: every neighbor with cosine >= 0.30 per query
    vector — the vector-store API half top-k doesn't cover (dedup
    candidates, recall-complete retrieval). Map-side broadcast scoring
    + threshold filter: NO window, NO shuffle
    (operators/similarity.py:range_search)."""
    emb = _emb(spark, sf_dir)
    return range_search(
        emb, _queries_df(emb), threshold=RANGE_TAU
    ).orderBy("query_id", F.desc("cosine"), "neighbor_id")


# Corrupt-vector guard, oracle side: every reference to the embeddings
# table reads through the validity filter (twin of _emb above).
ORACLE = guard_oracles(ORACLE)
