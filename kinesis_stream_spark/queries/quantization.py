"""Product-quantization query inventory (embeddings table, 64-dim).

The PQ / IVF-PQ family staged in round 5 (``operators/quantization.py``,
oracles in ``operators/quantization_sql.py``), registered with the
driver contract here. Query vectors are the corpus rows with
``vec_id < 3`` (deterministic, no external fixtures), exactly the
recipe the staged parity tests proved at sf0.001 and on the
corrupt-vector fuzz corpus.

Reference provenance: the reference delegates all query processing to
its host framework (SURVEY.md §2.2; reference README.md:30-48) — the
PQ family is part of the training-data-pipeline extension surface the
build brief demands, implemented from the public Jégou/Douze/Schmid
TPAMI 2011 algorithm in DataFrame shapes.

Scale notes (100 TB): codebooks are (M·ksub)-row broadcasts and the
per-query ADC lookup tables are (Q·nprobe·M·ksub)-row broadcasts, so
search never shuffles the corpus — the only corpus-sized exchanges are
one encode (M rows/vector, D/M-float subvectors) and the per-(query,
vector) partial-sum aggregation, which combines map-side. IVF-PQ
routing prunes candidate lists before any scoring; a corpus laid out
PARTITION BY list_id turns that into physical partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._emb_family import (
    emb_scan,
    guard_oracles,
    queries_df,
)
from kinesis_stream_spark.operators.quantization import (
    exact_rerank,
    ivfpq_encode,
    ivfpq_topk,
    ivfpq_topk_pruned,
    ivfpq_train,
    pq_encode,
    pq_reconstruction_mse_direct,
    pq_topk_adc,
    pq_train,
    write_partitioned_index,
)
from kinesis_stream_spark.operators.opq import (
    rotate_embeddings,
    rrpq_topk_adc,
    subspace_variance,
)
from kinesis_stream_spark.operators.opq_sql import (
    sql_rrpq_adc_topk,
    sql_subspace_variance,
)
from kinesis_stream_spark.operators.quantization_sql import (
    sql_ivfpq_rerank,
    sql_ivfpq_route_census,
    sql_ivfpq_topk,
    sql_pq_adc_topk,
    sql_pq_mse,
)
QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)

#: one partitioned-index temp dir per (process, sf_dir): unique dirs
#: keep concurrent PROCESSES from overwriting each other's
#: lazily-scanned index, while the memo bounds disk use to one index
#: per sf_dir per process instead of leaking a directory per call
_IVFPQ_INDEX_DIRS: dict[str, str] = {}


def _ivfpq_index_dir(sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    if sf_dir not in _IVFPQ_INDEX_DIRS:
        path = tempfile.mkdtemp(prefix="kinesis_stream_spark_ivfpq_")
        _IVFPQ_INDEX_DIRS[sf_dir] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return _IVFPQ_INDEX_DIRS[sf_dir]

DIM = 64
M = 4
KSUB = 4
ITERATIONS = 2
K_COARSE = 4
NPROBE = 2
N_QUERIES = 3
K = 8
R_SHORTLIST = 24  # ADC shortlist size for two-stage retrieval (R ≫ K)


@_q(
    "similarity_pq_adc_topk",
    sql_pq_adc_topk(
        m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS, n_queries=N_QUERIES, k=K
    ),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-PQ compressed-domain search: train M per-subspace codebooks,
    encode the corpus to M-byte codes, rank by asymmetric distance — the
    full-precision corpus is never read at search time. The oracle
    replays training, encode, and the exact BIGINT fixed-point ADC sums
    end-to-end, so quantization ERROR must match bit-exactly, not just
    approximately."""
    emb = emb_scan(spark, sf_dir, DIM)
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    return pq_topk_adc(
        codes, book, queries_df(emb, N_QUERIES), k=K, m=M, dim=DIM
    ).orderBy("query_id", "rank")


@_q(
    "similarity_pq_reconstruction_mse",
    sql_pq_mse(m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS),
)
def similarity_pq_reconstruction_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-quality diagnostic: per-subspace + overall (sub = -1)
    mean squared reconstruction error, the number that decides whether
    m/ksub are adequate before a 100 TB re-encode. Error sums stay in
    exact BIGINT fixed-point until two final IEEE divides per row.
    Since r12 the encode+score is the fused single-pass form
    (``sqerr_fx = fx(s,s) − score_fx(assigned)`` falls out of the
    assignment argmax — identical integers, no corpus-sized
    codes-join; equivalence to the 3-arg operator is pinned by
    tests/test_quantization.py)."""
    emb = emb_scan(spark, sf_dir, DIM)
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS)
    return pq_reconstruction_mse_direct(emb, book, m=M, dim=DIM).orderBy("sub")


@_q(
    "similarity_ivfpq_topk",
    sql_ivfpq_topk(
        k_coarse=K_COARSE,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
        n_queries=N_QUERIES,
        nprobe=NPROBE,
        k=K,
    ),
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (the FAISS IVFPQ architecture): coarse k-means
    routes each query to its nprobe best inverted lists; residual PQ
    codes score candidates in the compressed domain via a per-(query,
    list) BIGINT base term + per-subspace lookups. Only nprobe/k_coarse
    of the corpus is touched per query — the scale lever. The oracle
    replays coarse training, residual codebooks, routing, and the exact
    fixed-point score decomposition."""
    emb = emb_scan(spark, sf_dir, DIM)
    coarse, book = ivfpq_train(
        emb, k_coarse=K_COARSE, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS
    )
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    return ivfpq_topk(
        index, coarse, book, queries_df(emb, N_QUERIES), k=K, nprobe=NPROBE, m=M, dim=DIM
    ).orderBy("query_id", "rank")


@_q(
    "similarity_ivfpq_pruned_topk",
    sql_ivfpq_topk(
        k_coarse=K_COARSE,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
        n_queries=N_QUERIES,
        nprobe=NPROBE,
        k=K,
    ),
)
def similarity_ivfpq_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search against the PHYSICALLY PARTITIONED index layout:
    the encoded corpus is written parquet PARTITION BY list_id and the
    routed lists become a partition-pruning IN predicate on the scan —
    unprobed lists cost zero I/O (plan-pinned in
    tests/test_plans.py), where similarity_ivfpq_topk's in-memory twin
    filters the same lists AFTER materializing them. Same routing,
    same ADC arithmetic, same oracle: pruning only removes rows the
    twin discarded post-scan, so the hash must match the broadcast
    twin's driver rows bit-for-bit."""
    emb = emb_scan(spark, sf_dir, DIM)
    coarse, book = ivfpq_train(
        emb, k_coarse=K_COARSE, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS
    )
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    path = _ivfpq_index_dir(sf_dir)
    write_partitioned_index(index, path)
    return ivfpq_topk_pruned(
        spark, path, coarse, book, queries_df(emb, N_QUERIES),
        k=K, nprobe=NPROBE, m=M, dim=DIM,
    ).orderBy("query_id", "rank")


@_q(
    "similarity_ivfpq_route_census",
    sql_ivfpq_route_census(
        k_coarse=K_COARSE, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS
    ),
)
def similarity_ivfpq_route_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-index parity check: count vectors per (list_id, sub, code)
    cell of the IVF-PQ index. Every vector's coarse routing AND all M
    residual codes must match the oracle's replay for the census to
    agree — an encode/route verification without per-vector output
    rows. Doubles as the index-balance profile (hot lists / dead codes)
    an operator would inspect before deploying the index."""
    emb = emb_scan(spark, sf_dir, DIM)
    coarse, book = ivfpq_train(
        emb, k_coarse=K_COARSE, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS
    )
    # materialization barrier (r13): the census explode+aggregate
    # stage re-evaluates the giant literal-table encode expressions
    # instead of reading the projected columns (measured 19.5 s for an
    # aggregate whose input computes in 1.2 s; an Exchange barrier did
    # NOT stop it). The lazy checkpoint evaluates the encode projection
    # exactly once per invocation and the census reads concrete rows:
    # 19.5 → 0.6 s at sf1. Index-sized, rebuilt from parquet every call.
    index = pin(ivfpq_encode(emb, coarse, book, m=M, dim=DIM), eager=False)
    return (
        index.select("list_id", F.posexplode("codes").alias("sub", "code"))
        .groupBy("list_id", "sub", "code")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("list_id", "sub", "code")
    )


@_q(
    "similarity_ivfpq_rerank",
    sql_ivfpq_rerank(
        k_coarse=K_COARSE,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
        n_queries=N_QUERIES,
        nprobe=NPROBE,
        r=R_SHORTLIST,
        k=K,
    ),
)
def similarity_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the standard IVF-PQ deployment pattern:
    the compressed-domain ADC search shortlists R = 24 candidates per
    query (3× the final k), then ONLY those R rows are re-scored
    exactly against the full-precision corpus and re-ranked to k = 8.
    The re-score join broadcasts the R·Q-row shortlist against one
    filtered corpus scan (pinned by plan test) — O(R·Q) exact work
    buys back the quantization rank error without a second corpus
    sweep. The oracle replays shortlist AND re-rank bit-exactly."""
    emb = emb_scan(spark, sf_dir, DIM)
    coarse, book = ivfpq_train(
        emb, k_coarse=K_COARSE, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS
    )
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    queries = queries_df(emb, N_QUERIES)
    shortlist = ivfpq_topk(
        index, coarse, book, queries, k=R_SHORTLIST, nprobe=NPROBE, m=M, dim=DIM
    )
    return exact_rerank(shortlist, emb, queries, k=K).orderBy("query_id", "rank")


@_q(
    "similarity_rrpq_adc_topk",
    sql_rrpq_adc_topk(
        m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS, n_queries=N_QUERIES, k=K
    ),
)
def similarity_rrpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-PQ search (the OPQ cheap default): a fixed orthonormal
    rotation — pure-Python md5-seeded Gram-Schmidt, injected verbatim
    into both engines — balances subspace variance before the flat-PQ
    train/encode/ADC chain runs unchanged. Rotation preserves the
    ranking metric exactly; only the quantization cells (and therefore
    which approximation errors occur) change, and the oracle replays
    rotation + training + encode + ADC end-to-end."""
    emb = emb_scan(spark, sf_dir, DIM)
    return rrpq_topk_adc(
        emb,
        queries_df(emb, N_QUERIES),
        k=K,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
    ).orderBy("query_id", "rank")


def _sql_variance_before_after() -> str:
    flat = sql_subspace_variance(m=M, dim=DIM, rotated=False)
    rotated = sql_subspace_variance(m=M, dim=DIM, rotated=True)
    return f"""
    SELECT 'flat' AS space, * FROM ({flat})
    UNION ALL
    SELECT 'rotated' AS space, * FROM ({rotated})
    ORDER BY space, sub
    """


@_q("similarity_subspace_variance", _sql_variance_before_after())
def similarity_subspace_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnostic that justifies (or retires) the rotation:
    per-subspace variance shares of the corpus BEFORE and AFTER the
    RR-PQ rotation — flat PQ wants the M shares equal; a 10:1 ratio
    means one subquantizer carries 10x the signal of another at the
    same byte budget. Exact DECIMAL(38,0) fixed-point moments, one
    E[x2] - E[x]2 per dimension with pinned op order, ordered
    left-folds, one share divide."""
    emb = emb_scan(spark, sf_dir, DIM)
    flat = subspace_variance(emb, m=M, dim=DIM).select(
        F.lit("flat").alias("space"), "sub", "var_sum", "var_share"
    )
    rotated = subspace_variance(
        rotate_embeddings(emb, dim=DIM), m=M, dim=DIM
    ).select(F.lit("rotated").alias("space"), "sub", "var_sum", "var_share")
    return flat.unionAll(rotated).orderBy("space", "sub")


ORACLE = guard_oracles(ORACLE)
