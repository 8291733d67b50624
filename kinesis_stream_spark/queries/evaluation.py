"""Retrieval-evaluation + drift query inventory (embeddings table).

Round-6 additions completing the ANN evaluation story: ranking-quality
metrics beyond recall (MRR / NDCG@k of the PQ-ADC ranking vs the
exact-score truth), the recall-vs-nprobe tuning curve for the IVF-PQ
index, and between-snapshot embedding drift. Query vectors are corpus
rows with ``vec_id < 3``; drift snapshots are the even/odd ``vec_id``
halves — deterministic, no external fixtures.

Reference provenance: the reference delegates all query processing to
its host framework (SURVEY.md §2.2); this is extension surface for the
100 TB training-data pipeline the build brief demands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.evaluation import (
    centroid_confusion,
    embedding_drift,
    exact_score_topk,
    ivfpq_recall_sweep,
    label_inertia,
    ranking_quality,
    simplified_silhouette,
    sql_centroid_confusion,
    sql_label_inertia,
    sql_simplified_silhouette,
)
from kinesis_stream_spark.operators.evaluation_sql import (
    sql_embedding_drift,
    sql_ivfpq_recall_sweep,
    sql_pq_rank_quality,
)
from kinesis_stream_spark.operators.quantization import pq_encode, pq_topk_adc, pq_train
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._emb_family import emb_scan, guard_oracles, queries_df
QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)

DIM = 64
M = 4
KSUB = 4
ITERATIONS = 2
K_COARSE = 4
NPROBES = (1, 2, 4)
N_QUERIES = 3
K = 8
DRIFT_K = 4


@_q(
    "similarity_rank_quality",
    sql_pq_rank_quality(
        m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS, n_queries=N_QUERIES, k=K
    ),
)
def similarity_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / NDCG@k of the flat-PQ ADC ranking against the exact-score
    truth (self included on both sides — both rank the full corpus).
    The metrics recall@k cannot see: recall treats a hit at rank 1 and
    rank k the same; MRR and NDCG grade WHERE the relevant items
    landed. Discount and reciprocal-rank tables are Python-precomputed
    2^40 fixed-point integer literals injected into both engines, so
    no transcendental function runs in either."""
    emb = emb_scan(spark, sf_dir, DIM)
    truth = exact_score_topk(emb, queries_df(emb, N_QUERIES), k=K)
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM, iterations=ITERATIONS)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    approx = pq_topk_adc(codes, book, queries_df(emb, N_QUERIES), k=K, m=M, dim=DIM)
    return ranking_quality(truth, approx, k=K)


@_q(
    "similarity_ivfpq_nprobe_sweep",
    sql_ivfpq_recall_sweep(
        k_coarse=K_COARSE,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
        n_queries=N_QUERIES,
        nprobes=NPROBES,
        k=K,
    ),
)
def similarity_ivfpq_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF-PQ as a function of nprobe — the tuning curve a
    deployment reads to pick its probe budget (cost axis:
    nprobe/k_coarse of the corpus scanned per query). One trained +
    encoded index serves every sweep point; truth is the exact-score
    top-k under the metric the index optimizes. Micro-averaged exact
    hit counts, one IEEE divide per row."""
    emb = emb_scan(spark, sf_dir, DIM)
    return ivfpq_recall_sweep(
        emb,
        queries_df(emb, N_QUERIES),
        nprobes=NPROBES,
        k=K,
        k_coarse=K_COARSE,
        m=M,
        ksub=KSUB,
        dim=DIM,
        iterations=ITERATIONS,
    ).orderBy("nprobe")


@_q(
    "similarity_embedding_drift",
    sql_embedding_drift(k=DRIFT_K, dim=DIM, iterations=ITERATIONS),
)
def similarity_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus snapshots (even vs odd vec_ids
    standing in for train-time vs serve-time corpora): per trained
    cluster, population-share deltas and the squared shift between the
    trained centroid and the new snapshot's cluster mean — the
    monitoring numbers that trigger index/codebook re-training."""
    emb = emb_scan(spark, sf_dir, DIM)
    snap_a = emb.where(F.col("vec_id") % 2 == 0)
    snap_b = emb.where(F.col("vec_id") % 2 == 1)
    return embedding_drift(
        snap_a, snap_b, k=DRIFT_K, dim=DIM, iterations=ITERATIONS
    )


ORACLE = guard_oracles(ORACLE)


@_q("similarity_label_inertia", None)  # assigned (guarded) below
def similarity_label_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster inertia + the grand '__all__' row — the
    ANOVA-style compactness screen (how much corpus variance the
    labels explain), computed centroid-free from exact fixed-point
    moments, one pinned divide per row (operators/evaluation.py)."""
    return label_inertia(emb_scan(spark, sf_dir, DIM)).orderBy(
        "label_key"
    )


# registered after the module-wide guard pass: thread the scan guard
# through this oracle's embeddings reference explicitly
ORACLE["similarity_label_inertia"] = guard_oracles(
    {
        "similarity_label_inertia": sql_label_inertia()
        + " ORDER BY label_key"
    }
)["similarity_label_inertia"]


@_q("similarity_silhouette", None)  # assigned (guarded) below
def similarity_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label + '__all__' — the separation
    companion to label inertia: does each vector sit closer to its own
    centroid than to the nearest other, and how many would rather live
    elsewhere (n_negative)? Centroid-free exact fixed-point distances,
    one IEEE sqrt per (point, label), order-free ppm score sums
    (operators/evaluation.py)."""
    return simplified_silhouette(emb_scan(spark, sf_dir, DIM)).orderBy(
        "label_key"
    )


ORACLE["similarity_silhouette"] = guard_oracles(
    {
        "similarity_silhouette": sql_simplified_silhouette()
        + " ORDER BY label_key"
    }
)["similarity_silhouette"]


@_q("similarity_centroid_confusion", None)  # assigned (guarded) below
def similarity_centroid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid confusion matrix over the labeled embeddings —
    which classes bleed into which under a centroid classifier, the
    pairwise refinement of the silhouette's misassignment count. Exact
    integer-core distances, deterministic (d², label) argmin, integer
    ppm row shares (operators/evaluation.py)."""
    return centroid_confusion(emb_scan(spark, sf_dir, DIM)).orderBy(
        "label_key", "assigned_key"
    )


ORACLE["similarity_centroid_confusion"] = guard_oracles(
    {
        "similarity_centroid_confusion": sql_centroid_confusion()
        + " ORDER BY label_key, assigned_key"
    }
)["similarity_centroid_confusion"]
