"""Sparse-retrieval query inventory (documents table; SURVEY.md §2.3
extension rows "BM25 sparse retrieval" and "vocabulary coverage").

The fixed query set mixes the corpus's one rare term ("dup", df ≈ 5%
of docs) with common terms (df ≈ 80%) so the idf spread actually
orders results — a query set of uniform-df terms would rank on tf
alone and leave the idf path untested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.retrieval import (
    RRF_K,
    RRF_SCALE,
    bm25_topk,
    phrase_search,
    prf_expansion,
    rrf_fuse,
    rsj_topk,
    sql_phrase_search,
    vocab_coverage,
)
from kinesis_stream_spark.operators.retrieval_sql import (
    sql_bm25_topk,
    sql_prf_expansion,
    sql_rsj_topk,
    sql_vocab_coverage,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)

#: literal query set, shared verbatim by both engines
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "dup scan filter"),
    (2, "hash join merge sort"),
    (3, "stream window batch dup fast"),
)

K = 10


@_q("text_bm25_topk", sql_bm25_topk(BM25_QUERIES, k=K))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BM25 (rational idf) top-10 per query — the sparse
    counterpart to the dense ANN family. Postings are prefiltered to
    the query vocabulary before any shuffle; df/query/totals broadcast
    (operators/retrieval.py docstring for the full scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(BM25_QUERIES), "query_id long, qtext string"
    )
    return bm25_topk(docs, queries, k=K).orderBy("query_id", "rank")


#: the fusion query set: the three BM25 queries re-keyed 0..2 plus two
#: more from the same corpus vocabulary — both fused rankings (BM25 and
#: RSJ) run over THIS set against the documents table, so every item_id
#: is a doc_id and an n_lists = 2 row is genuine two-model consensus on
#: one corpus, not an accidental cross-table id collision (the round-8
#: ADVICE fix)
RRF_QUERIES: tuple[tuple[int, str], ...] = tuple(
    (i, t) for i, (_, t) in enumerate(BM25_QUERIES)
) + (
    (3, "vector group window table"),
    (4, "customer order line slow dup"),
)


def _rrf_sql() -> str:
    # compose the two registered sparse-retrieval oracles verbatim and
    # fuse their ranks with exact integer floor division — the
    # recall-oracle composition pattern (queries/similarity.py
    # _RECALL_SQL)
    bm25 = sql_bm25_topk(RRF_QUERIES, k=K)
    rsj = sql_rsj_topk(RRF_QUERIES, k=K)
    return f"""
    WITH bm AS (SELECT query_id, doc_id AS item_id, rank
                FROM ({bm25})),
    rj AS (SELECT query_id, doc_id AS item_id, rank
           FROM ({rsj})),
    allr AS (SELECT * FROM bm UNION ALL SELECT * FROM rj),
    fused AS (
      SELECT query_id, item_id,
             CAST(SUM({RRF_SCALE} // ({RRF_K} + rank)) AS BIGINT) AS sfx,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM allr GROUP BY 1, 2
    )
    SELECT query_id, item_id,
           CAST(sfx AS DOUBLE) / {RRF_SCALE} AS rrf_score,
           n_lists, fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sfx DESC, item_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= {K}
    ORDER BY query_id, fused_rank
    """


@_q("text_rsj_topk", sql_rsj_topk(BM25_QUERIES, k=K))
def text_rsj_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-independence (RSJ) idf-only top-10 per query — the k1→0
    limit of BM25: presence of a rare term outranks any pile of common
    ones, with no tf or length effects. Same inverted-index scale shape
    as BM25 (operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(BM25_QUERIES), "query_id long, qtext string"
    )
    return rsj_topk(docs, queries, k=K).orderBy("query_id", "rank")


@_q("retrieval_hybrid_rrf", _rrf_sql())
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of two retrieval models
    over the SAME corpus — tf/length-normalized BM25 and idf-only RSJ,
    both ranking documents.doc_id — the standard score-free combiner
    for heterogeneous scorers. Fusing one id space makes n_lists = 2
    rows genuine cross-model consensus (round-8 ADVICE fix; the prior
    registration fused disjoint doc_id/vec_id spaces). Both input
    rankings are registered, independently-verified chains; the fusion
    is exact integer arithmetic (operator docstring), so the whole
    hybrid stack replays in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(list(RRF_QUERIES), "query_id long, qtext string")
    bm = bm25_topk(docs, qs, k=K).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    rj = rsj_topk(docs, qs, k=K).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    return rrf_fuse([bm, rj], k=K).orderBy("query_id", "fused_rank")


@_q("text_vocab_coverage", sql_vocab_coverage())
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary sizing: smallest top-k vocabulary covering
    50/90/99% of token occurrences. The running sum over the ranked
    vocabulary is the DISTRIBUTED prefix sum (no single-reducer global
    window at any corpus size)."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs).orderBy("pct")


#: quoted-query workload over the corpus vocabulary: two bigrams, one
#: trigram — consecutive-token semantics, not bag-of-words
PHRASES = ("slow query", "fast scan", "value table part")


@_q(
    "text_phrase_search",
    sql_phrase_search(phrases=list(PHRASES))
    + " ORDER BY phrase",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quoted-phrase search over positional postings: per phrase,
    matching-document and occurrence counts with a deterministic
    sample id. The Spark plan is the inverted-index position-join
    chain (postings prefiltered to the phrase vocabulary); the oracle
    is the independent per-document array-scan — two different
    evaluation strategies must agree (operators/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, list(PHRASES)).orderBy("phrase")


_PRF_M, _PRF_T = 5, 5


@_q(
    "retrieval_prf_expansion",
    sql_prf_expansion(BM25_QUERIES, m=_PRF_M, t=_PRF_T),
)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance-feedback expansion: top-5 expansion
    terms per query from the BM25 top-5 pool, scored by exact
    pooled-tf × fixed-point idf with the original query terms anti-
    joined out — the recall-recovery second pass
    (operators/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        list(BM25_QUERIES), "query_id long, qtext string"
    )
    return prf_expansion(docs, qdf, m=_PRF_M, t=_PRF_T).orderBy(
        "query_id", "rank"
    )
