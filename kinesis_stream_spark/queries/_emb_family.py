"""Shared boilerplate for embeddings-table query modules.

``queries/similarity.py``, ``queries/quantization.py`` and
``queries/evaluation.py`` all need the same two pieces: the
corrupt-vector guard at the scan edge, and the oracle-side rewrite that
threads the same guard through every ``embeddings`` reference. Defined
once here so a guard fix lands everywhere at once.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.vectors import sql_valid_vector, valid_vector
from kinesis_stream_spark.sources.batch import load_table, spread

DIM = 64


def emb_scan(spark: SparkSession, sf_dir: str, dim: int = DIM) -> DataFrame:
    """Embeddings scan behind the validity guard: corrupt vectors
    (NULL / NaN / wrong-dim / zero-norm) are excluded at the edge.

    ``spread`` (r13; guide §2.6/§6): the family's per-row expression
    work — fixed-point argmax routing, per-sub ADC dots, decode
    kernels — is the expensive MAP stage on every corpus pass
    (training iterations, encode, scoring), and the single-row-group
    fixture file scans as 1–2 tasks, serializing all of it regardless
    of core count (measured at sf1: the whole ivfpq family's c8/c32
    ratio sat at ≈1, train+encode 51 s on 2 cores →
    route_census 47 → 6 s after). No-op on well-partitioned inputs,
    i.e. always at real scale."""
    return spread(
        load_table(spark, sf_dir, "embeddings").where(
            valid_vector(F.col("embedding"), dim)
        ),
        "vec_id",
    )


def queries_df(emb: DataFrame, n_queries: int) -> DataFrame:
    """Deterministic query batch: the corpus rows with the n smallest
    vec_ids (no external fixtures)."""
    return emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


_EMB_REF = re.compile(r"\bembeddings\b", re.IGNORECASE)
_EMB_TABLE_POS = re.compile(r"(\b(?:FROM|JOIN)\s+)embeddings\b", re.IGNORECASE)


def guard_oracles(oracle: dict) -> dict:
    """Oracle-side twin of :func:`emb_scan`: every reference to the
    embeddings table reads through the validity filter.

    The substitution is restricted to table positions (``FROM``/``JOIN``
    ``embeddings``) and then CHECKED against the total occurrence count:
    an oracle mentioning the word anywhere else (string literal, alias,
    comment) fails loudly at registration time instead of being silently
    rewritten into a different query."""
    subq = f"(SELECT * FROM embeddings WHERE {sql_valid_vector('embedding', DIM)})"
    out = {}
    for name, sql in oracle.items():
        guarded, n_table = _EMB_TABLE_POS.subn(lambda m: m.group(1) + subq, sql)
        n_total = len(_EMB_REF.findall(sql))
        if n_table != n_total:
            raise ValueError(
                f"guard_oracles[{name}]: {n_total - n_table} 'embeddings' "
                "reference(s) outside FROM/JOIN position — refusing to "
                "rewrite (thread the guarded scan in explicitly instead)"
            )
        out[name] = guarded
    return out
