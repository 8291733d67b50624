"""Vectorized-UDF query inventory (SURVEY.md §2.3 "UDF surface" row).

Each query exercises one Arrow-batched Python entry point
(functions/udfs.py) and carries a DuckDB oracle proving the Python batch
path computes exactly what the declarative path would — the determinism
contract (integral-exact sums + single IEEE ops) makes that possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import sql_tokens
from kinesis_stream_spark.functions.udfs import (
    CHAR_STATS_ARROW_SCHEMA,
    TOKENIZE_SCHEMA,
    apply_zscore,
    char_stats_map_in_arrow,
    mean_quantity_agg,
    price_band,
    tokenize_map_in_pandas,
    weighted_revenue,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


@_q(
    "udf_scalar_price_band",
    """
    SELECT p_partkey,
           CASE WHEN p_retailprice <= 950.0 THEN 'low'
                WHEN p_retailprice <= 1050.0 THEN 'mid'
                ELSE 'high' END AS band,
           p_retailprice * (1.0 - 0.05) AS discounted
    FROM part
    ORDER BY p_partkey
    """,
)
def udf_scalar_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udfs (1-col classify + 2-col arithmetic) on part.
    Arrow batches, no shuffle; at scale this pipelines with the scan."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        price_band(F.col("p_retailprice")).alias("band"),
        weighted_revenue(F.col("p_retailprice"), F.lit(0.05)).alias("discounted"),
    ).orderBy("p_partkey")


@_q(
    "udf_grouped_agg_mean_quantity",
    """
    SELECT l_suppkey, SUM(l_quantity) / COUNT(l_quantity) AS mean_qty
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def udf_grouped_agg_mean_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas_udf: per-supplier mean quantity. Spark plans
    it as a hash aggregate whose reduce step runs in Python per group;
    quantities are integral so the sum is order-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(mean_quantity_agg(F.col("l_quantity")).alias("mean_qty"))
        .orderBy("l_suppkey")
    )


@_q(
    "udf_apply_in_pandas_zscore",
    """
    WITH stats AS (
      SELECT l_suppkey,
             SUM(l_quantity) / COUNT(*) AS mean_q,
             SUM(l_quantity * l_quantity) / COUNT(*) AS mean_sq
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l.l_suppkey, l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
           l.l_quantity,
           CASE WHEN (s.mean_sq - s.mean_q * s.mean_q) > 0
                THEN (l.l_quantity - s.mean_q) / SQRT(s.mean_sq - s.mean_q * s.mean_q)
                ELSE 0.0 END AS zscore
    FROM lineitem l JOIN stats s USING (l_suppkey)
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
)
def udf_apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: per-supplier population z-score of quantity — the
    grouped-map shape (whole group in one pandas frame, one shuffle on
    the key). Oracle computes the identical explicit mean/mean-square
    formula (not VAR_POP, whose internal algorithm differs)."""
    li = load_table(spark, sf_dir, "lineitem")
    return apply_zscore(li).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


@_q(
    "udf_map_in_pandas_tokenize",
    f"""
    WITH base AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    SELECT doc_id, CAST(t.i AS BIGINT) AS pos, toks[CAST(t.i AS INT)] AS token
    FROM base, UNNEST(RANGE(1, LEN(toks) + 1)) AS t(i)
    ORDER BY doc_id, pos
    """,
)
def udf_map_in_pandas_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas as a UDTF: one doc row in, one row per (pos, token)
    out. Map-side only; the Python flat-map shape for payload expansion."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(tokenize_map_in_pandas, TOKENIZE_SCHEMA).orderBy(
        "doc_id", "pos"
    )


@_q(
    "udf_map_in_arrow_char_stats",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT)
             AS n_spaces
    FROM documents
    ORDER BY doc_id
    """,
)
def udf_map_in_arrow_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the fourth Arrow entry point (alongside pandas_udf,
    applyInPandas, mapInPandas): pyarrow.compute kernels run on the raw
    RecordBatch with zero pandas conversion, the right shape when the
    per-batch work is itself columnar. Exact integer counts keep the
    Python path oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(char_stats_map_in_arrow, CHAR_STATS_ARROW_SCHEMA).orderBy(
        "doc_id"
    )
