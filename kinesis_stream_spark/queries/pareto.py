"""Pareto-skyline query inventory (part table).

The price/size frontier per brand — "cheapest part at every size level
nobody beats" — is the classic skyline instance: minimize
p_retailprice, maximize p_size. The Spark side runs the aggregated
prefix-max algorithm; the oracle runs the independent quadratic
NOT-EXISTS dominance definition (operators/pareto.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_stream_spark.operators.pareto import skyline_2d, sql_skyline_2d
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)


@_q(
    "skyline_parts_price_size",
    sql_skyline_2d(
        table="part",
        min_col="p_retailprice",
        max_col="p_size",
        group_col="p_brand",
        select_cols=("p_brand", "p_partkey", "p_retailprice", "p_size"),
    )
    + " ORDER BY p_brand, p_retailprice, p_partkey",
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price/size Pareto frontier over part: the parts for
    which no same-brand part is both no-more-expensive and no-smaller
    (strictly better in one). Two genuinely different algorithms must
    agree: Spark's aggregate + prefix-max + broadcast-back plan vs the
    oracle's quadratic dominance anti-pattern."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(
        part, min_col="p_retailprice", max_col="p_size", group_col="p_brand"
    ).orderBy("p_brand", "p_retailprice", "p_partkey")
