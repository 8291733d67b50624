"""Cardinality-sketch query inventory (SURVEY.md §2.3 extension row
"HLL distinct sketch"): the HyperLogLog register build + estimate over
lineitem key columns, with the exact COUNT(DISTINCT) riding in the
same row so the parity check grades the sketch's error itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.hll import (
    hll_distinct,
    hll_set_ops,
    sql_hll_distinct,
    sql_hll_set_ops,
)
from kinesis_stream_spark.operators.kmv import (
    kmv_distinct,
    kmv_set_ops,
    sql_kmv_distinct,
    sql_kmv_set_ops,
)
from kinesis_stream_spark.operators.quantiles import histogram_quantiles, sql_histogram_quantiles
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


_HLL_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]


@_q(
    "agg_hll_distinct",
    sql_hll_distinct("lineitem", _HLL_COLS) + " ORDER BY column_name",
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality estimates for the lineitem key columns
    next to their exact distinct counts — md5-derived register hashing,
    exact-integer harmonic sum, one pinned float literal + one IEEE
    divide for the estimate (operator docstring for the combinable
    register shape and the linear-counting deployment note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return hll_distinct(li, _HLL_COLS).orderBy("column_name")


_HLL_A_CTE = """
  SELECT o_custkey AS v FROM orders WHERE o_orderpriority = '1-URGENT'
"""
_HLL_B_CTE = """
  SELECT o_custkey AS v FROM orders WHERE o_orderstatus = 'F'
"""


@_q(
    "agg_hll_set_ops",
    sql_hll_set_ops(_HLL_A_CTE, _HLL_B_CTE)
    + " ORDER BY set_op",
)
def agg_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability made explicit: cardinality estimates for
    urgent-order buyers, finished-order buyers, their UNION (register-
    wise MAX of the two sketches — never a rescan), and their
    intersection (inclusion–exclusion), each next to the exact count
    (operators/hll.py)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT")
    b = o.where(F.col("o_orderstatus") == "F")
    return hll_set_ops(a, b, col_a="o_custkey", col_b="o_custkey").orderBy(
        "set_op"
    )


@_q(
    "agg_kmv_distinct",
    sql_kmv_distinct("lineitem", _HLL_COLS) + " ORDER BY column_name",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k cardinality estimates for the SAME lineitem key
    columns the HLL row sketches — two cardinality sketches, one
    workload, so their error profiles are directly comparable in the
    parity output. Bottom-k of the md5-derived hashes planned as a
    TakeOrderedAndProject over a map-side-combinable dedup; estimate =
    one pinned float literal over the k-th order statistic
    (operators/kmv.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, _HLL_COLS).orderBy("column_name")


@_q(
    "agg_histogram_quantiles",
    sql_histogram_quantiles("lineitem", "l_extendedprice")
    + " ORDER BY q_ppm",
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin quantile sketch over lineitem prices:
    p50/p90/p99 estimates from a 1024-cell equal-width histogram next
    to the exact rank statistics — the exact side runs on the
    distributed prefix sum, the oracle on the textbook global window,
    so two rank strategies must agree (operators/quantiles.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice").orderBy("q_ppm")


@_q(
    "agg_kmv_set_ops",
    sql_kmv_set_ops(_HLL_A_CTE, _HLL_B_CTE) + " ORDER BY set_op",
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations on the SAME two sets the HLL set-ops row
    sketches (urgent-order vs finished-order buyers) — union from the
    merged bottom-k, intersection from the resemblance fraction
    ρ = |K_∪ ∩ K_A ∩ K_B|/|K_∪| (the estimator HLL cannot offer),
    plus the direct Jaccard row; exact counts ride alongside
    (operators/kmv.py)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT")
    b = o.where(F.col("o_orderstatus") == "F")
    return kmv_set_ops(a, b, col_a="o_custkey", col_b="o_custkey").orderBy(
        "set_op"
    )
