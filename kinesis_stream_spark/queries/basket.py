"""Market-basket query inventory (SURVEY.md §2.3 extension row
"association rules"): directional support/confidence/lift rules over
order baskets with brand-level items (bounded vocabulary keeps pair
supports dense at every SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.basket import (
    association_rules,
    item_cosine,
    item_jaccard,
    sql_association_rules,
    sql_item_cosine,
    sql_item_jaccard,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


_MIN_SUPPORT = 5

_BASKETS_CTE = """
  SELECT l.l_orderkey AS basket, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""


@_q(
    "basket_association_rules",
    sql_association_rules(_BASKETS_CTE, min_support=_MIN_SUPPORT)
    + " ORDER BY antecedent, consequent",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional brand→brand association rules over order baskets
    (support ≥ 5): which brands co-occur in orders beyond chance —
    integer-ppm confidence and lift in DECIMAL(38,0)/HUGEINT
    arithmetic, baskets collapsed to distinct (order, brand) map-side
    before the id-ordered pair join (operators/basket.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return association_rules(baskets, min_support=_MIN_SUPPORT).orderBy(
        "antecedent", "consequent"
    )


@_q(
    "basket_item_jaccard",
    sql_item_jaccard(
        baskets_cte="SELECT basket AS b, item AS i FROM (" + _BASKETS_CTE + ")",
        min_common=2,
        top_k=30,
    ),
)
def basket_item_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric brand-brand Jaccard similarity over order baskets —
    the item-based collaborative-filtering neighbor metric next to the
    directional rules: top-30 pairs by basket-set overlap, exact
    integer counts, one IEEE divide per pair (operators/basket.py for
    the basket-size-bounded pair-join shape)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return item_jaccard(baskets, min_common=2, top_k=30)


@_q(
    "basket_item_cosine",
    sql_item_cosine(
        baskets_cte="SELECT basket AS b, item AS i FROM (" + _BASKETS_CTE + ")",
        min_common=2,
    ),
)
def basket_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 brand-brand cosine similarity over order baskets — the
    geometric-mean CF kernel beside basket_item_jaccard's union one;
    exact integer counts, degree product VARCHAR-routed to double, one
    sqrt + one divide per pair (operators/basket.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return item_cosine(baskets, min_common=2)
