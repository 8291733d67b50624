"""Fuzzy-join query inventory (part table).

TPC-H part names are 5-token color soup, so near-identical names are
plentiful — good stress for the blocked Levenshtein join. The
registered query aggregates the pair stream into a per-block distance
histogram (the operator's full pair output at sf0.1 is ~3M rows; the
histogram keeps the driver compare small while still depending on
every underlying distance value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.fuzzy import (
    fuzzy_pair_histogram,
    sql_fuzzy_pair_histogram,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)

_MAX_DIST = 2


@_q(
    "fuzzy_part_name_histogram",
    sql_fuzzy_pair_histogram(
        table="part",
        id_col="p_partkey",
        text_col="p_name",
        max_dist=_MAX_DIST,
    )
    + " ORDER BY block_key, dist",
)
def fuzzy_part_name_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein self-join on part names (block = first
    color word, distance ≤ 2), aggregated to (block, distance) pair
    counts with deterministic sample ids. One shuffle on the block
    key; banded threshold DP with length-band prefilter (operator
    docstring). The histogram depends on every pairwise distance, so
    parity here is parity on the full join. Scoped to ASCII names
    (char length = byte length) to mirror the oracle's guard — the
    DuckDB levenshtein is byte-based, Spark's codepoint-based, and the
    two only coincide on ASCII (operator docstring)."""
    part = load_table(spark, sf_dir, "part").where(
        F.length("p_name") == F.octet_length("p_name")
    )
    # distinct-name granularity (r13; operator docstring proves the
    # aggregate identical to counting the full fuzzy_pairs stream):
    # the DP bill becomes constant in corpus size — names repeat, and
    # the id-level join paid cnt_u*cnt_v DP evaluations per distinct
    # name pair (129.5 -> 1.2 s at sf1)
    return fuzzy_pair_histogram(
        part, id_col="p_partkey", text_col="p_name", max_dist=_MAX_DIST
    ).orderBy("block_key", "dist")
