"""MinHash band-agreement profile query (documents table).

One registration over documents ∪ tail-truncated copies — the same
near-dup corpus the MinHash-LSH query family uses, so the histogram
shows exactly the structure the profile exists to reveal: a
high-agreement mode from the (doc, truncated-copy) pairs and a
low-agreement tail of random band collisions. The corpus builders are
imported from ``queries/dedup`` (shared constants, not copies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_stream_spark.operators.minhash_profile import (
    minhash_agreement_histogram,
    sql_minhash_agreement_histogram,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries.dedup import (
    SQL_TRUNCATED_COPIES,
    _with_truncated_copies,
)
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}
_q = make_q(QUERIES, ORACLE)


@_q(
    "dedup_minhash_band_agreement",
    sql_minhash_agreement_histogram(SQL_TRUNCATED_COPIES),
)
def dedup_minhash_band_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-side dedup-difficulty profile: the distribution of
    MinHash signature-position agreement over LSH candidate pairs
    (expectation = pair Jaccard). Mass near num_hashes is true
    near-duplicates; mass at low agreement is false-positive band
    collisions, each of which costs a full Jaccard verify in the dedup
    pipeline — the histogram that tunes (bands, rows) before running
    it. Integer-only aggregation onto <= 17 keys; the oracle replays
    signatures, banding, the candidate join, and the agreement fold."""
    docs = _with_truncated_copies(load_table(spark, sf_dir, "documents"))
    return minhash_agreement_histogram(docs).orderBy("n_matching")
