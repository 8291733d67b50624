"""Engine function library: cross-engine deterministic primitives that the
extension operators (dedup / similarity / text / multimodal) build on.

- :mod:`hashing` — seeded 60-bit integer hashes derived from md5 (identical
  in Spark and DuckDB, so LSH/minhash/simhash pipelines are oracle-checkable
  end-to-end), tokenization, shingling.
- :mod:`vectors` — exact-decimal dot products / norms / cosine over
  ``array<float>`` embeddings (partition-order- and engine-independent).
"""

from kinesis_stream_spark.functions.hashing import (
    md5_int64,
    shingles,
    sql_md5_int64,
    sql_tokens,
    tokens,
)
from kinesis_stream_spark.functions.vectors import dot_decimal, sql_cosine

__all__ = [
    "dot_decimal",
    "md5_int64",
    "shingles",
    "sql_cosine",
    "sql_md5_int64",
    "sql_tokens",
    "tokens",
]
