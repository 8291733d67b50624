"""Multimodal query inventory (SURVEY.md §2.3 extension row
"multimodal columns").

The media table is derived deterministically from ``documents``
(operators/multimodal.py: payload = md5-chain bytes), so DuckDB rebuilds
byte-identical inputs and replays every byte-level computation — even the
``mapInPandas`` fake-decode query is fully value-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.multimodal import (
    byte_stats,
    decode_features,
    exact_dedup_assets,
    frame_sample,
    media_from_documents,
    payload_near_duplicates,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._util import davg, sql_davg
from kinesis_stream_spark.queries.dedup import _sql_simhash_pipeline
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


# DuckDB replay of media_from_documents (hex string side; payload = UNHEX)
SQL_MEDIA = """
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         UNHEX(MD5(text) || MD5('1|' || text) || MD5('2|' || text)) AS payload,
         CASE WHEN doc_id % 3 = 0 THEN (n_chars % 56) + 8 END AS width,
         CASE WHEN doc_id % 3 = 0 THEN ((n_chars * 7) % 56) + 8 END AS height,
         CASE WHEN doc_id % 3 = 1 THEN ((n_chars % 3) + 1) * 8000 END AS sample_rate,
         CASE WHEN doc_id % 3 = 1 THEN n_chars * 100 END AS n_samples,
         CASE WHEN doc_id % 3 = 2 THEN (n_chars % 2 + 1) * 12 END AS fps,
         CASE WHEN doc_id % 3 = 2 THEN (n_chars % 240) + 24 END AS n_frames
  FROM documents
"""

# byte values of the payload, via the same hex-slicing trick as
# operators.multimodal.payload_bytes
SQL_BYTES = (
    "[CAST(CAST('0x' || SUBSTR(HEX(payload), i * 2 - 1, 2) AS INT) AS INT) "
    "FOR i IN RANGE(1, CAST(LENGTH(HEX(payload)) / 2 AS INT) + 1)]"
)


@_q(
    "multimodal_catalog_stats",
    f"""
    WITH media AS ({SQL_MEDIA})
    SELECT kind, COUNT(*) AS n_media,
           CAST(SUM(OCTET_LENGTH(payload)) AS BIGINT) AS total_bytes,
           {sql_davg('COALESCE(width, sample_rate, fps)', 'avg_primary_dim')},
           MIN(media_id) AS first_id, MAX(media_id) AS last_id
    FROM media
    GROUP BY kind
    ORDER BY kind
    """,
)
def multimodal_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog scan over the media table: per-kind counts/bytes/dims.
    Metadata-only — the payload column's bytes are summed via
    octet_length without ever decoding (and at scale, parquet reads only
    the touched column chunks)."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        media.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            davg(
                F.coalesce(
                    F.col("meta.width"), F.col("meta.sample_rate"), F.col("meta.fps")
                ),
                "avg_primary_dim",
            ),
            F.min("media_id").alias("first_id"),
            F.max("media_id").alias("last_id"),
        )
        .orderBy("kind")
    )


@_q(
    "multimodal_byte_stats",
    f"""
    WITH media AS ({SQL_MEDIA}),
    b AS (SELECT media_id, kind, payload, {SQL_BYTES} AS bytes FROM media)
    SELECT media_id, kind, OCTET_LENGTH(payload) AS n_bytes,
           CAST(LIST_SUM(bytes) AS BIGINT) AS byte_sum,
           LIST_MIN(bytes) AS byte_min,
           LIST_MAX(bytes) AS byte_max,
           CAST(LIST_SUM(bytes) AS DOUBLE) / OCTET_LENGTH(payload) AS byte_mean
    FROM b
    ORDER BY media_id
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level features computed JVM-side (hex-slice → int array →
    aggregate): the no-Python fast path for cheap payload features."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return byte_stats(media).orderBy("media_id")


@_q(
    "multimodal_frame_sampling",
    f"""
    WITH media AS ({SQL_MEDIA})
    SELECT media_id, f.frame_idx, n_frames,
           CAST(f.frame_idx AS DOUBLE) / fps AS frame_ts_sec
    FROM media, UNNEST(RANGE(0, n_frames, 10)) AS f(frame_idx)
    WHERE kind = 'video'
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample planning: every 10th frame index + timestamp,
    one row per (media, frame) work unit. sequence+explode, no Python."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return frame_sample(media).orderBy("media_id", "frame_idx")


@_q(
    "multimodal_decode_features",
    f"""
    WITH media AS ({SQL_MEDIA}),
    b AS (SELECT media_id, kind, payload, {SQL_BYTES} AS bytes FROM media)
    SELECT media_id, kind,
           CAST(OCTET_LENGTH(payload) AS BIGINT) AS n_units,
           CAST(LIST_SUM(bytes) AS DOUBLE) / OCTET_LENGTH(payload) AS mean_value,
           LOWER(SUBSTR(HEX(payload), 1, 8)) AS feature_sig
    FROM b
    ORDER BY media_id
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInPandas`` decode path (deterministic fake decode — real
    codecs are stubbed, see operators/multimodal.py): Arrow-batched
    Python computing per-media features. Oracle-checked byte-for-byte,
    proving the Python batch path computes exactly what the JVM path
    would."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return decode_features(media).orderBy("media_id")


_DUP_OFFSET = 1_000_000


@_q(
    "multimodal_exact_dedup",
    f"""
    WITH media AS ({SQL_MEDIA}),
    catalog AS (
      SELECT media_id, payload FROM media
      UNION ALL
      SELECT media_id + {_DUP_OFFSET}, payload FROM media
    )
    SELECT MD5(HEX(payload)) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(media_id) AS canonical_id,
           MAX(media_id) AS max_id
    FROM catalog
    GROUP BY 1
    ORDER BY canonical_id
    """,
)
def multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed asset dedup: the catalog is the media table
    unioned with a re-ingested copy (shifted ids — the standard
    double-ingest scenario), so every content hash has exactly two
    copies and the canonical-id choice is exercised. Only 32-char
    digests shuffle; payloads never leave their scan tasks."""
    media = media_from_documents(load_table(spark, sf_dir, "documents")).select(
        "media_id", "payload"
    )
    copy = media.select(
        (F.col("media_id") + _DUP_OFFSET).alias("media_id"), "payload"
    )
    return exact_dedup_assets(media.unionAll(copy)).orderBy("canonical_id")


def _sql_hex_shingle_text(hex_expr: str, n_bytes: int = 4) -> str:
    """DuckDB twin of operators.multimodal.hex_shingle_text."""
    width = n_bytes * 2
    return (
        f"ARRAY_TO_STRING([SUBSTR({hex_expr}, i * 2 - 1, {width}) "
        f"FOR i IN RANGE(1, CAST(LENGTH({hex_expr}) / 2 AS INT) - {n_bytes - 1} + 1)]"
        ", ' ')"
    )


def _sql_payload_near_dup() -> str:
    orig = _sql_hex_shingle_text("HEX(payload)")
    corr = _sql_hex_shingle_text("('00' || SUBSTR(HEX(payload), 3))")
    # LENGTH(text) > 0 mirrors payload_near_duplicates' too-short-to-
    # shingle exclusion (empty shingle text must not be fingerprinted)
    docs_cte = f"""
      SELECT doc_id, text FROM (
        SELECT media_id AS doc_id, {orig} AS text FROM ({SQL_MEDIA})
        UNION ALL
        SELECT media_id + {_DUP_OFFSET} AS doc_id, {corr} AS text
        FROM ({SQL_MEDIA})
      ) WHERE LENGTH(text) > 0
    """
    return _sql_simhash_pipeline(max_hamming=3, blocks=4, input_cte=docs_cte)


@_q("multimodal_payload_near_dup", _sql_payload_near_dup())
def multimodal_payload_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset NEAR-dup, codec-free: the catalog is the media table
    plus single-byte-corrupted re-uploads (first byte zeroed, shifted
    ids) — the copies exact content-hashing can never link. SimHash over
    sliding 4-byte shingles of the raw payload + 15-bit block candidates
    + Hamming verify finds them without decoding anything; the oracle
    replays shingling, fingerprints, blocking, and the verify, so even
    the fingerprint pairs the blocking misses must match exactly."""
    media = media_from_documents(load_table(spark, sf_dir, "documents")).select(
        "media_id", "payload"
    )
    corrupted = media.select(
        (F.col("media_id") + _DUP_OFFSET).alias("media_id"),
        F.unhex(
            F.concat(F.lit("00"), F.expr("substr(hex(payload), 3)"))
        ).alias("payload"),
    )
    return payload_near_duplicates(
        media.unionAll(corrupted)
    ).orderBy("id_a", "id_b")
