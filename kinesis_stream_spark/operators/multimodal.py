"""Multimodal column conventions: opaque ``binary`` payloads + typed
metadata structs, with decode / feature-extract / frame-sample operators.

Reference scope note: the reference's payload model is exactly this —
opaque bytes the consumer interprets (`Record.scala:15` `data: ByteString`;
the example decodes with `r.data.utf8String`,
`examples/src/main/scala/Main.scala:22`). These operators generalize that
to image/audio/video payloads for the training-data-pipeline surface.

Schema convention (the contract every source/sink of media rows uses)::

    media_id BIGINT,
    kind     STRING  ('image' | 'audio' | 'video'),
    payload  BINARY          -- opaque encoded bytes
    meta     STRUCT<width INT, height INT,        -- image
                    sample_rate INT, n_samples INT,  -- audio
                    fps INT, n_frames INT>           -- video (unused → NULL)

Scale design (100 TB):

- Payloads stay opaque bytes end-to-end; nothing decodes until an
  explicit decode operator runs, and that operator is ``mapInPandas``
  (Arrow batches, bounded memory via batch size) — the only sane shape
  for multi-MB blobs: no JVM<->Python per-row chatter, no collect.
- Metadata predicates (kind/dims/duration) prune BEFORE decode —
  filter pushdown on the scalar/struct columns means the parquet scan
  never materializes payloads of skipped rows (parquet column chunks).
- Real codecs (PIL/librosa/av) are not dependencies of the package:
  :func:`decode_features` is a deterministic fake (payload-byte
  interpretation), so the Spark-side plumbing — schema, batching,
  partitioning — is fully exercised and oracle-checked.

The test media table is derived deterministically from ``documents``
(payload = md5-chain bytes of the text), so the DuckDB oracle can rebuild
byte-identical inputs.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

from pyspark import cloudpickle

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_KINDS = ("image", "audio", "video")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table from `documents`: payload = unhex of a
    md5 chain over the text (48 bytes), kind = doc_id mod 3, metadata
    derived from n_chars. Every byte reproducible in any engine."""
    kind = F.element_at(F.array(*[F.lit(k) for k in MEDIA_KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    payload_hex = F.concat(
        F.md5(F.col("text")),
        F.md5(F.concat(F.lit("1|"), F.col("text"))),
        F.md5(F.concat(F.lit("2|"), F.col("text"))),
    )
    n = F.col("n_chars").cast("int")
    meta = F.struct(
        F.when(kind == "image", (n % 56) + 8).alias("width"),
        F.when(kind == "image", ((n * 7) % 56) + 8).alias("height"),
        F.when(kind == "audio", ((n % 3) + 1) * 8000).alias("sample_rate"),
        F.when(kind == "audio", n * 100).alias("n_samples"),
        F.when(kind == "video", (n % 2 + 1) * 12).alias("fps"),
        F.when(kind == "video", (n % 240) + 24).alias("n_frames"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.unhex(payload_hex).alias("payload"),
        meta.alias("meta"),
    )


def payload_bytes(payload: Column) -> Column:
    """``array<int>`` of byte values of a binary column — JVM-side only
    (hex → 2-char slices → base-16 conv). Lets byte-level features stay
    inside codegen instead of round-tripping to Python.

    The index range is guarded for empty payloads: Spark's
    ``sequence(1, 0)`` counts DOWN (yielding [1, 0], which would fake
    two zero bytes), while the DuckDB twin's RANGE(1, 1) is empty — the
    guard pins both to the empty array. NULL payloads stay NULL (the
    when-chain has no otherwise), matching RANGE over NULL."""
    h = F.hex(payload)
    n = (F.length(h) / 2).cast("int")
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).when(
        n.isNotNull(), F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.conv(F.substring(h, (i * 2 - 1).cast("int"), 2), 16, 10).cast("int"),
    )


def byte_stats(media: DataFrame) -> DataFrame:
    """Per-media byte statistics (the JVM fast path for cheap features:
    integer sums → one final division, engine-exact)."""
    b = payload_bytes(F.col("payload"))
    return media.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.aggregate(b, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("byte_sum"),
        F.array_min(b).alias("byte_min"),
        F.array_max(b).alias("byte_max"),
        (
            F.aggregate(b, F.lit(0).cast("bigint"), lambda a, x: a + x).cast("double")
            / F.octet_length("payload")
        ).alias("byte_mean"),
    )


def exact_dedup_assets(media: DataFrame) -> DataFrame:
    """Content-addressed exact dedup of binary assets: group by a hash
    of the payload bytes, one row per distinct content with copy count
    and the canonical (minimum) id — the FIRST dedup pass of any
    multimodal pipeline, run before any decode (hashing is cheap,
    decoding is not).

    The content key is md5 over the hex encoding of the bytes (not the
    raw bytes) because that is the form both engines hash identically —
    DuckDB's md5 is VARCHAR-only; hex is injective so the key is still
    content-addressed. Scale shape: single hash shuffle on the digest
    (uniform by construction — no skew possible), map-side partial agg;
    payload bytes never shuffle, only their 32-char digests do.
    """
    key = F.md5(F.hex(F.col("payload")))
    return media.groupBy(key.alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("media_id").alias("canonical_id"),
        F.max("media_id").alias("max_id"),
    )


#: shingle width of the binary near-dup path, in bytes
SHINGLE_BYTES = 4


def hex_shingle_text(hex_col: Column) -> Column:
    """Space-joined sliding ``SHINGLE_BYTES``-byte shingles of a hex-encoded
    payload — the byte-level analogue of word shingles, feeding the
    text SimHash machinery so binary NEAR-dup reuses the blocked join
    path verbatim. JVM-side only (substring slices over the hex string;
    no Python, no byte array materialization)."""
    width = SHINGLE_BYTES * 2
    count = (F.length(hex_col) / 2).cast("int") - (SHINGLE_BYTES - 1)
    # payloads shorter than SHINGLE_BYTES produce NO shingles (empty text) —
    # guarded explicitly because Spark's sequence(1, count<=0) counts
    # DOWN, while the DuckDB twin's RANGE is empty; NULL input stays
    # NULL (no otherwise-branch), matching SQL semantics
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).when(
        count.isNotNull(), F.array().cast("array<int>")
    )
    sh = F.transform(idx, lambda i: hex_col.substr((i * 2 - 1).cast("int"), F.lit(width)))
    return F.array_join(sh, " ")


def payload_near_duplicates(media: DataFrame) -> DataFrame:
    """Binary-asset NEAR-dup without decoding: 60-bit SimHash over
    sliding byte shingles of the raw payload, 15-bit block-equality
    candidates, exact Hamming ≤ 3 verify — catches re-encoded-with-tweaks /
    bit-flipped / header-patched copies that content-hash exact dedup
    (:func:`exact_dedup_assets`) misses, while staying codec-agnostic
    (a perceptual hash needs decode; byte shingles don't). Same scale
    shape as text SimHash: only (id, fingerprint) rows shuffle, payloads
    never leave the scan.

    Cites the reference's opaque-payload stance (`Record.scala:15`
    ``data: ByteString``): dedup must work on bytes the engine does not
    interpret.
    """
    from kinesis_stream_spark.operators.dedup import near_duplicates_simhash

    docs_like = media.select(
        F.col("media_id").alias("doc_id"),
        hex_shingle_text(F.hex(F.col("payload"))).alias("text"),
    # payloads too short to shingle (or NULL) are excluded BEFORE
    # fingerprinting: their empty text would tokenize to a single ''
    # token, giving every tiny asset the SAME SimHash and an O(n²)
    # false-duplicate blowup — a 1-byte icon is not a near-dup of a
    # 3-byte separator. Exact dedup (exact_dedup_assets) still links
    # identical tiny payloads.
    ).where(F.length("text") > 0)
    return near_duplicates_simhash(
        docs_like, max_hamming=3, blocks=4
    )


def frame_sample(media: DataFrame) -> DataFrame:
    """Frame sampling plan for video rows: one output row per sampled
    frame index (every 10th: 0, 10, 20, …) with its timestamp. Pure JVM
    sequence+explode — the downstream decode operator receives
    (media_id, frame_idx) work units, which is what distributes frame
    extraction at scale."""
    v = media.where(F.col("kind") == "video")
    idx = F.explode(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(10))
    ).alias("frame_idx")
    return v.select("media_id", F.col("meta.fps").alias("fps"), F.col("meta.n_frames").alias("n_frames"), idx).select(
        "media_id",
        "frame_idx",
        "n_frames",
        (F.col("frame_idx").cast("double") / F.col("fps")).alias("frame_ts_sec"),
    )


_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_units", LongType()),
        StructField("mean_value", DoubleType()),
        StructField("feature_sig", StringType()),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` (Arrow-batched).

    The decode is a deterministic fake that treats payload bytes as the
    decoded samples/pixels (n_units = byte count, mean_value = byte
    mean, feature_sig = hex of the 4 leading bytes), so schema, batch
    shape, and partition behavior are real and oracle-checkable.
    """
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_units": payloads.map(len).astype("int64"),
                    # exact: integer byte sum / count in float64 — one IEEE divide
                    "mean_value": payloads.map(lambda b: sum(b)) / payloads.map(len),
                    "feature_sig": payloads.map(lambda b: bytes(b[:4]).hex()),
                }
            )
            yield out

    # spread on media_id, NOT repartition("kind"): 3 kinds → at most 3
    # busy tasks would decode the whole corpus regardless of cluster
    # size; decode units must distribute by asset
    from kinesis_stream_spark.sources.batch import spread

    src = spread(media.select("media_id", "kind", "payload"), "media_id")
    return src.mapInPandas(decode, schema=_DECODE_SCHEMA)


# Ship function bodies by value — executors must not need this package
# importable (see functions/udfs.py).
cloudpickle.register_pickle_by_value(sys.modules[__name__])
