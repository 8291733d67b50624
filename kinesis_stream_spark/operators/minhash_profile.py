"""MinHash band-agreement histogram — staged for round-7 registration.

The banding-side twin of :func:`~kinesis_stream_spark.operators.dedup.
pair_distance_histogram` (which profiles SimHash Hamming distances):
over MinHash-LSH candidate pairs, the distribution of
signature-position agreement — ``n_matching`` of ``num_hashes``
positions equal, whose expectation is exactly the pair's Jaccard
similarity. Read before committing to a (bands, rows) setting: mass
near ``num_hashes`` is true near-duplicates; mass at low agreement is
false-positive band collisions (bands too coarse for the corpus — each
such pair costs a full Jaccard verify downstream); the valley between
them is where the verify threshold belongs. Same production logic as
the SimHash histogram: profile first, run the expensive pipeline once.

Integer-only aggregation (agreement counts and pair counts), one
derived ``est_jaccard = n_matching / num_hashes`` divide per output
row (≤ num_hashes + 1 rows) — no float parity risk.

Scale shape: the band equi-join is the same candidate generator the
dedup pipeline uses (bucketed, never all-pairs); signatures re-attach
by two id equi-joins (candidates ≪ corpus); agreement is a zip_with
fold over two 16-element arrays, map-side; the final aggregate is a
hash agg onto ≤ 17 keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    lsh_band_hashes,
    minhash_signatures,
)
from kinesis_stream_spark.operators.lineage import pin


def minhash_agreement_histogram(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """(n_matching, n_pairs, est_jaccard) over LSH candidate pairs,
    ordered by n_matching. ``est_jaccard`` is the MinHash estimator
    n_matching / num_hashes (single IEEE divide off exact integers).

    The signature frame feeds FIVE consumers (two sides of the band
    self-join, two sig re-attach joins, and the band derivation), and
    the shingle-explode + per-shingle-md5 behind it is the dominant map
    stage — so it is computed ONCE and localCheckpointed, the same
    measured ~2× trick ``lsh_pair_recall`` documents. Candidates are
    then derived from the checkpointed signatures directly (the same
    band join ``minhash_lsh_candidates`` runs, minus its from-text
    signature recompute)."""
    sigs = pin(minhash_signatures(
        docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ))
    banded = sigs.select(
        "id",
        F.explode(
            lsh_band_hashes(F.col("sig"), bands=bands, rows=num_hashes // bands)
        ).alias("b"),
    ).select("id", "b.band_id", "b.band_hash")
    cands = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    paired = (
        cands.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ).alias("n_matching")
        )
    )
    return (
        paired.groupBy("n_matching")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "n_matching",
            "n_pairs",
            (F.col("n_matching").cast("double") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
        )
        .orderBy("n_matching")
    )


def sql_minhash_agreement_histogram(
    input_cte: str,
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> str:
    """DuckDB replay over ``input_cte`` → ``docs(doc_id, text)``: the
    SHARED candidate chain (``operators/minhash_sql.py`` — consolidated
    in round 7, one source of truth for the hash/permutation/banding
    replay shared with ``queries/dedup._sql_minhash_pipeline``) plus
    this profile's position-agreement tail."""
    from kinesis_stream_spark.operators.minhash_sql import sql_minhash_candidate_ctes

    return f"""
    WITH {sql_minhash_candidate_ctes(
        input_cte, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )},
    agree AS (
      SELECT LEN(LIST_FILTER(LIST_ZIP(a.sig, b.sig),
                             z -> z[1] = z[2])) AS n_matching
      FROM cands c JOIN sig a ON a.doc_id = c.id_a
                   JOIN sig b ON b.doc_id = c.id_b
    )
    SELECT n_matching, COUNT(*) AS n_pairs,
           CAST(n_matching AS DOUBLE) / {float(num_hashes)!r} AS est_jaccard
    FROM agree
    GROUP BY n_matching
    ORDER BY n_matching
    """
