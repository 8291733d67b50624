"""MinHash band-agreement histogram — staged for round-7 registration.

The banding-side twin of :func:`~kinesis_stream_spark.operators.dedup.
pair_distance_histogram` (which profiles SimHash Hamming distances):
over MinHash-LSH candidate pairs, the distribution of
signature-position agreement — ``n_matching`` of the
``DEFAULT_NUM_HASHES`` positions equal, whose expectation is exactly the pair's Jaccard
similarity. Read before committing to a (bands, rows) setting: mass
near ``DEFAULT_NUM_HASHES`` is true near-duplicates; mass at low agreement is
false-positive band collisions (bands too coarse for the corpus — each
such pair costs a full Jaccard verify downstream); the valley between
them is where the verify threshold belongs. Same production logic as
the SimHash histogram: profile first, run the expensive pipeline once.

Integer-only aggregation (agreement counts and pair counts), one
derived ``est_jaccard = n_matching / DEFAULT_NUM_HASHES`` divide per
output row (≤ DEFAULT_NUM_HASHES + 1 rows) — no float parity risk.

Scale shape: the band equi-join is the same candidate generator the
dedup pipeline uses (bucketed, never all-pairs); signatures re-attach
by two id equi-joins (candidates ≪ corpus); agreement is a zip_with
fold over two 16-element arrays, map-side; the final aggregate is a
hash agg onto ≤ 17 keys.

Input: ``documents(doc_id, text)``, by those names (the dedup module's
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.dedup import (
    DEFAULT_NUM_HASHES,
    _candidates_from_sigs,
    minhash_signatures,
)
from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.operators.minhash_sql import sql_minhash_candidate_ctes


def minhash_agreement_histogram(docs: DataFrame) -> DataFrame:
    """(n_matching, n_pairs, est_jaccard) over LSH candidate pairs,
    ordered by n_matching. ``est_jaccard`` is the MinHash estimator
    n_matching / DEFAULT_NUM_HASHES (single IEEE divide off exact integers).

    The signature frame feeds FIVE consumers (two sides of the band
    self-join, two sig re-attach joins, and the band derivation), and
    the shingle-explode + per-shingle-md5 behind it is the dominant map
    stage — so it is computed ONCE and localCheckpointed, the same
    measured ~2× trick ``lsh_pair_recall`` documents. Candidates are
    then derived from the checkpointed signatures directly."""
    sigs = pin(minhash_signatures(docs))
    cands = _candidates_from_sigs(sigs)
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
            (F.col("n_matching").cast("double") / F.lit(float(DEFAULT_NUM_HASHES))).alias(
                "est_jaccard"
            ),
        )
        .orderBy("n_matching")
    )


def sql_minhash_agreement_histogram(input_cte: str) -> str:
    """DuckDB replay over ``input_cte`` → ``docs(doc_id, text)``: the
    SHARED candidate chain (``operators/minhash_sql.py`` — consolidated
    in round 7, one source of truth for the hash/permutation/banding
    replay shared with ``queries/dedup._sql_minhash_pipeline``) plus
    this profile's position-agreement tail."""
    return f"""
    WITH {sql_minhash_candidate_ctes(input_cte)},
    agree AS (
      SELECT LEN(LIST_FILTER(LIST_ZIP(a.sig, b.sig),
                             z -> z[1] = z[2])) AS n_matching
      FROM cands c JOIN sig a ON a.doc_id = c.id_a
                   JOIN sig b ON b.doc_id = c.id_b
    )
    SELECT n_matching, COUNT(*) AS n_pairs,
           CAST(n_matching AS DOUBLE) / {float(DEFAULT_NUM_HASHES)!r} AS est_jaccard
    FROM agree
    GROUP BY n_matching
    ORDER BY n_matching
    """
