"""The ONE DuckDB replay of the MinHash-LSH candidate pipeline.

``queries/dedup._sql_minhash_pipeline`` (pairs + Jaccard verify) and
``operators/minhash_profile.sql_minhash_agreement_histogram``
(band-agreement histogram) previously each carried their own copy of
the shingle → hash → signature → banding → candidate-join CTE chain —
any banding or hash change had to land in every copy or the oracles
would silently diverge from each other. Consolidated here per the
round-6 deferral note ("one shared builder, the round the dedup family
rotates through a verification window"): both consumers now build
their SQL on this chain and differ only in their tails.

The chain replays ``operators/dedup.near_duplicates_minhash`` exactly:
same md5 base hash, same linear permutations mod ``MINHASH_MOD``, same
per-band md5 bucket hash, same ``id_a < id_b`` candidate join.
"""

from __future__ import annotations

from kinesis_stream_spark.functions.hashing import sql_md5_int64, sql_shingles
from kinesis_stream_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    MINHASH_MOD,
    minhash_perm_coeffs,
)


def sql_minhash_candidate_ctes(input_cte: str) -> str:
    """CTE chain (comma-joined, no leading WITH) over
    ``input_cte → docs(doc_id, text)``, ending in:

    - ``sh(doc_id, sh)`` — shingle sets (for Jaccard verification)
    - ``sig(doc_id, sig)`` — MinHash signatures
    - ``cands(id_a, id_b)`` — distinct LSH candidate pairs
    """
    rows = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    sig_elems = ", ".join(
        f"MIN((h * {a} + {b}) % {MINHASH_MOD})"
        for a, b in minhash_perm_coeffs()
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_id,
            {sql_md5_int64(
                "ARRAY_TO_STRING(LIST_TRANSFORM("
                f"sig[{b * rows + 1}:{b * rows + rows}], x -> CAST(x AS VARCHAR)), ',')"
            )} AS band_hash FROM sig"""
        for b in range(DEFAULT_BANDS)
    )
    return f"""
    docs AS ({input_cte}),
    sh AS (SELECT doc_id, {sql_shingles('text', 3)} AS sh FROM docs),
    shh AS (SELECT doc_id, {sql_md5_int64('t.s')} % {MINHASH_MOD} AS h
            FROM sh, UNNEST(sh) AS t(s)),
    sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM shh GROUP BY doc_id),
    bands AS ({band_rows}),
    cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    )"""
