"""Dedup query inventory (SURVEY.md §2.3 extension rows; north-star ops).

Oracle strategy: every hash in operators/dedup.py is md5-derived
(functions/hashing.py), so the DuckDB oracle REPLAYS THE SAME ALGORITHM —
signatures, banding, candidate join, verification — rather than checking
row counts. Parity covers the whole pipeline, including which candidate
pairs LSH does and doesn't surface.

Near-dup inputs are constructed inside the query (documents ∪ copies with
offset ids: exact copies for J=1 recall, tail-truncated copies for J<1),
identically on both sides — the base table has no duplicates by
construction (synthetic unique token soup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import (
    WS_RUN,
    sql_md5_int64,
    sql_shingles,
    sql_tokens,
)
from kinesis_stream_spark.functions.vectors import sql_cosine
from kinesis_stream_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    duplicate_clusters,
    exact_dedup,
    near_duplicates_minhash,
    near_duplicates_simhash,
    ngram_jaccard_pairs,
)
from kinesis_stream_spark.operators.setjoin import (
    prefix_filter_jaccard_pairs,
    sql_prefix_filter_jaccard_pairs,
)
from kinesis_stream_spark.operators.similarity import cosine_pairs
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}

COPY_OFFSET = 100_000


_q = make_q(QUERIES, ORACLE)


def _with_exact_copies(docs: DataFrame) -> DataFrame:
    """documents ∪ byte-identical copies (ids offset): J=1.0 ground truth."""
    return docs.select("doc_id", "text").unionAll(
        docs.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
    )


def _with_truncated_copies(docs: DataFrame) -> DataFrame:
    """documents ∪ tail-truncated copies (last 3 tokens dropped): J<1 —
    exercises the near-dup (not identical) path of MinHash-LSH."""
    toks = F.split(F.col("text"), WS_RUN)
    trunc = F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ")
    return docs.select("doc_id", "text").unionAll(
        docs.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), trunc.alias("text"))
    )


SQL_EXACT_COPIES = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, text FROM documents
"""

_SQL_TOKS = sql_tokens("text")
SQL_TRUNCATED_COPIES = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id,
         ARRAY_TO_STRING({_SQL_TOKS}[1:GREATEST(LEN({_SQL_TOKS}) - 3, 1)], ' ') AS text
  FROM documents
"""


def _sql_minhash_pipeline(input_cte: str, threshold: float) -> str:
    """DuckDB replay of near_duplicates_minhash: the SHARED candidate
    chain (``operators/minhash_sql.py`` — one source of truth for the
    hash/permutation/banding replay) plus this pipeline's Jaccard-verify
    tail over the shingle sets."""
    from kinesis_stream_spark.operators.minhash_sql import sql_minhash_candidate_ctes

    return f"""
    WITH {sql_minhash_candidate_ctes(input_cte)}
    SELECT c.id_a, c.id_b,
           LEN(LIST_INTERSECT(a.sh, b.sh)) / LEN(LIST_DISTINCT(a.sh || b.sh)) AS jaccard
    FROM cands c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE LEN(LIST_INTERSECT(a.sh, b.sh)) / LEN(LIST_DISTINCT(a.sh || b.sh)) >= {threshold}
    ORDER BY id_a, id_b
    """


@_q(
    "dedup_exact_hash",
    """
    SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents)
    GROUP BY 1
    ORDER BY kept_id
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents ∪ exact copies: every group has exactly
    2 members and keeps the original id. One hash shuffle, no sort."""
    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    return exact_dedup(docs).orderBy("kept_id")


@_q("dedup_minhash_lsh_exact_copies", _sql_minhash_pipeline(SQL_EXACT_COPIES, 0.9))
def dedup_minhash_lsh_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH on documents ∪ identical copies. Identical shingle sets
    ⇒ identical signatures ⇒ every band collides ⇒ recall is exactly 1.0
    for the (d, d+offset) pairs; the Jaccard verify strips random band
    collisions. Oracle replays the identical pipeline."""
    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    return near_duplicates_minhash(docs, threshold=0.9).orderBy("id_a", "id_b")


@_q(
    "dedup_prefix_filter_exact_pairs",
    sql_prefix_filter_jaccard_pairs(SQL_TRUNCATED_COPIES, threshold=0.5),
)
def dedup_prefix_filter_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (prefix filtering, AllPairs/PPJoin) on
    the same truncated-copies corpus as ``dedup_minhash_lsh_near_copies``
    and at the same threshold: every pair with shingle Jaccard ≥ 0.5, NO
    LSH false negatives — the recall ceiling the banded pipeline is
    measured against. Candidates come from an equi-join on each set's
    rare-token prefix (df-ascending global order), never all-pairs; the
    oracle replays ordering, pruning, and verification integer-exactly."""
    docs = _with_truncated_copies(load_table(spark, sf_dir, "documents"))
    return prefix_filter_jaccard_pairs(docs, threshold=0.5).orderBy("id_a", "id_b")


@_q("dedup_minhash_lsh_near_copies", _sql_minhash_pipeline(SQL_TRUNCATED_COPIES, 0.5))
def dedup_minhash_lsh_near_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH where the copies are tail-truncated (J<1): exercises
    probabilistic banding on genuinely-near documents. The oracle replays
    the same algorithm, so even LSH *misses* must match exactly."""
    docs = _with_truncated_copies(load_table(spark, sf_dir, "documents"))
    return near_duplicates_minhash(docs, threshold=0.5).orderBy("id_a", "id_b")


def _sql_simhash_pipeline(
    max_hamming: int = 3,
    blocks: int = 4,
    input_cte: str | None = None,
    histogram: bool = False,
) -> str:
    """DuckDB replay of near_duplicates_simhash over any (doc_id, text)
    CTE (defaults to documents ∪ exact copies). ``histogram=True``
    replays pair_distance_histogram instead: no hamming threshold,
    distinct pairs folded to (hamming, n_pairs)."""
    from kinesis_stream_spark.operators.dedup import SIMHASH_BITS

    if input_cte is None:
        input_cte = SQL_EXACT_COPIES

    bits, width = SIMHASH_BITS, SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    fingerprint = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    block_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS block_id, "
        f"(simhash >> {b * width}) & {mask} AS block_bits FROM sims"
        for b in range(blocks)
    )
    if histogram:
        final = """,
    pairs AS (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b,
             BIT_COUNT(XOR(x.simhash, y.simhash)) AS hamming
      FROM blocked x JOIN blocked y
        ON x.block_id = y.block_id AND x.block_bits = y.block_bits
       AND x.id < y.id)
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY hamming ORDER BY hamming"""
    else:
        final = f"""
    SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           BIT_COUNT(XOR(x.simhash, y.simhash)) AS hamming
    FROM blocked x JOIN blocked y
      ON x.block_id = y.block_id AND x.block_bits = y.block_bits
     AND x.id < y.id
    WHERE BIT_COUNT(XOR(x.simhash, y.simhash)) <= {max_hamming}
    ORDER BY id_a, id_b"""
    return f"""
    WITH docs AS ({input_cte}),
    tok AS (SELECT doc_id AS id, {sql_md5_int64('t.tok')} AS h
            FROM docs, UNNEST({sql_tokens('text')}) AS t(tok)),
    bit_sums AS (SELECT id, {bit_sums} FROM tok GROUP BY id),
    sims AS (SELECT id, {fingerprint} AS simhash FROM bit_sums),
    blocked AS ({block_rows})
    {final}
    """


@_q("dedup_simhash_blocks", _sql_simhash_pipeline())
def dedup_simhash_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with 15-bit-block pigeonhole blocking + exact
    Hamming verify (≤3). Oracle replays the identical fingerprint and
    blocking computation."""
    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    return near_duplicates_simhash(docs, max_hamming=3, blocks=4).orderBy("id_a", "id_b")


@_q(
    "dedup_pair_distance_histogram",
    _sql_simhash_pipeline(input_cte=SQL_TRUNCATED_COPIES, histogram=True),
)
def dedup_pair_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-difficulty profile over documents ∪ tail-truncated copies:
    the Hamming-distance histogram of all blocked SimHash candidate
    pairs — the spike near 0 is the planted near-dups, the tail is
    block-collision background. Integer-only output; the oracle replays
    fingerprints, blocking, pair-dedup, and the fold."""
    from kinesis_stream_spark.operators.dedup import pair_distance_histogram

    docs = _with_truncated_copies(load_table(spark, sf_dir, "documents"))
    return pair_distance_histogram(docs, blocks=4).orderBy("hamming")


@_q(
    "dedup_ngram_jaccard_grouped",
    f"""
    WITH base AS (
      SELECT lang, source, doc_id AS id, LIST_DISTINCT({sql_tokens('text')}) AS toks
      FROM documents
    )
    SELECT x.lang, x.source, x.id AS id_a, y.id AS id_b,
           LEN(LIST_INTERSECT(x.toks, y.toks)) / LEN(LIST_DISTINCT(x.toks || y.toks))
             AS jaccard
    FROM base x JOIN base y
      ON x.lang = y.lang AND x.source = y.source AND x.id < y.id
    WHERE LEN(LIST_INTERSECT(x.toks, y.toks)) / LEN(LIST_DISTINCT(x.toks || y.toks)) >= 0.5
    ORDER BY x.lang, x.source, id_a, id_b
    """,
)
def dedup_ngram_jaccard_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard all-pairs within (lang, source) blocks — the
    blocking key bounds the quadratic term; group sizes stay O(10) here
    and would be salted/size-capped at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, ["lang", "source"], threshold=0.5).orderBy(
        "lang", "source", "id_a", "id_b"
    )


_SQL_CHAIN_COPIES = f"""
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, lang, source,
         ARRAY_TO_STRING({_SQL_TOKS}[1:GREATEST(LEN({_SQL_TOKS}) - 3, 1)], ' ') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {2 * COPY_OFFSET} AS doc_id, lang, source,
         ARRAY_TO_STRING({_SQL_TOKS}[1:GREATEST(LEN({_SQL_TOKS}) - 6, 1)], ' ') AS text
  FROM documents
"""


#: components of the chain-copy near-dup graph by a recursive walk —
#: membership is algorithm-independent, so both Spark kernels answer to it
_SQL_CHAIN_CLUSTERS = f"""
    WITH RECURSIVE edges AS (
      SELECT id_a AS a, id_b AS b
      FROM ({_sql_minhash_pipeline(_SQL_CHAIN_COPIES, 0.9)})
    ),
    sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
    walk(v, l) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.dst, w.l FROM walk w JOIN sym s ON s.src = w.v
    ),
    comp AS (SELECT v, MIN(l) AS comp FROM walk GROUP BY v)
    SELECT comp AS canonical_id, COUNT(*) AS cluster_size, MAX(v) AS max_id
    FROM comp GROUP BY comp
    ORDER BY canonical_id
    """


def _chain_copy_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (J ≥ 0.9) over documents ∪ their
    trunc-3 and trunc-6 copies: A~B and B~C edges exist where A~C may
    not — the transitive case pairwise dedup alone gets wrong."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), WS_RUN)

    def trunc(n: int) -> DataFrame:
        cut = F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - n, F.lit(1))), " ")
        return docs.select(
            (F.col("doc_id") + n // 3 * COPY_OFFSET).alias("doc_id"), cut.alias("text")
        )

    docs3 = docs.select("doc_id", "text").unionAll(trunc(3)).unionAll(trunc(6))
    return near_duplicates_minhash(docs3, threshold=0.9)


@_q("dedup_connected_components", _SQL_CHAIN_CLUSTERS)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: MinHash-LSH near-dup pairs (J ≥ 0.9
    over doc ∪ trunc-3 ∪ trunc-6 chain copies) collapsed into connected
    components via iterative min-label propagation, one row per cluster
    with its canonical (minimum) id. The chain construction means A~B
    and B~C edges exist where A~C may not — exactly the transitive case
    pairwise dedup alone gets wrong.

    Edge generation is the LSH candidate pipeline, not an all-co-token
    join: at 100 TB the pair source must be bucketed (band equi-join),
    and reusing it makes cluster resolution a cheap tail on the dedup
    pass (measured 18.7s → 11s at sf0.1 vs token-join edges). The DuckDB
    oracle replays the identical minhash pipeline, then computes the
    same components with a recursive CTE — cluster membership, not just
    counts, must agree."""
    return duplicate_clusters(_chain_copy_edges(spark, sf_dir)).orderBy("canonical_id")


@_q("dedup_clusters_bigstar", _SQL_CHAIN_CLUSTERS)
def dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE variant of ``dedup_connected_components``: identical
    edge pipeline (MinHash-LSH J ≥ 0.9 over the chain-copy corpus) and
    identical cluster output, but components resolved by alternating
    large-star/small-star rounds (Kiveris et al., SoCC 2014) — O(log² n)
    rounds independent of graph diameter, where min-label propagation
    needs O(diameter). The oracle is the SAME recursive CTE (component
    membership is algorithm-independent), so both variants are held to
    one truth; equality with the propagation twin plus the round-count
    win on a long-chain graph are pinned in tests/test_components.py."""
    from kinesis_stream_spark.operators.components import duplicate_clusters_bigstar

    return duplicate_clusters_bigstar(_chain_copy_edges(spark, sf_dir)).orderBy("canonical_id")


@_q(
    "dedup_embedding_cosine_pairs",
    f"""
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.3
    ORDER BY a.label, id_a, id_b
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: exact-decimal cosine ≥ 0.3 within label blocks
    (label ≙ the coarse bucket an ANN index would give at scale).

    ``max_group_vectorized=None``: the label key is a uniform 10-way
    quantizer bucket on this corpus (~N/10 vectors per group, far under
    one worker's memory at every test SF), so the hot-group guard's
    window count is skipped — a caller with unknown key skew would pass
    a bound instead (tests/test_similarity_guard.py covers that path)."""
    from kinesis_stream_spark.functions.vectors import valid_vector

    emb = load_table(spark, sf_dir, "embeddings").where(
        valid_vector(F.col("embedding"), 64)
    )
    return cosine_pairs(
        emb, group_cols=["label"], threshold=0.3, max_group_vectorized=None
    ).orderBy("label", "id_a", "id_b")


_NORM_HASH = "MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))"


def _sql_dedup_pipeline() -> str:
    docs3 = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {COPY_OFFSET} AS doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {2 * COPY_OFFSET} AS doc_id,
             ARRAY_TO_STRING({_SQL_TOKS}[1:GREATEST(LEN({_SQL_TOKS}) - 3, 1)], ' ')
               AS text
      FROM documents
    """
    s1 = f"""
      SELECT d.doc_id, d.text FROM ({docs3}) d
      JOIN (SELECT MIN(doc_id) AS doc_id FROM ({docs3}) GROUP BY {_NORM_HASH}) w
        ON d.doc_id = w.doc_id
    """
    return f"""
    WITH RECURSIVE
    edges AS (SELECT id_a AS a, id_b AS b
              FROM ({_sql_minhash_pipeline(s1, 0.5)})),
    sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
    walk(v, l) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.dst, w.l FROM walk w JOIN sym s ON s.src = w.v
    ),
    comp AS (SELECT v, MIN(l) AS comp FROM walk GROUP BY v),
    s1_out AS ({s1})
    SELECT s1_out.doc_id FROM s1_out
    WHERE NOT EXISTS (SELECT 1 FROM comp c
                      WHERE c.v = s1_out.doc_id AND c.v != c.comp)
    ORDER BY doc_id
    """


@_q("dedup_pipeline_survivors", _sql_dedup_pipeline())
def dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete production dedup pass over a worst-case catalog
    (documents ∪ byte-identical copies ∪ tail-truncated near-copies):
    exact-hash dedup drops the identical copies FIRST (so LSH never
    bands them), MinHash-LSH at J ≥ 0.5 finds the truncated near-copies
    among the exact survivors, and connected components resolve
    transitive chains to canonical documents. Survivors are the original
    corpus MINUS the few originals that merge transitively: when two
    short documents share a first token, their one-token truncations
    are exact duplicates, so orig_A ~ trunc ~ orig_B chains into one
    component and only the lower id survives — exactly the
    transitive-closure semantics the components stage exists for (~2%
    of docs at sf0.1). The oracle replays all three stages — the
    end-to-end path every training-corpus build runs."""
    from kinesis_stream_spark.operators.dedup import dedup_pipeline

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), WS_RUN)
    trunc = F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ")
    docs3 = (
        docs.select("doc_id", "text")
        .unionAll(
            docs.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
        )
        .unionAll(
            docs.select(
                (F.col("doc_id") + 2 * COPY_OFFSET).alias("doc_id"),
                trunc.alias("text"),
            )
        )
    )
    return dedup_pipeline(docs3).orderBy("doc_id")


# Hot-gram cap for the containment query. 3 is deliberately tight for
# the synthetic corpus (max union df is 4) so the cap path is exercised
# cross-engine: ~10 borderline pairs drop at sf0.01 and both engines
# must agree on exactly which. Production crawl corpora would use a
# larger absolute cap; what matters at 100 TB is that it exists.
_CONTAIN_MAX_DF = 3


@_q(
    "dedup_containment_prefix_copies",
    f"""
    WITH docs AS (
      SELECT lang, source, doc_id, text FROM documents
      UNION ALL
      SELECT lang, source, doc_id + {COPY_OFFSET} AS doc_id,
             ARRAY_TO_STRING(
               {_SQL_TOKS}[1:CAST(FLOOR((LEN({_SQL_TOKS}) + 1) / 2) AS INT)], ' '
             ) AS text
      FROM documents
    ),
    sh AS (SELECT lang, source, doc_id AS id, {sql_shingles('text', 3)} AS sh
           FROM docs),
    g AS (SELECT lang, source, id, t.g FROM sh, UNNEST(sh) AS t(g)),
    -- max_df hot-gram cap (join side only; sizes stay unfiltered) —
    -- QUALIFY is DuckDB's twin of Spark's count-over-window filter
    gc AS (
      SELECT * FROM g
      QUALIFY COUNT(*) OVER (PARTITION BY lang, source, g) <= {_CONTAIN_MAX_DF}
    ),
    inter AS (
      SELECT x.lang, x.source, x.id AS id_a, y.id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM gc x JOIN gc y
        ON x.lang = y.lang AND x.source = y.source
       AND x.g = y.g AND x.id < y.id
      GROUP BY 1, 2, 3, 4
    ),
    sz AS (SELECT id, LEN(sh) AS sz FROM sh)
    SELECT i.lang, i.source, i.id_a, i.id_b,
           i.inter / LEAST(a.sz, b.sz) AS containment
    FROM inter i JOIN sz a ON a.id = i.id_a JOIN sz b ON b.id = i.id_b
    WHERE i.inter / LEAST(a.sz, b.sz) >= 0.9
    ORDER BY i.lang, i.source, id_a, id_b
    """,
)
def dedup_containment_prefix_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment dedup over documents ∪ front-half copies: the
    half-doc's shingles are all present in its original, so containment
    is exactly 1.0 while Jaccard sits near 0.5 — the subset-duplication
    case (quote-in-page, truncated re-crawl) a Jaccard threshold never
    fires on. Blocked on (lang, source) with the ``max_df`` hot-gram cap
    on (the 100 TB boilerplate-skew guard); same sparse gram join as the
    Jaccard operator, oracle replays the identical capped pipeline."""
    from kinesis_stream_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), WS_RUN)
    half_len = F.floor((F.size(toks) + 1) / 2).cast("int")
    half = docs.select(
        "lang",
        "source",
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.array_join(F.slice(toks, 1, half_len), " ").alias("text"),
    )
    both = docs.select("lang", "source", "doc_id", "text").unionAll(half)
    return containment_pairs(
        both, ["lang", "source"], threshold=0.9, max_df=_CONTAIN_MAX_DF
    ).orderBy("lang", "source", "id_a", "id_b")



@_q(
    "dedup_exact_incremental",
    f"""
    WITH seen AS (
      SELECT DISTINCT {_NORM_HASH} AS content_hash
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + {COPY_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + {2 * COPY_OFFSET}, text FROM documents WHERE doc_id % 2 = 1
    ),
    winners AS (
      SELECT {_NORM_HASH} AS content_hash, MIN(doc_id) AS doc_id
      FROM batch GROUP BY 1
    )
    SELECT content_hash, doc_id FROM winners w
    -- NOT EXISTS, not NOT IN: the Spark side is a left_anti join, whose
    -- null-key semantics (keep batch rows whose hash is NULL; a NULL in
    -- seen matches nothing) NOT IN would invert on corpora with NULL
    -- documents.
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.content_hash = w.content_hash)
    ORDER BY doc_id
    """,
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-loop dedup: even-id docs play the already-ingested corpus
    (as a hash index), the batch is the odd-id docs plus re-deliveries
    of the ingested evens (must drop: seen before) plus shifted copies
    of the odds (must drop: in-batch duplicate, min id wins). Survivors
    are exactly the original odd ids — O(batch) work per round, the
    historical corpus is touched only through its digest index."""
    from kinesis_stream_spark.operators.dedup import (
        exact_dedup_incremental,
        seen_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    batch = (
        odd.select("doc_id", "text")
        .unionAll(
            even.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
        )
        .unionAll(
            odd.select((F.col("doc_id") + 2 * COPY_OFFSET).alias("doc_id"), "text")
        )
    )
    return exact_dedup_incremental(batch, seen_hashes(even)).orderBy("doc_id")


_CHUNK_K = 10

@_q(
    "dedup_duplicate_chunks",
    f"""
    WITH corpus AS ({{trunc}}),
    d AS (SELECT doc_id, {{toks}} AS toks FROM corpus),
    occ AS (
      SELECT doc_id, t.i AS idx,
             ARRAY_TO_STRING(toks[t.i * {_CHUNK_K} + 1 : t.i * {_CHUNK_K} + {_CHUNK_K}], ' ') AS chunk
      FROM d, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / {_CHUNK_K}.0) AS BIGINT))) AS t(i)),
    f AS (
      SELECT doc_id, idx, chunk,
             COUNT(*) OVER (PARTITION BY chunk) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
      FROM occ)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(COUNT(*) - SUM(CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS kept_fraction,
           COALESCE(STRING_AGG(chunk, ' ' ORDER BY idx)
                      FILTER (WHERE cnt = 1 OR rn = 1), '') AS clean_text
    FROM f GROUP BY doc_id
    """.format(trunc=SQL_TRUNCATED_COPIES, toks=sql_tokens("text")),
)
def dedup_duplicate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2020 §2.2) at
    10-token-chunk granularity over documents ∪ tail-truncated copies:
    aligned prefix chunks are corpus-duplicates (dropped from the copy,
    kept in the original), each copy's final partial chunk is unique and
    survives. The oracle replays chunking, global occurrence counting,
    first-occurrence ranking, and document reassembly."""
    from kinesis_stream_spark.operators.dedup import duplicate_chunk_removal

    docs = _with_truncated_copies(load_table(spark, sf_dir, "documents"))
    return duplicate_chunk_removal(docs, chunk_tokens=_CHUNK_K)


def _sql_bloom_prefilter() -> str:
    from kinesis_stream_spark.operators.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        BLOOM_WORD_BITS,
    )

    def pos(seed: int) -> str:
        return f"({sql_md5_int64('content_hash', seed)} % {BLOOM_M_BITS})"

    spos = " UNION ALL ".join(f"SELECT {pos(s)} AS pos FROM seen" for s in range(BLOOM_K))
    bpos = " UNION ALL ".join(
        f"SELECT doc_id, content_hash, {pos(s)} AS pos FROM batch"
        for s in range(BLOOM_K)
    )
    w, m = BLOOM_WORD_BITS, "CAST(1 AS BIGINT) << CAST(pos % {} AS INT)"
    mask = m.format(w)
    return f"""
    WITH seen AS (
      SELECT DISTINCT {_NORM_HASH} AS content_hash
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, {_NORM_HASH} AS content_hash
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + {COPY_OFFSET} AS doc_id, {_NORM_HASH} AS content_hash
      FROM documents WHERE doc_id % 2 = 0
    ),
    spos AS ({spos}),
    bitmap AS (
      SELECT pos // {w} AS word, BIT_OR({mask}) AS bits
      FROM spos GROUP BY 1
    ),
    bpos AS ({bpos}),
    probe AS (
      SELECT doc_id, content_hash, pos // {w} AS word, {mask} AS mask
      FROM bpos
    ),
    hits AS (
      SELECT doc_id, content_hash,
             MIN(CASE WHEN b.bits IS NOT NULL AND (b.bits & p.mask) = p.mask
                      THEN 1 ELSE 0 END) = 1 AS bloom_hit
      FROM probe p LEFT JOIN bitmap b USING (word)
      GROUP BY 1, 2
    )
    SELECT doc_id, content_hash, bloom_hit,
           bloom_hit AND EXISTS (SELECT 1 FROM seen s
                                 WHERE s.content_hash = h.content_hash) AS is_dup
    FROM hits h
    """


@_q("dedup_bloom_prefilter", _sql_bloom_prefilter())
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered ingest dedup: even-id docs are the seen corpus
    (bitmap-indexed), the batch is the odd docs (expected new) plus
    redelivered evens (expected bloom-hit + exact-dup). The oracle
    replays the full geometry — seeded md5 probes, 60-bit words, bit_or
    bitmap, word-join probe, exact-membership confirm — so parity covers
    the bitmap content and any false positives of the fixed geometry,
    not just the final verdicts."""
    from kinesis_stream_spark.operators.dedup import (
        bloom_prefilter_dedup,
        seen_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    batch = odd.select("doc_id", "text").unionAll(
        even.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
    )
    return bloom_prefilter_dedup(batch, seen_hashes(even))


def _sql_leakage_split() -> str:
    b = f"({sql_md5_int64('CAST(cluster_id AS VARCHAR)', 23)} % 100)"
    return f"""
    WITH corpus AS ({SQL_EXACT_COPIES}),
    hashes AS (SELECT doc_id, {_NORM_HASH} AS content_hash FROM corpus),
    cl AS (SELECT content_hash, MIN(doc_id) AS cluster_id
           FROM hashes GROUP BY 1),
    asn AS (SELECT h.doc_id, c.cluster_id
            FROM hashes h JOIN cl c USING (content_hash))
    SELECT doc_id, cluster_id,
           CASE WHEN {b} < 80 THEN 'train'
                WHEN {b} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM asn
    """


@_q("text_leakage_safe_split", _sql_leakage_split())
def text_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split over documents ∪ exact copies:
    the split hashes the duplicate-cluster id (min doc id per content
    hash), so a document and its copies always share a split — the
    leakage guard a doc-level random split lacks. The oracle replays
    clustering and the seeded split rule, pinning every assignment."""
    from kinesis_stream_spark.operators.dedup import normalized_text
    from kinesis_stream_spark.operators.text import leakage_safe_split

    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    h = F.md5(normalized_text(F.col("text")))
    hashes = docs.select("doc_id", h.alias("content_hash"))
    cl = hashes.groupBy("content_hash").agg(F.min("doc_id").alias("cluster_id"))
    per_doc = hashes.join(cl, "content_hash").select("doc_id", "cluster_id")
    return leakage_safe_split(docs, per_doc)


_SQL_META_TRUNC_COPIES = f"""
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, lang, source,
         ARRAY_TO_STRING({_SQL_TOKS}[1:GREATEST(LEN({_SQL_TOKS}) - 3, 1)], ' ') AS text
  FROM documents
"""


def _sql_lsh_recall() -> str:
    from kinesis_stream_spark.operators.dedup import MINHASH_MOD, minhash_perm_coeffs

    n, bands = DEFAULT_NUM_HASHES, DEFAULT_BANDS
    rows = n // bands
    sig_elems = ", ".join(
        f"MIN((h * {a} + {b}) % {MINHASH_MOD})" for a, b in minhash_perm_coeffs(n)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band_id,
            {sql_md5_int64(
                "ARRAY_TO_STRING(LIST_TRANSFORM("
                f"sig[{b * rows + 1}:{b * rows + rows}], x -> CAST(x AS VARCHAR)), ',')"
            )} AS band_hash FROM sig"""
        for b in range(bands)
    )
    return f"""
    WITH corpus AS ({_SQL_META_TRUNC_COPIES}),
    sh AS (SELECT doc_id, lang, source, {sql_shingles('text', 3)} AS sh FROM corpus),
    g AS (SELECT doc_id, lang, source, t.g FROM sh, UNNEST(sh) AS t(g)),
    inter AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g x JOIN g y
        ON x.lang = y.lang AND x.source = y.source
       AND x.g = y.g AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    sz AS (SELECT doc_id, LEN(sh) AS sz FROM sh),
    truth AS (
      SELECT i.id_a, i.id_b FROM inter i
      JOIN sz a ON a.doc_id = i.id_a JOIN sz b ON b.doc_id = i.id_b
      WHERE i.inter / (a.sz + b.sz - i.inter) >= 0.5),
    shh AS (SELECT doc_id, {sql_md5_int64('t.s')} % {MINHASH_MOD} AS h
            FROM sh, UNNEST(sh) AS t(s)),
    sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM shh GROUP BY doc_id),
    bands AS ({band_rows}),
    cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id),
    bcands AS (
      SELECT c.id_a, c.id_b FROM cands c
      JOIN corpus a ON a.doc_id = c.id_a
      JOIN corpus b ON b.doc_id = c.id_b
      WHERE a.lang = b.lang AND a.source = b.source),
    m AS (SELECT t.id_a, t.id_b FROM truth t
          WHERE EXISTS (SELECT 1 FROM bcands c
                        WHERE c.id_a = t.id_a AND c.id_b = t.id_b))
    SELECT
      (SELECT COUNT(*) FROM truth) AS n_truth,
      (SELECT COUNT(*) FROM bcands) AS n_candidates,
      (SELECT COUNT(*) FROM m) AS n_matched,
      CASE WHEN (SELECT COUNT(*) FROM truth) > 0
           THEN (SELECT COUNT(*) FROM m) * 1.0 / (SELECT COUNT(*) FROM truth)
           END AS recall,
      CASE WHEN (SELECT COUNT(*) FROM bcands) > 0
           THEN (SELECT COUNT(*) FROM m) * 1.0 / (SELECT COUNT(*) FROM bcands)
           END AS precision
    """


@_q("dedup_lsh_recall", _sql_lsh_recall())
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding quality gate: MinHash-LSH candidate recall/precision
    against exhaustive within-(lang, source) shingle-Jaccard truth at
    J ≥ 0.5, over documents ∪ tail-truncated copies. The oracle replays
    BOTH pipelines (exhaustive sparse-join truth and the banded
    candidate generator), so parity pins the measurement itself."""
    from kinesis_stream_spark.operators.dedup import lsh_pair_recall

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), WS_RUN)
    trunc = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " "
    )
    corpus = docs.select("doc_id", "lang", "source", "text").unionAll(
        docs.select(
            (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
            "lang",
            "source",
            trunc.alias("text"),
        )
    )
    return lsh_pair_recall(corpus, ["lang", "source"])

# Corrupt-vector guard for the embedding-cosine oracle (twin of the
# valid_vector filter on the Spark side); the shared helper restricts
# the rewrite to FROM/JOIN positions and fails loudly otherwise.
from kinesis_stream_spark.queries._emb_family import guard_oracles as _guard

ORACLE["dedup_embedding_cosine_pairs"] = _guard(
    {"dedup_embedding_cosine_pairs": ORACLE["dedup_embedding_cosine_pairs"]}
)["dedup_embedding_cosine_pairs"]


@_q("dedup_rare_term_cosine", None)  # assigned below
def dedup_rare_term_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 document pairs by tf cosine over the discriminative
    (df ≤ 20) trigram-phrase subspace — the tf-weighted MULTISET
    sibling of the PPJoin set join, blocked by the same rare-term
    equi-join it scores with; integer dot/norms, integer cosine²
    threshold prune, one sqrt+divide per surviving pair
    (operators/dedup.py)."""
    from kinesis_stream_spark.operators.dedup import rare_term_cosine_pairs

    return rare_term_cosine_pairs(
        load_table(spark, sf_dir, "documents"),
        max_df=20,
        min_cosine_ppm=500_000,
        top_k=50,
    )


from kinesis_stream_spark.operators.dedup import (  # noqa: E402
    sql_rare_term_cosine_pairs,
)

ORACLE["dedup_rare_term_cosine"] = sql_rare_term_cosine_pairs(
    max_df=20, min_cosine_ppm=500_000, top_k=50
)
