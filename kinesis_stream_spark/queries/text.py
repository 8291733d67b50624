"""Text-analysis query inventory (documents table; SURVEY.md §2.3
extension row "text analysis").

Every query is the *operator* from operators/text.py applied to the
documents table, with a DuckDB oracle that replays the identical
algorithm (same regexes, same marker sets, same modular fingerprint
arithmetic) — parity validates the computation, not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.text import (
    BPE_PATTERN,
    sql_bigram_novelty,
    sql_keyword_extraction,
    LANG_MARKERS,
    STOPWORDS,
    chunk_windows,
    decontaminate_ngram_overlap,
    language_id,
    pack_sequences,
    quality_features,
    rolling_fingerprint,
    sql_chunk_windows,
    sql_count_in_set,
    sql_rolling_fingerprint,
    sql_winnowed_fingerprints,
    stratified_sample,
    term_stats_topk,
    token_stats,
    winnowed_fingerprints,
)
from kinesis_stream_spark.functions.hashing import sql_md5_int64, sql_shingles, sql_tokens
from kinesis_stream_spark.operators.cms import cm_heavy_hitters, sql_cm_heavy_hitters
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}

_TOKS = sql_tokens("text")


_q = make_q(QUERIES, ORACLE)


@_q(
    "text_token_stats",
    f"""
    SELECT doc_id,
           LEN({_TOKS}) AS n_tokens,
           LEN(LIST_DISTINCT({_TOKS})) AS n_distinct,
           LEN(REGEXP_EXTRACT_ALL(text, '{BPE_PATTERN}')) AS n_subwords,
           LENGTH(text) AS n_chars,
           CAST(LENGTH(text) AS DOUBLE) / LEN({_TOKS}) AS chars_per_token
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish subwords, distinct
    tokens, chars/token. Pure map — no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs).orderBy("doc_id")


def _sql_quality() -> str:
    n = f"LEN({_TOKS})"
    distinct_ratio = f"(CAST(LEN(LIST_DISTINCT({_TOKS})) AS DOUBLE) / {n})"
    stop_ratio = f"(CAST({sql_count_in_set(_TOKS, STOPWORDS)} AS DOUBLE) / {n})"
    alpha_ratio = (
        "(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
        " / GREATEST(LENGTH(text), 1))"
    )
    length_factor = f"(CAST(LEAST({n}, 100) AS DOUBLE) / 100.0)"
    score = (
        f"{distinct_ratio} * 0.3 + (1.0 - {stop_ratio}) * 0.2 + "
        f"{alpha_ratio} * 0.2 + {length_factor} * 0.3"
    )
    return f"""
    SELECT doc_id, {n} AS n_tokens,
           {distinct_ratio} AS distinct_ratio,
           {stop_ratio} AS stopword_ratio,
           {alpha_ratio} AS alpha_ratio,
           {length_factor} AS length_factor,
           {score} AS quality_score
    FROM documents
    ORDER BY doc_id
    """


@_q("text_quality_score", _sql_quality())
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: distinct/stopword/alpha ratios + length factor →
    fixed-weight composite in [0,1]. The filter stage of a training-data
    pipeline (`WHERE quality_score >= θ` downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs).orderBy("doc_id")


def _sql_language_id() -> str:
    scores = ", ".join(
        f"{sql_count_in_set(_TOKS, m)} AS score_{lang}"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang, {scores} FROM documents
    )
    SELECT *, {pred} AS pred_lang FROM scored
    ORDER BY doc_id
    """


@_q("text_language_id", _sql_language_id())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-word profiles: per-language hit counts and a
    deterministic argmax (ties → lexicographically first code)."""
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).orderBy("doc_id")


@_q(
    "text_fingerprint_rolling",
    f"""
    SELECT doc_id, {sql_rolling_fingerprint('text')} AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware rolling-hash fingerprint (modular Horner fold over
    the token sequence) — the cheap exact-ish dup signal that, unlike
    minhash sets, distinguishes permuted documents."""
    docs = load_table(spark, sf_dir, "documents")
    return rolling_fingerprint(docs).orderBy("doc_id")


@_q(
    "text_fingerprint_winnowed",
    f"""
    WITH fp AS (
      SELECT doc_id, {sql_winnowed_fingerprints('text')} AS fps FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           LEN(fps) AS n_fps,
           fps[1] AS fp_first,
           fps[-1] AS fp_last,
           MD5(ARRAY_TO_STRING(fps, ',')) AS fp_md5
    FROM fp
    ORDER BY doc_id
    """,
)
def text_fingerprint_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (min-hash per sliding window of 3-gram
    hashes, distinct + sorted): MOSS-style local-edit-robust signatures.

    The operator emits array<bigint> per doc; this query projects a flat
    summary (count, first/last, md5 of the comma-joined sorted array) so
    the result stays tabular for hash-based correctness gates — the md5
    checksum is bit-sensitive to the full fingerprint set, so parity here
    is parity on every element."""
    docs = load_table(spark, sf_dir, "documents")
    fps = F.col("fingerprints")
    return (
        winnowed_fingerprints(docs)
        .select(
            "doc_id",
            F.size(fps).alias("n_fps"),
            F.try_element_at(fps, F.lit(1)).alias("fp_first"),
            F.try_element_at(fps, F.lit(-1)).alias("fp_last"),
            F.md5(F.concat_ws(",", F.transform(fps, lambda x: x.cast("string")))).alias(
                "fp_md5"
            ),
        )
        .orderBy("doc_id")
    )


@_q(
    "text_top_terms_per_lang",
    f"""
    WITH tok AS (
      SELECT lang AS grp, doc_id AS id, t.token
      FROM documents, UNNEST({_TOKS}) AS t(token)
    ),
    stats AS (
      SELECT grp, token, COUNT(*) AS tf, COUNT(DISTINCT id) AS df
      FROM tok GROUP BY grp, token
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                                   ORDER BY tf DESC, token) AS rank
      FROM stats WHERE df >= 2
    )
    SELECT grp AS lang, token, tf, df, rank
    FROM ranked WHERE rank <= 5
    ORDER BY lang, rank
    """,
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-frequency top-5 terms per language with document
    frequency (integer-only tf/df — no idf log, so cross-engine exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return term_stats_topk(docs, group_col="lang").orderBy("lang", "rank")


def _sql_curation_pipeline(threshold: float = 0.65) -> str:
    """Composite pipeline oracle: quality CTE + lang-ID CTE + exact-dedup
    CTE + final per-language aggregate, reusing the same SQL fragments as
    the standalone stage oracles."""
    n = f"LEN({_TOKS})"
    distinct_ratio = f"(CAST(LEN(LIST_DISTINCT({_TOKS})) AS DOUBLE) / {n})"
    stop_ratio = f"(CAST({sql_count_in_set(_TOKS, STOPWORDS)} AS DOUBLE) / {n})"
    alpha_ratio = (
        "(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
        " / GREATEST(LENGTH(text), 1))"
    )
    length_factor = f"(CAST(LEAST({n}, 100) AS DOUBLE) / 100.0)"
    score = (
        f"{distinct_ratio} * 0.3 + (1.0 - {stop_ratio}) * 0.2 + "
        f"{alpha_ratio} * 0.2 + {length_factor} * 0.3"
    )
    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{sql_count_in_set(_TOKS, m)} AS score_{lang}"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    best = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH featured AS (
      SELECT doc_id, text, {n} AS n_tokens, {score} AS quality_score, {scores}
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, n_tokens, quality_score, {pred} AS pred_lang
      FROM featured
      WHERE quality_score >= {threshold}
    ),
    deduped AS (
      SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS h,
             MIN(doc_id) AS kept_id
      FROM kept GROUP BY 1
    )
    SELECT pred_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           (CAST(SUM(CAST(FLOOR(quality_score * 1000000.0) AS BIGINT)) AS DOUBLE)
            / 1000000.0) / COUNT(*) AS avg_quality
    FROM kept JOIN deduped ON doc_id = kept_id
    GROUP BY pred_lang
    ORDER BY pred_lang
    """


@_q("text_curation_pipeline", _sql_curation_pipeline())
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation composite: quality-score →
    filter → language-ID → exact-dedup (keep lowest id per normalized
    content) → per-language corpus stats. One declarative plan: the
    per-document feature stages are column expressions in a single
    projection (no joins, no materialization between 'stages'), so the
    shuffles are exactly the dedup groupBy, the winners join-back, and
    the final per-language aggregate — the shape a 100 TB curation run
    wants."""
    from kinesis_stream_spark.operators.dedup import normalized_text
    from kinesis_stream_spark.operators.text import pred_lang_col, quality_columns

    docs = load_table(spark, sf_dir, "documents")
    q = quality_columns("text")
    kept = docs.select(
        "doc_id",
        "text",
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        pred_lang_col("text").alias("pred_lang"),
    ).where(F.col("quality_score") >= 0.65)
    deduped = (
        kept.groupBy(F.md5(normalized_text(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("kept_id"))
        .select(F.col("kept_id").alias("doc_id"))
    )
    return (
        kept.join(deduped, "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # fixed-point accumulation via floor(score*1e6), NOT a
            # DECIMAL cast: casting an arbitrary double to DECIMAL
            # rounds ties differently across engines (Spark rounds the
            # exact BigDecimal expansion, DuckDB rounds the IEEE
            # product — caught by the sf0.1 parity sweep); floor of the
            # identical multiply has no tie semantics to disagree on
            (
                F.sum(F.floor(F.col("quality_score") * 1000000.0).cast("long")).cast(
                    "double"
                )
                / 1000000.0
                / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
        .orderBy("pred_lang")
    )


# --- training-set curation: decontamination / mixing / packing ---------------

_PROBE_MAX_ID = 20  # doc_id < 20 plays the benchmark/eval set
_SHINGLES5 = sql_shingles("text", 5)


@_q(
    "text_decontaminate_overlap",
    f"""
    WITH probe AS (
      SELECT DISTINCT t.g FROM documents, UNNEST({_SHINGLES5}) AS t(g)
      WHERE doc_id < {_PROBE_MAX_ID}
    ),
    corpus AS (
      SELECT doc_id, t.g
      FROM (SELECT doc_id, {_SHINGLES5} AS sh FROM documents
            WHERE doc_id >= {_PROBE_MAX_ID}), UNNEST(sh) AS t(g)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN g IN (SELECT g FROM probe) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN g IN (SELECT g FROM probe) THEN 1 ELSE 0 END)
                AS BIGINT) / COUNT(*) AS contamination
    FROM corpus
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct 5-grams that occur in the eval set (docs with id < 20 play
    the benchmark). Broadcast semi-join of the small probe-gram set
    against map-side exploded corpus grams — no quadratic term, corpus
    never collected."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") < _PROBE_MAX_ID)
    corpus = docs.where(F.col("doc_id") >= _PROBE_MAX_ID)
    return decontaminate_ngram_overlap(corpus, probe).orderBy("doc_id")


_MIX_RATES = {"de": 0.25, "en": 0.5, "es": 0.1, "fr": 0.75, "zh": 1.0}


def _sql_mix_keep() -> str:
    bucket = f"({sql_md5_int64('CAST(doc_id AS VARCHAR)')} % 1000)"
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {bucket} < {int(rate * 1000)}"
        for lang, rate in sorted(_MIX_RATES.items())
    )
    return f"CASE {cases} ELSE {bucket} < 1000 END"


@_q(
    "text_stratified_sample",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           MIN(doc_id) AS min_kept,
           MAX(doc_id) AS max_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE {_sql_mix_keep()}
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-language deterministic hash sampling (md5 bucket
    rule, not RNG) at per-stratum rates — upweight rare languages,
    downsample dominant ones. Reproducible across engines, runs, and
    appends; summarized per language for the gate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, _MIX_RATES, stratum_col="lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_kept"),
            F.max("doc_id").alias("max_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("lang")
    )


_PACK_CAPACITY = 512


@_q(
    "text_pack_sequences",
    f"""
    WITH sized AS (
      SELECT source, doc_id, LEN({_TOKS}) AS n_toks FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
      FROM sized
    )
    SELECT source, doc_id, n_toks,
           cum_before // {_PACK_CAPACITY} AS chunk_id,
           cum_before % {_PACK_CAPACITY} AS chunk_offset
    FROM packed
    ORDER BY source, doc_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: docs concatenated in id order within each
    source stream, cut every {cap} tokens — chunk id + offset per doc via
    one distributed running-sum window (partitioned by source, never a
    global sort). Integer-only arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=_PACK_CAPACITY).orderBy("source", "doc_id")


# --- repetition filtering / PII scrubbing ------------------------------------


@_q(
    "text_repetition_stats",
    f"""
    WITH uni AS (
      SELECT doc_id AS id, t.g FROM documents, UNNEST({_TOKS}) AS t(g)
    ),
    uc AS (SELECT id, g, COUNT(*) AS c FROM uni GROUP BY id, g),
    ua AS (SELECT id, CAST(SUM(c) AS BIGINT) AS uni_total, MAX(c) AS uni_top,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS uni_dup
           FROM uc GROUP BY id),
    bt AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    bi AS (
      SELECT id, u.g
      FROM (SELECT id, CASE WHEN LEN(toks) >= 2
                   THEN [ARRAY_TO_STRING(toks[i:i+1], ' ') FOR i IN RANGE(1, LEN(toks))]
                   ELSE [] END AS bgs FROM bt), UNNEST(bgs) AS u(g)
    ),
    bc AS (SELECT id, g, COUNT(*) AS c FROM bi GROUP BY id, g),
    ba AS (SELECT id, CAST(SUM(c) AS BIGINT) AS bi_total, MAX(c) AS bi_top,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS bi_dup
           FROM bc GROUP BY id)
    SELECT ua.id AS doc_id,
           uni_total AS n_tokens,
           CAST(uni_top AS DOUBLE) / uni_total AS top_token_fraction,
           CAST(uni_dup AS DOUBLE) / uni_total AS dup_token_fraction,
           COALESCE(bi_total, 0) AS n_bigrams,
           CAST(bi_top AS DOUBLE) / bi_total AS top_bigram_fraction,
           CAST(bi_dup AS DOUBLE) / bi_total AS dup_bigram_fraction
    FROM ua LEFT JOIN ba ON ua.id = ba.id
    ORDER BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-token / duplicate-token
    fractions and the same over word bigrams — the standard
    "repetitious document" drop rules in pre-training curation. Two
    hash aggregations per gram order, map-side combined; nothing held
    per-row, so document length is unbounded."""
    from kinesis_stream_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


# Deterministic PII injection: the synthetic corpus contains no PII, so
# the query plants one email / IPv4 / phone per document (derived from
# doc_id — reproducible on both engines) and the operator must find and
# scrub exactly those.
_PII_TEXT_SQL = (
    "(text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 call +12 345 ' || CAST(1000 + doc_id % 9000 AS VARCHAR))"
)


def _sql_pii_scrub() -> str:
    from kinesis_stream_spark.operators.text import sql_pii_scrub_columns

    counts, scrubbed = sql_pii_scrub_columns(_PII_TEXT_SQL)
    return f"""
    SELECT doc_id, {counts},
           LENGTH({scrubbed}) AS scrubbed_len,
           MD5({scrubbed}) AS scrubbed_md5
    FROM documents
    ORDER BY doc_id
    """


@_q("text_pii_scrub", _sql_pii_scrub())
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect-and-mask (emails, IPv4s, phone numbers): per-doc match
    counts plus md5+length of the scrubbed text. Patterns restricted to
    the regex subset Java and RE2 interpret identically; replacement
    order is part of the operator contract. Pure map stage — the
    redaction pass before tokenization in a compliance-bound pipeline."""
    from kinesis_stream_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +12 345 "),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    )
    return pii_scrub(injected).orderBy("doc_id")


_SHINGLES3 = sql_shingles("text", 3)


@_q(
    "text_boilerplate_fraction",
    f"""
    WITH g AS (
      SELECT doc_id, t.g FROM documents, UNNEST({_SHINGLES3}) AS t(g)
    ),
    gdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS boilerplate_fraction
    FROM g JOIN gdf USING (g)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: per doc, the fraction of its distinct
    3-gram shingles whose corpus document-frequency is >= 5 — flags
    template-dominated documents (the complement of the within-doc
    repetition filters). Gram-keyed shuffles only; nothing broadcast."""
    from kinesis_stream_spark.operators.text import boilerplate_fraction

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_fraction(docs).orderBy("doc_id")


@_q(
    "text_token_rarity",
    f"""
    WITH tok AS (
      SELECT doc_id AS id, t.tok FROM documents, UNNEST({_TOKS}) AS t(tok)
    ),
    vocab AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
    ranked AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rank FROM vocab
    )
    SELECT id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(rank) AS BIGINT) AS rank_sum,
           CAST(SUM(rank) AS DOUBLE) / COUNT(*) AS mean_rank
    FROM tok JOIN ranked USING (tok)
    GROUP BY id
    ORDER BY doc_id
    """,
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics rarity score: global frequency rank per token
    (most common = 1, ties by token string), mean rank per document —
    the deterministic stand-in for unigram-LM quality scoring (integer
    ranks avoid libm log, whose last-ulp rounding differs across
    engines). The oracle replays ranking and scoring end-to-end."""
    from kinesis_stream_spark.operators.text import token_rarity

    docs = load_table(spark, sf_dir, "documents")
    return token_rarity(docs).orderBy("doc_id")


@_q(
    "text_domain_cap",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {sql_md5_int64("source || '|' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS pick_rank,
             COUNT(*) OVER (PARTITION BY source) AS n_domain_docs
      FROM documents)
    SELECT doc_id, source, pick_rank, n_domain_docs
    FROM r WHERE pick_rank <= 15
    """,
)
def text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap over the documents table (≤15 docs per source,
    deterministic hash-ranked sample). Oracle replays the seeded-hash
    ordering, so parity pins WHICH documents survive, not just counts."""
    from kinesis_stream_spark.operators.text import domain_cap

    return domain_cap(load_table(spark, sf_dir, "documents"), cap=15)


# Per-source sampling weights > 1 mean up-sampling (epoch repeats);
# fractions are deterministic md5-bucket keeps; unlisted sources get 1.0.
_MIX_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 0.0, "src3": 1.75}


def _sql_mixture_copies() -> str:
    bucket = f"({sql_md5_int64('CAST(doc_id AS VARCHAR)')} % 1000)"
    cases = " ".join(
        f"WHEN source = '{src}' THEN {int(w)} + "
        f"(CASE WHEN {bucket} < {int(round((w - int(w)) * 1000))} THEN 1 ELSE 0 END)"
        for src, w in sorted(_MIX_WEIGHTS.items())
    )
    return (
        f"CASE {cases} ELSE 1 + (CASE WHEN {bucket} < 0 THEN 1 ELSE 0 END) END"
    )


@_q(
    "text_weighted_mixture",
    f"""
    WITH counted AS (
      SELECT doc_id, source,
             CAST({_sql_mixture_copies()} AS BIGINT) AS n_copies
      FROM documents
    )
    SELECT doc_id, source, n_copies, u.copy_idx
    FROM (SELECT * FROM counted WHERE n_copies > 0),
         UNNEST(RANGE(1, n_copies + 1)) AS u(copy_idx)
    ORDER BY doc_id, copy_idx
    """,
)
def text_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixing WITH up-sampling: weight 2.5 emits every
    doc twice plus a deterministic half of them a third time; 0.25 keeps
    a quarter; 0 drops the source. The epoch-repeat generalization of
    stratified sampling — how pre-training mixes are actually specified.
    Map + explode only; the oracle replays copy counts AND the exploded
    copy identities."""
    from kinesis_stream_spark.operators.text import weighted_mixture

    docs = load_table(spark, sf_dir, "documents")
    return weighted_mixture(docs, _MIX_WEIGHTS, stratum_col="source").orderBy(
        "doc_id", "copy_idx"
    )


_SUB_PROBE_N = 8  # docs with doc_id < 8 donate one verbatim probe each
_SUB_PROBE_OFF, _SUB_PROBE_LEN = 17, 48


@_q(
    "text_substring_decontaminate",
    f"""
    WITH probes AS (
      -- LENGTH(probe) > 0 mirrors the operator's empty/NULL-probe drop:
      -- STRPOS(text, '') = 1 would flag the whole corpus
      SELECT doc_id AS probe_id,
             SUBSTR(text, {_SUB_PROBE_OFF}, {_SUB_PROBE_LEN}) AS probe
      FROM documents
      WHERE doc_id < {_SUB_PROBE_N}
        AND LENGTH(SUBSTR(text, {_SUB_PROBE_OFF}, {_SUB_PROBE_LEN})) > 0
    ),
    hits AS (
      SELECT d.doc_id, p.probe_id,
             (STRPOS(d.text, p.probe) > 0) AS hit
      FROM documents d CROSS JOIN probes p
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_probes_hit,
           MIN(CASE WHEN hit THEN probe_id END) AS first_probe_id
    FROM hits
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination: per corpus doc, how many of the
    verbatim probe strings (48-char spans donated by docs 0-7, playing
    the eval/canary list) appear via ``instr`` — the second hygiene gate
    n-gram overlap misses for short literal strings. Probe set
    broadcasts; the corpus scan is map-only with one partial-agg
    exchange carrying a single row per document."""
    from kinesis_stream_spark.operators.text import exact_substring_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") < _SUB_PROBE_N).select(
        F.col("doc_id").alias("probe_id"),
        F.substring("text", _SUB_PROBE_OFF, _SUB_PROBE_LEN).alias("probe"),
    )
    return exact_substring_decontaminate(docs, probes).orderBy("doc_id")


@_q(
    "text_normalize_summary",
    f"""
    WITH n AS (
      SELECT text AS t,
             TRIM(REGEXP_REPLACE(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm
      FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN norm <> t THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_changed,
           CAST(COALESCE(SUM(LENGTH(t)), 0) AS BIGINT) AS chars_before,
           CAST(COALESCE(SUM(LENGTH(norm)), 0) AS BIGINT) AS chars_after,
           CAST(SUM(CAST({sql_md5_int64("norm")} AS DECIMAL(38,0)))
             AS VARCHAR) AS norm_checksum
    FROM n
    """,
)
def text_normalize_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace canonicalization audit: one summary row with changed-doc
    count, char volume before/after, and an order-independent checksum of
    the normalized text (two runs compare it to prove determinism). The
    interesting inputs — tabs, newlines, multi-space runs, unicode — are
    exercised by the fuzz-parity corpus; the clean token-soup corpus
    normalizes to itself, which the zero n_changed here certifies."""
    from kinesis_stream_spark.operators.text import normalize_summary

    return normalize_summary(load_table(spark, sf_dir, "documents"))


@_q(
    "text_collocation_lift",
    f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM t, UNNEST(toks) AS u(tok) GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni),
    bg AS (SELECT p[1] AS tok_a, p[2] AS tok_b
           FROM t,
                UNNEST([[toks[i], toks[i + 1]]
                        FOR i IN RANGE(1, LEN(toks))]) AS u(p)),
    bgc AS (SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT g.tok_a, g.tok_b, g.n_ab, a.c AS n_a, b.c AS n_b,
           (CAST(g.n_ab AS DOUBLE) * CAST(t.n_total AS DOUBLE))
             / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS lift
    FROM bgc g
    JOIN uni a ON a.tok = g.tok_a
    JOIN uni b ON b.tok = g.tok_b
    CROSS JOIN tot t
    ORDER BY lift DESC, tok_a, tok_b
    """,
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over the documents corpus: adjacent-token
    bigrams (count ≥ 2) scored by integer lift N·c(ab)/(c(a)·c(b)) —
    PMI's monotone twin without the cross-engine log. The oracle replays
    the explode, both count aggregates, and the identical
    double-multiply/divide lift arithmetic."""
    from kinesis_stream_spark.operators.text import collocations

    docs = load_table(spark, sf_dir, "documents")
    return collocations(docs, min_count=2).orderBy(
        F.desc("lift"), "tok_a", "tok_b"
    )


_CHUNK_WINDOW, _CHUNK_STRIDE = 64, 48


@_q(
    "text_chunk_windows",
    sql_chunk_windows(window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE)
    + " ORDER BY doc_id, chunk_id",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking of the documents corpus (64-token
    windows every 48 tokens, 16-token overlap) — the RAG-indexing /
    pretraining chunker. Pure per-row array codegen, zero shuffles;
    output size = overlap factor × corpus by construction (operator
    docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_windows(
        docs, window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_id")


@_q(
    "text_cms_heavy_hitters",
    sql_cm_heavy_hitters(table="documents", text_col="text", top_k=20)
    + " ORDER BY exact_cnt DESC, token",
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters over document tokens: the exact
    top-20 tokens with their fixed-size-sketch estimates and the
    guaranteed-nonnegative overcount — the parity row-for-row check
    also proves the sketch's est ≥ exact bound (operators/cms.py for
    the 2-universal hashing and KB-sized mergeable-cell scale
    story)."""
    docs = load_table(spark, sf_dir, "documents")
    return cm_heavy_hitters(docs, text_col="text", top_k=20).orderBy(
        F.desc("exact_cnt"), F.asc("token")
    )


@_q(
    "text_bigram_novelty",
    sql_bigram_novelty() + " ORDER BY doc_id",
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty (ppm of distinct bigrams seen in
    < 2 documents corpus-wide) — the OOV/gibberish scorer complementing
    the boilerplate fraction; exact integer arithmetic end to end
    (operator docstring for the explode/agg/join diamond)."""
    from kinesis_stream_spark.operators.text import bigram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return bigram_novelty(docs).orderBy("doc_id")


@_q(
    "text_keyword_extraction",
    sql_keyword_extraction() + " ORDER BY doc_id, rank",
)
def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf·idf keywords per document: log-free BM25-form idf in
    2^20 fixed point (one pinned divide per VOCABULARY term), exact
    BIGINT scores, (score desc, token) tie-break (operator
    docstring)."""
    from kinesis_stream_spark.operators.text import keyword_extraction

    docs = load_table(spark, sf_dir, "documents")
    return keyword_extraction(docs, k=3).orderBy("doc_id", "rank")


@_q("text_vocab_drift", None)  # assigned below
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between deterministic corpus halves (even/odd
    doc id standing in for consecutive snapshots): per-token integer-
    ppm shares and the top-30 |Δppm| movers — the log-free
    distribution-shift screen (operator docstring in
    operators/text.py)."""
    from kinesis_stream_spark.operators.text import vocabulary_drift

    return vocabulary_drift(load_table(spark, sf_dir, "documents"))


from kinesis_stream_spark.operators.text import (  # noqa: E402
    sql_vocabulary_drift,
)

ORACLE["text_vocab_drift"] = sql_vocabulary_drift()


@_q("text_zipf_profile", None)  # assigned below
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf rank-frequency profile: top-20 terms with integer
    rank·frequency and decay diagnostics — the log-free Zipf-law
    audit (flat head = template corpus, cliff = tokenizer bug);
    one combinable count pass + TakeOrderedAndProject
    (operators/text.py)."""
    from kinesis_stream_spark.operators.text import zipf_profile

    return zipf_profile(
        load_table(spark, sf_dir, "documents"), top_k=20
    ).orderBy("rank")


from kinesis_stream_spark.operators.text import sql_zipf_profile  # noqa: E402

ORACLE["text_zipf_profile"] = sql_zipf_profile(top_k=20) + " ORDER BY rank"


@_q("text_lexical_diversity", None)  # assigned below
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and hapax
    share in integer ppm — the vocabulary-richness quality signal
    beside the repetition filter (low TTR = template slot-filling,
    hapax ≈ 1 on long docs = OCR noise); one explode, one reduce
    (operators/text.py)."""
    from kinesis_stream_spark.operators.text import lexical_diversity

    return lexical_diversity(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


from kinesis_stream_spark.operators.text import (  # noqa: E402
    sql_lexical_diversity,
)

ORACLE["text_lexical_diversity"] = (
    sql_lexical_diversity() + " ORDER BY doc_id"
)


@_q("text_lm_plausibility", None)  # assigned below
def text_lm_plausibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM plausibility scores for the odd-doc_id half under a
    model trained on the even half — the CCNet-style perplexity
    quality gate, log-free (exact Laplace ppm; the ln is
    presentation, the ranking is the product). See
    operators/text.py:lm_plausibility."""
    from kinesis_stream_spark.operators.text import lm_plausibility

    return lm_plausibility(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


from kinesis_stream_spark.operators.text import (  # noqa: E402
    sql_lm_plausibility,
)

ORACLE["text_lm_plausibility"] = (
    sql_lm_plausibility() + " ORDER BY doc_id"
)
