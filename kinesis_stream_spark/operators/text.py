"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting, tf top-terms.

These are the text half of the LLM-training-pipeline surface (the dedup
half lives in operators/dedup.py). Reference scope note: the reference
(`500px/kinesis-stream`) ships no text processing at all — payloads are
opaque bytes decoded user-side (`Record.scala:15`,
`examples/src/main/scala/Main.scala:22`); these operators are the
north-star extension surface the driver contract asks for.

Scale design (100 TB):

- Everything per-row is a pure JVM expression (regexp/array higher-order
  fns inside whole-stage codegen): the per-document feature path is
  map-only — no shuffle, no Python, survives any partitioning.
- The only shuffles are the analytical aggregates (tf/df term stats),
  which hash-partition on (lang, token) — high-cardinality keys, no skew
  hazard beyond stopwords, which the min-df/max-df band trims anyway.
- Fingerprints are bounded-magnitude modular arithmetic (fits BIGINT;
  no overflow at any scale) and derive from md5 (functions/hashing.py) so
  the DuckDB oracle replays them bit-for-bit.

Input contract: ``documents``, read by name (the schema table in
:mod:`kinesis_stream_spark.operators`). ``lang`` is the stratum of
:func:`term_stats_topk`, :func:`stratified_sample` and
:func:`language_id`'s label; ``source`` is the stream of
:func:`pack_sequences`, :func:`domain_cap` and
:func:`weighted_mixture`. Two operators take a second frame:
:func:`exact_substring_decontaminate` reads ``probes(probe_id,
probe)`` and :func:`leakage_safe_split` reads ``clusters(doc_id,
cluster_id)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.functions.hashing import (
    WS_RUN,
    bind_once,
    md5_int64,
    shingles,
    sql_md5_int64,
    sql_shingles,
    sql_tokens,
    tokens,
)
from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.sources.batch import spread

# --- language ID -------------------------------------------------------------

# Tiny deterministic marker profiles (common function words per language).
# Real lang-ID would use char-n-gram models; the *operator shape* — per-row
# score vector + argmax, no shuffle — is identical, which is what matters
# for the engine. Keep lists sorted; ties break on language code.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("das", "der", "die", "ist", "nicht", "und"),
    "en": ("a", "and", "is", "of", "the", "to"),
    "es": ("de", "el", "es", "la", "no", "y"),
    "fr": ("est", "et", "la", "le", "ne", "un"),
    "zh": ("de5", "le5", "shi4", "wo3", "zai4", "you3"),
}

# Stopword set for quality scoring = union of all profiles (deterministic).
STOPWORDS: tuple[str, ...] = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))

# BPE-ish subword pattern: runs of letters, runs of digits, or a single
# other non-space char — a deterministic stand-in for a real BPE vocab.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"

FP_MOD = 2_147_483_648  # 2^31: keeps 31*h + t < 2^63 (no BIGINT overflow)
FP_TOKEN_MOD = 1_048_576  # 2^20 per-token hash contribution


def _count_in_set(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token accounting: whitespace tokens, BPE-ish subword
    count, distinct tokens, chars-per-token. Map-only."""
    toks = tokens(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)).alias("n_subwords"),
        F.length("text").alias("n_chars"),
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


def quality_columns() -> dict[str, Column]:
    """The per-document quality signals as named Column expressions —
    shared by :func:`quality_features` and any composite pipeline that
    wants the signals fused into its own single map stage.

    All components are single IEEE divisions of integer counts (engine-
    independent); the composite is a fixed-weight sum of four ratios.
    """
    toks = tokens(F.col("text"))
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = _count_in_set(toks, STOPWORDS).cast("double") / n
    # GREATEST(len, 1): empty documents exist in real corpora, and a bare
    # length divisor is an ANSI DIVIDE_BY_ZERO crash on them (caught by
    # the fuzz-parity suite); an empty doc scores alpha_ratio 0. The
    # token-count divisors are safe — split("") yields [""], so n >= 1.
    alpha_ratio = (
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    # length factor: 1 at >=100 tokens, proportional below (min(n,100)/100)
    length_factor = F.least(n, F.lit(100)).cast("double") / 100.0
    score = (
        distinct_ratio * 0.3 + (1.0 - stop_ratio) * 0.2 + alpha_ratio * 0.2 + length_factor * 0.3
    )
    return {
        "n_tokens": n,
        "distinct_ratio": distinct_ratio,
        "stopword_ratio": stop_ratio,
        "alpha_ratio": alpha_ratio,
        "length_factor": length_factor,
        "quality_score": score,
    }


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-document quality signals + composite score in [0, 1]."""
    cols = quality_columns()
    return docs.select(
        F.col("doc_id"), *[c.alias(name) for name, c in cols.items()]
    )


def pred_lang_col() -> Column:
    """Marker-word language argmax as a single Column expression (ties
    break on language code — deterministic)."""
    toks = tokens(F.col("text"))
    scores = {
        lang: _count_in_set(toks, markers)
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    return F.coalesce(
        *[F.when(score == best, F.lit(lang)) for lang, score in scores.items()]
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: per-language hit counts + argmax label
    (ties break on language code — deterministic). Map-only."""
    toks = tokens(F.col("text"))
    scores = [
        _count_in_set(toks, markers).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select(F.col("doc_id"), F.col("lang").alias("true_lang"), *scores)
    # argmax via greatest + first-match chain (stable tiebreak by code)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)])
    pred = F.coalesce(
        *[
            F.when(F.col(f"score_{lang}") == best, F.lit(lang))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    return scored.withColumn("pred_lang", pred)


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive whole-document fingerprint: left fold
    ``h = (h*31 + md5(token) % 2^20) % 2^31`` over the token sequence.
    Unlike the shingle/minhash set signatures this is position-aware —
    permuted documents get different fingerprints."""
    toks = tokens(F.col("text"))
    hashes = F.transform(toks, lambda t: md5_int64(t) % FP_TOKEN_MOD)
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % FP_MOD,
    )
    return docs.select(F.col("doc_id"), fp.alias("fingerprint"))


#: winnowing: tokens per gram, grams per window
WINNOW_K = 3
WINNOW_WINDOW = 4


def winnowed_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing (MOSS-style): hash every ``WINNOW_K``-token gram, take
    the min hash of each sliding window of ``WINNOW_WINDOW`` grams, emit
    the distinct sorted mins. Robust to local edits; the standard
    plagiarism/near-dup fingerprint. Output is array<bigint> per doc.

    NULL-text documents carry no token sequence and are DROPPED (the
    posexplode emits no rows for them) — callers wanting a row per doc
    left-join back; the query oracle filters the same way.

    Shape: posexplode tokens → gram hash via lead() → sliding min via a
    rows-frame window → collect per doc. One hash per gram. The nested
    array-lambda formulation (transform over slice(grams, ...)) is the
    trap here: each window position re-evaluates the whole gram array
    inside the lambda — O(tokens × window) md5 calls — measured 40×
    slower at sf0.01. The explode shape costs one doc_id shuffle, which
    Catalyst reuses for both window specs AND the final groupBy (one
    exchange total), and it also removes the giant-per-row-array memory
    hazard on long documents.
    """
    order = Window.partitionBy("id").orderBy("pos")
    whole = Window.partitionBy("id")
    tok = spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id").select(
        "id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    )
    # gram at pos p = hash of tokens p..p+K-1 (short tail rows filtered:
    # only pos <= max(n_tokens - K, 0) is a gram start, which also keeps
    # the single short-doc gram = join of all tokens, as slice() did)
    gram = (
        tok.select(
            "id",
            "pos",
            md5_int64(
                F.concat_ws(" ", "tok", *[F.lead("tok", j).over(order) for j in range(1, WINNOW_K)])
            ).alias("gram_h"),
            F.count(F.lit(1)).over(whole).alias("n_toks"),
        )
        .where(F.col("pos") <= F.greatest(F.col("n_toks") - WINNOW_K, F.lit(0)))
        .drop("n_toks")
    )
    win_min = (
        gram.select(
            "id",
            "pos",
            F.min("gram_h").over(order.rowsBetween(0, WINNOW_WINDOW - 1)).alias("wmin"),
            F.count(F.lit(1)).over(whole).alias("n_grams"),
        )
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - WINNOW_WINDOW, F.lit(0)))
    )
    return (
        win_min.groupBy("id")
        .agg(F.array_sort(F.collect_set("wmin")).alias("fingerprints"))
        .select(F.col("id").alias("doc_id"), "fingerprints")
    )


def term_stats_topk(docs: DataFrame) -> DataFrame:
    """Per-group top-5 terms by collection frequency among the terms in
    at least 2 documents, with document frequency. Integer counts only
    (no idf-log — cross-engine exact).

    Scale: explode → two-level aggregate; Catalyst plans partial counts
    map-side so the (group, token) shuffle carries pre-combined rows.
    """
    tok = docs.select(
        F.col("lang").alias("grp"), F.col("doc_id").alias("id"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    stats = tok.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("id").alias("df"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("tf"), F.asc("token"))
    return (
        stats.where(F.col("df") >= 2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(F.col("grp").alias("lang"), "token", "tf", "df", "rank")
    )


# --- repetition filtering (Gopher-style quality rules) ------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most frequent token, the fraction of
    token occurrences that are duplicates (count ≥ 2), and the same two
    ratios over word bigrams. The standard "repetitious document" filter
    in pre-training pipelines (drop when top-2-gram fraction is high).

    Shape: explode (doc, gram) → per-(doc, gram) counts → per-doc
    max/sum — two hash aggregations per gram order, both keyed on the
    high-cardinality (doc, gram) then doc. Map-side partial aggregation
    applies; nothing is quadratic and no gram list is held per-row, so
    arbitrarily long documents stream through. Bigrams come from a
    lead() window inside the same per-doc partitioning the counts need
    anyway. Integer counts + one IEEE divide — cross-engine exact.
    """
    toks = tokens(F.col("text"))
    base = spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id")
    uni = base.select("id", F.explode(toks).alias("g"))
    uni_stats = _gram_repetition(uni, "uni")
    order = Window.partitionBy("id").orderBy("pos")
    whole = Window.partitionBy("id")
    bi = (
        base.select("id", F.posexplode(toks).alias("pos", "t"))
        .select(
            "id",
            "pos",
            F.concat_ws(" ", "t", F.lead("t", 1).over(order)).alias("g"),
            F.count(F.lit(1)).over(whole).alias("n_toks"),
        )
        .where(F.col("pos") < F.col("n_toks") - 1)
        .select("id", "g")
    )
    bi_stats = _gram_repetition(bi, "bi")
    return (
        uni_stats.join(bi_stats, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("uni_total").alias("n_tokens"),
            (F.col("uni_top").cast("double") / F.col("uni_total")).alias(
                "top_token_fraction"
            ),
            (F.col("uni_dup").cast("double") / F.col("uni_total")).alias(
                "dup_token_fraction"
            ),
            F.coalesce("bi_total", F.lit(0).cast("long")).alias("n_bigrams"),
            (F.col("bi_top").cast("double") / F.col("bi_total")).alias(
                "top_bigram_fraction"
            ),
            (F.col("bi_dup").cast("double") / F.col("bi_total")).alias(
                "dup_bigram_fraction"
            ),
        )
    )


def _gram_repetition(exploded: DataFrame, prefix: str) -> DataFrame:
    counts = exploded.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("id").agg(
        F.sum("c").alias(f"{prefix}_total"),
        F.max("c").alias(f"{prefix}_top"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
            f"{prefix}_dup"
        ),
    )


def boilerplate_fraction(docs: DataFrame) -> DataFrame:
    """Corpus-level boilerplate measurement: per document, the fraction
    of its distinct 3-gram shingles that are HIGH-document-frequency
    across the whole corpus (df ≥ 5). High fractions flag
    template/boilerplate-dominated documents — the cross-document
    complement of the within-document repetition filters, and the
    measurement behind "remove documents that are mostly site chrome".

    Shape: explode distinct shingles → df count on the gram key (one
    row per (doc, gram), so a plain COUNT — no distinct aggregate) →
    join df back → per-doc aggregate. Both shuffles key on the
    md5-derived gram hash: uniform, skew-free at any corpus size; no
    side is ever collected or broadcast (the gram-df table is
    corpus-sized).
    """
    grams = spread(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 3)).alias("g")
    )  # shingles() emits the distinct set per doc
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(gram_df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("df") >= 5, 1).otherwise(0)
            ).alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_boilerplate").cast("long").alias("n_boilerplate"),
            (F.col("n_boilerplate").cast("double") / F.col("n_grams")).alias(
                "boilerplate_fraction"
            ),
        )
    )


def token_rarity(docs: DataFrame) -> DataFrame:
    """Per-document rarity score from corpus token statistics: rank every
    token by global frequency (1 = most common, ties by token string),
    then score each document by the mean rank of its token occurrences.
    High mean rank = rare/specialist vocabulary, low = common-word soup —
    the RNG-free, log-free stand-in for unigram-LM quality scoring
    (log-prob scoring needs libm ``log``, whose last-ulp rounding is not
    guaranteed identical across engines; ranks are integers, so the only
    float op is the final mean divide).

    Shape: explode tokens → vocab count (gram-keyed, skew-free) → rank
    window over the POST-AGGREGATION vocabulary (tiny next to the
    corpus) → join ranks back (broadcastable: vocab ≪ corpus) → per-doc
    integer aggregate. At web scale (vocab ~10^8) replace the
    single-partition rank window with range-partitioned cumulative
    counts, or put a min-count floor on the vocabulary first — the rank
    join and per-doc agg shapes don't change.
    """
    tok = spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id").select(
        "id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    # deliberate single-partition window over the POST-AGG vocabulary —
    # pmod(length, 1) is a constant 0 the optimizer cannot fold away
    # (a literal, or x*0 on a non-nullable column, is eliminated and
    # WindowExec then warns about an accidental global window; this one
    # is intentional)
    w = Window.partitionBy(F.pmod(F.length("tok"), F.lit(1))).orderBy(
        F.desc("tf"), F.asc("tok")
    )
    ranked = vocab.withColumn("rank", F.row_number().over(w)).select("tok", "rank")
    return (
        tok.join(ranked, "tok")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("rank").alias("rank_sum"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.col("rank_sum").cast("long").alias("rank_sum"),
            (F.col("rank_sum").cast("double") / F.col("n_tokens")).alias("mean_rank"),
        )
    )


# --- PII scrubbing ------------------------------------------------------------

#: Deliberately dialect-portable patterns: no backreferences, no lazy
#: quantifiers, no lookaround — every construct means the same thing to
#: Java regex (Spark) and RE2 (DuckDB), including \b word boundaries.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3} [0-9]{3} [0-9]{3,4}",
}


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Detect-and-mask PII spans: per document, the match count for each
    pattern plus the scrubbed text (every match replaced by a
    ``<KIND>`` tag), summarized as md5 + length so the output stays
    tabular. Pure map — regexp count/replace in whole-stage codegen, no
    shuffle at any scale; the redaction pass every compliance-minded
    training pipeline runs before tokenization.

    Replacements apply in sorted(pattern-name) order — part of the
    contract, since one pattern's replacement can destroy another's
    match (emails are scrubbed before their digit runs could look like
    phone numbers). Each ``n_<kind>`` counts matches in the SAME value
    its replacement runs on (the progressively scrubbed text), so a
    span consumed by an earlier pattern is never double-counted and
    counts always agree with what the scrub actually replaced.
    """
    out_cols = [F.col("doc_id")]
    scrubbed = F.col("text")
    for name, pat in sorted(PII_PATTERNS.items()):
        out_cols.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return docs.select(
        *out_cols,
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def sql_pii_scrub_columns(text_expr: str) -> tuple[str, str]:
    """DuckDB twins of :func:`pii_scrub`'s count columns and scrubbed
    expression (same patterns, same sorted replacement order, counts
    against the same progressively scrubbed value)."""
    count_cols = []
    scrubbed = text_expr
    for name, pat in sorted(PII_PATTERNS.items()):
        count_cols.append(f"LEN(REGEXP_EXTRACT_ALL({scrubbed}, '{pat}')) AS n_{name}")
        scrubbed = f"REGEXP_REPLACE({scrubbed}, '{pat}', '<{name.upper()}>', 'g')"
    return ", ".join(count_cols), scrubbed


# --- training-set curation: decontamination / mixing / packing ---------------


def decontaminate_ngram_overlap(corpus: DataFrame, probe: DataFrame) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    distinct 5-grams that appear in ANY probe (eval-set) document.

    The standard pre-training hygiene op: drop or flag training docs that
    contain eval-set n-grams. Shape: probe n-grams are a DISTINCT set —
    small by construction (eval sets are) — so the join is a broadcast
    semi-join against the exploded corpus grams; the corpus side stays
    map-only until one groupBy(doc). No O(corpus²) anywhere, and the
    corpus is never collected or broadcast.

    Returns (doc_id, n_grams, n_contaminated, contamination) — callers
    filter on ``contamination`` to taste.
    """
    probe_grams = (
        probe.select(F.explode(shingles(F.col("text"), 5)).alias("g")).distinct()
    )
    corpus_grams = corpus.select(
        F.col("doc_id"),
        F.explode(shingles(F.col("text"), 5)).alias("g"),  # already distinct
    )
    hit = F.broadcast(probe_grams.withColumn("hit", F.lit(1)))
    return (
        corpus_grams.join(hit, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated") / F.col("n_grams")).alias("contamination"),
        )
    )


#: hash buckets of the sampling and mixing rules: rates and weights
#: quantize to 1/1000
MIX_BUCKETS = 1000


def stratified_sample(docs: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Deterministic per-stratum (``lang``) sampling — the data-mixing primitive
    (e.g. upweight rare languages, downsample boilerplate sources).

    Keep rule: md5(id) mod MIX_BUCKETS < rate[stratum] * MIX_BUCKETS; a
    stratum without a rate keeps every doc. Pure
    map-side filter: reproducible across engines/runs/partitionings,
    stable under appends (a doc's fate never changes when others arrive),
    and auditable (the keep-set is recomputable from the rule alone) —
    everything df.sample's RNG is not.
    """
    bucket = md5_int64(F.col("doc_id").cast("string")) % MIX_BUCKETS
    keep = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        keep = F.when(
            F.col("lang") == stratum, bucket < int(rate * MIX_BUCKETS)
        ).otherwise(keep)
    keep = F.coalesce(keep, bucket < MIX_BUCKETS)
    return docs.where(keep)


def pack_sequences(docs: DataFrame, *, capacity: int) -> DataFrame:
    """Assign documents to fixed-capacity training chunks (context-window
    packing): concatenate docs in id order within each partition stream
    and cut every ``capacity`` tokens — chunk_id = floor(cum_tokens_before
    / capacity), offset = cum_tokens_before mod capacity.

    This is sequential packing (how most pre-training pipelines pack),
    not bin-packing: deterministic, one running-sum window per
    partition-stream. Partitioning by ``source`` keeps the window
    distributed — a GLOBAL orderBy window would serialize 100 TB through
    one task; packing within a shard/source is the scale-correct unit
    (and what a sharded dataset loader does anyway). Integer-only
    arithmetic — exact on any engine.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_toks = F.size(tokens(F.col("text")))
    return docs.select(
        "source",
        "doc_id",
        n_toks.alias("n_toks"),
        F.coalesce(F.sum(n_toks).over(w), F.lit(0)).alias("cum_before"),
    ).select(
        "source",
        "doc_id",
        "n_toks",
        F.expr(f"cum_before DIV {capacity}").alias("chunk_id"),  # exact int div
        (F.col("cum_before") % capacity).alias("chunk_offset"),
    )


def chunk_windows(docs: DataFrame, *, window: int, stride: int) -> DataFrame:
    """Sliding-window token chunking: split each document into chunks of
    ``window`` tokens starting every ``stride`` tokens (overlap =
    window − stride) — the standard RAG-indexing / pretraining chunker,
    complementing :func:`pack_sequences` (which concatenates ACROSS
    docs; this splits WITHIN them). Output: one row per (doc, chunk)
    with the chunk's ordinal, token offset, token count (the tail chunk
    may be short), and re-joined text.

    Scale shape: per-row array ops only (split/sequence/slice/join —
    whole-stage codegen, no UDF, no shuffle at all); the explode fans
    each doc out to ⌈n/stride⌉ rows, so output bytes ≈ window/stride ×
    corpus — the overlap factor a chunking pass inherently costs. A
    NULL text yields no chunks (sequence(NULL) explodes to nothing on
    both engines)."""
    if window <= 0 or stride <= 0:
        raise ValueError(f"window ({window}) and stride ({stride}) must be > 0")
    toks = tokens(F.col("text"))
    sized = docs.select(
        F.col("doc_id"), toks.alias("toks"), F.size(toks).alias("n_toks")
    )
    starts = sized.select(
        "doc_id",
        "toks",
        "n_toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n_toks") - 1, F.lit(stride))
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"CAST(start DIV {stride} AS BIGINT)").alias("chunk_id"),
        F.col("start").cast("long").alias("start_tok"),
        F.least(F.lit(window), F.col("n_toks") - F.col("start"))
        .cast("long")
        .alias("chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, F.lit(window)), " "
        ).alias("chunk_text"),
    )


# --- DuckDB twins ------------------------------------------------------------


def sql_chunk_windows(*, window: int, stride: int) -> str:
    """DuckDB twin of :func:`chunk_windows` (same 1-based slice, same
    inclusive-end stepped series, same clamped tail length)."""
    toks = sql_tokens("text")
    return f"""
    WITH sized AS (
      SELECT doc_id AS doc_id, {toks} AS toks, LEN({toks}) AS n_toks
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, n_toks,
             UNNEST(generate_series(0, n_toks - 1, {stride})) AS start
      FROM sized
    )
    SELECT doc_id,
           start // {stride} AS chunk_id,
           CAST(start AS BIGINT) AS start_tok,
           CAST(LEAST({window}, n_toks - start) AS BIGINT) AS chunk_tokens,
           ARRAY_TO_STRING(
             LIST_SLICE(toks, CAST(start + 1 AS BIGINT),
                        CAST(start + {window} AS BIGINT)), ' ')
             AS chunk_text
    FROM st
    """


def sql_count_in_set(toks_expr: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"LEN(LIST_FILTER({toks_expr}, t -> t IN ({lst})))"


def sql_rolling_fingerprint(text_expr: str) -> str:
    """DuckDB twin of :func:`rolling_fingerprint` (fold with explicit
    init via a prepended zero — LIST_REDUCE seeds from the first
    element). NULL text folds to NULL like the Spark aggregate — without
    the gate, ``[0] || NULL`` is ``[0]`` and DuckDB would report 0."""
    hashes = f"LIST_TRANSFORM({sql_tokens(text_expr)}, t -> {sql_md5_int64('t')} % {FP_TOKEN_MOD})"
    fold = f"LIST_REDUCE([CAST(0 AS BIGINT)] || {hashes}, (acc, x) -> (acc * 31 + x) % {FP_MOD})"
    return f"(CASE WHEN ({text_expr}) IS NULL THEN NULL ELSE {fold} END)"


def sql_winnowed_fingerprints(text_expr: str) -> str:
    """DuckDB twin of :func:`winnowed_fingerprints`."""
    toks = sql_tokens(text_expr)
    gram_hash = sql_md5_int64(f"ARRAY_TO_STRING(({toks})[i:i+{WINNOW_K - 1}], ' ')")
    grams = (
        f"[{gram_hash} "
        f"FOR i IN RANGE(1, GREATEST(LEN({toks}) - {WINNOW_K - 1}, 1) + 1)]"
    )
    mins = (
        f"[LIST_MIN(g[j:j+{WINNOW_WINDOW - 1}]) "
        f"FOR j IN RANGE(1, GREATEST(LEN(g) - {WINNOW_WINDOW - 1}, 1) + 1)]"
    )
    return f"(SELECT LIST_SORT(LIST_DISTINCT({mins})) FROM (SELECT {grams} AS g) _w)"


def domain_cap(docs: DataFrame, *, cap: int = 15) -> DataFrame:
    """Per-domain document cap — the web-crawl balancing step that stops
    a handful of mega-domains from dominating the training mix: keep at
    most ``cap`` documents per domain (``source``), selected by a deterministic
    seeded-hash ranking (an unbiased per-domain sample that is stable
    across runs, partitionings, and incremental re-crawls — unlike
    "first N seen", which depends on scan order).

    One shuffle on the domain; the rank and count windows share the
    partitioning. Domains are the canonical skew key — at 100 TB a
    single domain can hold 10^8 docs, and row_number over it is one
    fat partition. The scale recipe is two-phase: a per-(domain, salt)
    pre-rank keeps only ``cap`` survivors per salt shard, and the final
    exact rank runs on ≤ cap × n_salts rows per domain (same result:
    rank ≤ cap survivors survive phase 1 unconditionally).
    """
    w = Window.partitionBy("source").orderBy(
        md5_int64(F.concat_ws("|", "source", "doc_id")).asc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("pick_rank"),
            F.count(F.lit(1)).over(wc).alias("n_domain_docs"),
        )
        .where(F.col("pick_rank") <= cap)
    )


def normalize_summary(docs: DataFrame) -> DataFrame:
    """Whitespace canonicalization with an audit summary: collapse every
    whitespace run (tabs, newlines, multi-space) to one space and trim,
    then report — in ONE aggregate row — how many documents changed, the
    character volume before/after, and an order-independent checksum of
    the normalized text. The first step of every text-cleaning pipeline,
    shipped with the numbers an operator actually reviews before
    committing the rewrite (and the checksum two runs compare to prove
    the normalization is deterministic).

    Case mapping is deliberately NOT included: locale-sensitive case
    folding (ß→SS, Turkish İ) differs across engines and breaks
    byte-level dedup keys downstream; whitespace canonicalization is the
    engine-safe core. Map-only scan + one partial-agg row; NULL texts
    pass through every aggregate untouched on both engines.
    """
    norm = F.trim(F.regexp_replace(F.col("text"), WS_RUN, " "))
    return docs.select(
        F.col("text").alias("t"), norm.alias("norm")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("norm") != F.col("t"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_changed"),
        F.coalesce(F.sum(F.length("t")), F.lit(0)).cast("long").alias("chars_before"),
        F.coalesce(F.sum(F.length("norm")), F.lit(0)).cast("long").alias("chars_after"),
        F.sum(md5_int64(F.col("norm")).cast("decimal(38,0)"))
        .cast("string")
        .alias("norm_checksum"),
    )


def weighted_mixture(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Source-weighted data mixing WITH up-sampling — the epoch-style
    repeat-factor generalization of :func:`stratified_sample` (which can
    only keep/drop). A weight of 2.25 means every doc of that source is
    emitted twice and a deterministic 25% of them a third time; 0.3 means
    a 30% keep sample. This is how pre-training mixes are actually
    specified (sampling proportions per corpus, weights routinely > 1
    for high-quality sources).

    ``n_copies = floor(w) + (md5(id) mod MIX_BUCKETS < frac(w)*MIX_BUCKETS)``,
    then one ``explode(sequence(1, n_copies))`` emits the copies with a
    ``copy_idx`` so downstream shuffles/packing see distinct rows. Pure
    map + explode: no shuffle, no RNG, append-stable (a doc's copy count
    never changes when other docs arrive), and the realized mix is
    auditable from the rule alone. A source without a weight has weight 1.

    At 100 TB the explode multiplies only the *kept* rows (output-sized
    cost, same as writing the mixed corpus), and rows with n_copies = 0
    are filtered before the explode — a 0.01-weight source never
    materializes 99% dead rows.
    """
    bucket = md5_int64(F.col("doc_id").cast("string")) % MIX_BUCKETS

    def copies(w: float) -> Column:
        whole, frac_b = int(w), int(round((w - int(w)) * MIX_BUCKETS))
        if frac_b == 0:  # the bucket is never negative: no extra copy
            return F.lit(whole)
        return F.lit(whole) + F.when(bucket < frac_b, 1).otherwise(0)

    n_copies = F.lit(None).cast("long")
    for stratum, w in sorted(weights.items()):
        n_copies = F.when(F.col("source") == stratum, copies(w)).otherwise(n_copies)
    n_copies = F.coalesce(n_copies, copies(1.0))
    return (
        docs.select("doc_id", "source", n_copies.alias("n_copies"))
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
    )


def exact_substring_decontaminate(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact-match decontamination: per corpus document, how many probe
    strings (verbatim eval answers / canary strings / PII literals)
    appear as substrings. Complements :func:`decontaminate_ngram_overlap`
    — n-gram overlap catches paraphrase-level contamination but misses
    short verbatim strings below the shingle width; substring match is
    the standard second gate (and the whole test for canary detection).

    Shape: the probe set is small by construction (eval sets, canary
    lists), so it broadcasts; the corpus side is one map-only scan with
    O(|probes|) ``instr`` checks per row fused in codegen, then a
    partial-agg-friendly groupBy on the unique doc key. The corpus is
    never collected, broadcast, or shuffled at probe multiplicity — the
    final exchange carries one row per document.

    Returns (doc_id, n_probes_hit, first_probe_id) where first_probe_id
    is the smallest matching probe id (NULL when clean) — enough for
    both the drop decision and the audit trail.

    Empty and NULL probes are dropped before the join: ``instr(text,
    '')`` returns 1 (as does STRPOS) — an empty probe would flag the
    ENTIRE corpus as contaminated, a footgun when probes are derived
    mechanically (e.g. a SUBSTR past the end of a short donor doc
    yields ''). A caller who truly wants the degenerate match-all can
    pre-expand it; the operator refuses to do it silently. Corollary
    (same contract as an empty probe frame, pinned in
    tests/test_empty_inputs.py): if EVERY probe is empty/NULL the
    filtered probe set is empty and the output has zero rows — "no
    usable probes" reports as no verdicts, not as a fabricated
    all-clean corpus; gate on the probe count upstream if the
    distinction matters.
    """
    probes = probes.where(F.length(F.col("probe")) > 0)
    hits = corpus.join(F.broadcast(probes)).select(
        F.col("doc_id"),
        F.col("probe_id"),
        # NULL gate: instr(NULL, p) is NULL, and a SUM over an all-NULL
        # group is NULL — a NULL-text document must report 0 hits
        # (clean), matching the oracle's CASE ... ELSE 0 arithmetic
        F.coalesce(
            F.instr(F.col("text"), F.col("probe")) > 0, F.lit(False)
        ).alias("hit"),
    )
    return hits.groupBy("doc_id").agg(
        F.sum(F.col("hit").cast("long")).alias("n_probes_hit"),
        F.min(F.when(F.col("hit"), F.col("probe_id"))).alias("first_probe_id"),
    )


def leakage_safe_split(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Train/val/test assignment that cannot leak duplicates across
    splits: the split decision hashes the CLUSTER id, not the document
    id, so every member of a duplicate cluster lands in the same split.
    Doc-level random splits put near-copies of training documents into
    held-out sets — the classic eval-contamination bug dedup pipelines
    exist to prevent; splitting by cluster closes the loop.

    ``clusters`` is any (doc → cluster) assignment: exact-hash groups,
    MinHash components from ``connected_components``, or semantic-dedup
    clusters — the operator composes with all of them. Unclustered
    documents (left-join miss) form singleton clusters keyed by their
    own id. The split rule is the same seeded-md5 modulus used across
    this repo (seed 23; buckets 0–79 train, 80–89 val, 90–99 test):
    map-only, reproducible, append-stable.
    """
    joined = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    bucket = md5_int64(F.col("cluster_id").cast("string"), 23) % 100
    return joined.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def collocations(docs: DataFrame, *, min_count: int = 2) -> DataFrame:
    """Collocation mining via integer lift: adjacent-token bigrams scored
    by lift = N · c(ab) / (c(a) · c(b)) — how much more often the pair
    co-occurs than independence predicts. High-lift bigrams are the
    multiword units ("new york", "machine learning") a tokenizer or
    phrase vocabulary wants as single entries; classic PMI is
    log₂(lift), monotone in it, so ranking by lift IS ranking by PMI
    without putting a transcendental (libm-divergent) log into the
    cross-engine surface.

    Shape: two scan+explode passes feeding two hash aggregates — bigram
    counts keyed on (tok_a, tok_b) and unigram counts keyed on token
    (the total derives from the unigram aggregate, not a third scan) —
    then two vocabulary-sized joins back onto the surviving
    (``min_count``-filtered) bigrams and one broadcast of the 1-row
    total. The two scans are deliberate: Catalyst cannot share a
    subplan across two independent aggregations without a
    materialization barrier, and at 100 TB re-scanning (columnar,
    pushdown-pruned to one string column) is cheaper than persisting an
    exploded token stream ~10× the corpus row count. All counts
    are exact BIGINTs; the lift is computed as
    (double(c_ab) · double(N)) / (double(c_a) · double(c_b)) — two IEEE
    multiplies and one divide, identical on any engine — rather than an
    integer product that would overflow BIGINT at N ≈ 10¹³ tokens.
    ``min_count`` is the scale knob: it prunes the hapax-pair tail
    (the vast majority of distinct bigrams) BEFORE the joins, so join
    input is the interesting vocabulary, not the corpus.
    """
    toks = tokens(F.col("text"))
    # let-bound (bind_once) so the regex split runs once per row, not
    # once per bigram position (r12)
    bg = bind_once(
        toks,
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.array(F.element_at(t, i), F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<array<string>>")),
    )
    base = spread(docs.select("text"), None)
    uni = (
        base.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_total"))
    pairs = (
        base.select(F.explode(bg).alias("p"))
        .select(F.col("p")[0].alias("tok_a"), F.col("p")[1].alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    ca = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("n_a"))
    cb = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(ca, "tok_a")
        .join(cb, "tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab").cast("double") * F.col("n_total").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


def bigram_novelty(docs: DataFrame, *, min_df: int = 2) -> DataFrame:
    """Per-document bigram novelty: what fraction of a document's
    DISTINCT word bigrams appear in fewer than ``min_df`` documents
    corpus-wide — the out-of-vocabulary / gibberish scorer that flags
    both junk (random token soup → all bigrams novel) and genuinely
    fresh content, the complement of the boilerplate fraction
    (:func:`boilerplate_fraction` measures the over-shared tail; this
    measures the never-shared one).

    Output per document: (doc_id, n_bigrams, n_novel, novelty_ppm) —
    integer parts-per-million (exact BIGINT arithmetic, no floats).
    Documents with < 2 tokens contribute their whole text as one
    pseudo-gram (the :func:`~kinesis_stream_spark.functions.hashing.shingles`
    contract); NULL-text documents emit no row.

    Scale shape: one explode of the per-doc DISTINCT bigram sets, one
    map-side-combinable document-frequency aggregate over it, one
    equi-join back on the gram, one per-doc aggregate — the standard
    explode/agg/join diamond, every stage combinable and
    skew-bounded (a bigram's df is capped by the corpus, and the join
    key distribution IS the df distribution this operator measures)."""
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    # the gram frame feeds two branches (df aggregate + join-back);
    # measured at sf0.1, a checkpoint here does NOT pay (6.5 s without
    # vs 7.3 s with an array-frame checkpoint) — the df aggregate and
    # the gram equi-join dominate, and re-running the cheap shingle
    # map is faster than materializing it
    grams = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(shingles(F.col("text"), 2)).alias("g"),
    )
    df = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("gdf"))
    per = (
        grams.join(df, "g")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("gdf") < min_df, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        "n_novel",
        F.expr("(n_novel * 1000000) div n_bigrams").alias("novelty_ppm"),
    )


def sql_bigram_novelty(*, min_df: int = 2) -> str:
    """DuckDB oracle twin of :func:`bigram_novelty` (identical shingle
    set, df counts, and integer ppm)."""
    sh = sql_shingles("text", 2)
    return f"""
    WITH grams AS (
      SELECT doc_id AS doc, UNNEST({sh}) AS g
      FROM documents WHERE text IS NOT NULL),
    gdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS gdf FROM grams GROUP BY g),
    per AS (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN gdf < {min_df} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM grams JOIN gdf USING (g)
      GROUP BY doc)
    SELECT doc AS doc_id, n_bigrams, n_novel,
           (n_novel * 1000000) // n_bigrams AS novelty_ppm
    FROM per
    """


def keyword_extraction(docs: DataFrame, *, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: the top-k tokens by tf·idf —
    the corpus-tagging/labeling primitive behind search facets and
    weak-label generation. Log-free idf in the BM25 rational form
    (the :mod:`~kinesis_stream_spark.operators.retrieval` discipline):
    idf_fx = ⌊(2(N−df)+1)/(2df+1) · 2^20⌋ — a single pinned IEEE
    divide of exactly-cast integers per VOCABULARY term, never per
    occurrence — and score_fx = tf · idf_fx, exact BIGINT thereafter.
    Ties break (score desc, token asc); ranks are dense per document.

    Output per (doc, keyword): (doc_id, rank, keyword, tf, df,
    score_fx). Documents with NULL text emit no row.

    Scale shape: one explode → per-(doc, token) tf (combinable) → df
    reduces FROM the tf frame (never a second corpus pass) → idf join
    back on the token (vocab-keyed, broadcastable) → top-k via a
    doc-partitioned window (parallel across documents, k rows kept
    per doc)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tok = docs.select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = tok.groupBy("doc", "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.where(F.col("text").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    idf = dfc.crossJoin(F.broadcast(n)).select(
        "tok",
        "df",
        F.floor(
            (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double")
            / (2 * F.col("df") + 1).cast("double")
            * F.lit(float(1 << 20))
        )
        .cast("long")
        .alias("idf_fx"),
    )
    scored = tf.join(idf, "tok").select(
        "doc",
        "tok",
        "tf",
        "df",
        (F.col("tf") * F.col("idf_fx")).alias("score_fx"),
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score_fx"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("doc").alias("doc_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("tok").alias("keyword"),
            "tf",
            "df",
            "score_fx",
        )
    )


def sql_keyword_extraction(*, k: int = 3) -> str:
    """DuckDB oracle twin of :func:`keyword_extraction`."""
    toks = sql_tokens("text")
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc, t.tok
      FROM documents, UNNEST({toks}) AS t(tok)),
    tf AS (SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
           WHERE text IS NOT NULL),
    idf AS (
      SELECT tok, df,
             CAST(FLOOR(CAST(2 * (n_docs - df) + 1 AS DOUBLE)
                        / CAST(2 * df + 1 AS DOUBLE)
                        * {float(1 << 20)!r}) AS BIGINT) AS idf_fx
      FROM dfc CROSS JOIN nd),
    scored AS (
      SELECT t.doc, t.tok, t.tf, i.df, t.tf * i.idf_fx AS score_fx
      FROM tf t JOIN idf i USING (tok)),
    ranked AS (
      SELECT doc, tok, tf, df, score_fx,
             ROW_NUMBER() OVER (PARTITION BY doc
                                ORDER BY score_fx DESC, tok) AS rank
      FROM scored)
    SELECT doc AS doc_id, CAST(rank AS INT) AS rank, tok AS keyword,
           tf, df, score_fx
    FROM ranked WHERE rank <= {k}
    """


def vocabulary_drift(docs: DataFrame, *, top_k: int = 30) -> DataFrame:
    """Vocabulary drift between two deterministic corpus halves (docs
    with even vs odd id — in production, yesterday's snapshot vs
    today's): per-token share of each half in integer ppm, and the
    top ``top_k`` movers by absolute share delta. The distribution-
    shift screen a training-data pipeline runs between crawl
    snapshots — KL/PSI need in-engine logs, the total-variation-style
    share delta doesn't (the Simpson-over-entropy trade this repo
    makes everywhere), and the biggest |Δppm| movers are the
    actionable output either way (what changed, not just how much).

    Output: (token, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
    delta_ppm) ordered by |Δppm| desc with (token) tiebreak —
    integer arithmetic end to end (shares are ⌊10^6·cnt/total⌋ in
    DECIMAL(38,0)/HUGEINT), so even the rank order is bit-stable.
    Tokens absent from a half count 0 there (full outer alignment).
    An EMPTY half contributes zero shares by contract (drift against
    nothing = the other half's full share — and the guard keeps the
    ppm divide off Spark 4's ANSI divide-by-zero path; DuckDB's //
    raises identically).

    Scale shape: one tokenize+count aggregate per the corpus scan
    (combinable, the half flag rides the group key), one full-outer
    alignment on the token vocabulary, two one-row totals broadcast
    back, and a top-k that is per-partition pre-list + driver merge."""
    tok = (
        docs.where(F.col("doc_id").isNotNull())
        .select(
            (F.col("doc_id") % 2 == 0).alias("in_a"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.sum(F.col("in_a").cast("long")).alias("cnt_a"),
            F.sum((~F.col("in_a")).cast("long")).alias("cnt_b"),
        )
    )
    totals = tok.agg(
        F.sum("cnt_a").alias("tot_a"), F.sum("cnt_b").alias("tot_b")
    )
    d38 = "decimal(38,0)"
    share_a = F.expr(
        f"case when tot_a > 0 then"
        f" cast(cast(cnt_a as {d38}) * 1000000 div tot_a as long)"
        f" else cast(0 as long) end"
    )
    share_b = F.expr(
        f"case when tot_b > 0 then"
        f" cast(cast(cnt_b as {d38}) * 1000000 div tot_b as long)"
        f" else cast(0 as long) end"
    )
    scored = tok.join(F.broadcast(totals)).select(
        "token",
        "cnt_a",
        "cnt_b",
        share_a.alias("share_a_ppm"),
        share_b.alias("share_b_ppm"),
        (share_a - share_b).alias("delta_ppm"),
    )
    return scored.orderBy(
        F.abs(F.col("delta_ppm")).desc(), F.asc("token")
    ).limit(top_k)


def sql_vocabulary_drift(*, top_k: int = 30) -> str:
    """DuckDB oracle twin of :func:`vocabulary_drift`."""
    toks = sql_tokens("text")
    return f"""
    WITH tok AS (
      SELECT doc_id % 2 = 0 AS in_a, t.token
      FROM documents, UNNEST({toks}) AS t(token)
      WHERE doc_id IS NOT NULL AND t.token <> ''),
    counts AS (
      SELECT token,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM tok GROUP BY 1),
    totals AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
             CAST(SUM(cnt_b) AS BIGINT) AS tot_b
      FROM counts),
    scored AS (
      SELECT c.token, c.cnt_a, c.cnt_b,
             CASE WHEN t.tot_a > 0 THEN
               CAST(CAST(c.cnt_a AS HUGEINT) * 1000000 // t.tot_a AS BIGINT)
             ELSE 0 END AS share_a_ppm,
             CASE WHEN t.tot_b > 0 THEN
               CAST(CAST(c.cnt_b AS HUGEINT) * 1000000 // t.tot_b AS BIGINT)
             ELSE 0 END AS share_b_ppm
      FROM counts c CROSS JOIN totals t)
    SELECT token, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
           share_a_ppm - share_b_ppm AS delta_ppm
    FROM scored
    ORDER BY ABS(share_a_ppm - share_b_ppm) DESC, token ASC
    LIMIT {top_k}
    """


def zipf_profile(docs: DataFrame, *, top_k: int = 20) -> DataFrame:
    """Corpus Zipf (rank-frequency) profile: the top-k vocabulary
    terms with their rank, frequency, corpus share, and the two
    integer diagnostics a Zipf fit reduces to once the log-log
    regression's transcendentals are off the cross-engine table —
    rank·frequency (constant under an exponent-1 Zipf law; its drift
    across ranks IS the deviation a fitted slope would report) and
    frequency as ppm of the rank-1 term (the decay curve itself).
    Natural corpora hold rank·freq within a small band; synthetic or
    template-heavy corpora (and broken tokenizers) show up as a flat
    head or a cliff — the five-minute corpus forensic next to
    :func:`token_stats`.

    Cross-engine exactness: counts, ranks, and both diagnostics are
    exact integers (two floor divisions); ties rank (freq DESC, token
    ASC), the repo's vocabulary-ranking convention.

    Output per term: (rank, token, freq, share_ppm, rf_product,
    of_top_ppm).

    Scale shape: one explode → combinable token counts (the corpus
    pass), a TakeOrderedAndProject top-k, then rank/diagnostics on the
    k-row frame (the one legitimately tiny partition-less window, the
    histogram-bins precedent) with the 1-row total joined broadcast."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    d38 = "decimal(38,0)"
    tok = docs.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    freq = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    tot = freq.agg(F.sum("freq").cast("long").alias("total"))
    top = freq.orderBy(F.desc("freq"), F.asc("tok")).limit(top_k)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    w_all = Window.partitionBy()
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("top_freq", F.max("freq").over(w_all).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            F.col("tok").alias("token"),
            "freq",
            F.expr(
                f"cast(cast(freq as {d38}) * 1000000 div total as long)"
            ).alias("share_ppm"),
            (F.col("rank") * F.col("freq")).alias("rf_product"),
            F.expr(
                f"cast(cast(freq as {d38}) * 1000000 div top_freq as long)"
            ).alias("of_top_ppm"),
        )
    )


def sql_zipf_profile(*, top_k: int = 20) -> str:
    """DuckDB oracle twin of :func:`zipf_profile`."""
    return f"""
    WITH tok AS (
      SELECT UNNEST({sql_tokens("text")}) AS tok FROM documents),
    freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tok WHERE tok != '' GROUP BY 1),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
    top AS (
      SELECT tok, freq FROM freq
      ORDER BY freq DESC, tok LIMIT {top_k}),
    ranked AS (
      SELECT tok, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT)
               AS rank,
             CAST(MAX(freq) OVER () AS BIGINT) AS top_freq
      FROM top)
    SELECT rank, tok AS token, freq,
           CAST(CAST(freq AS HUGEINT) * 1000000 // total AS BIGINT)
             AS share_ppm,
           rank * freq AS rf_product,
           CAST(CAST(freq AS HUGEINT) * 1000000 // top_freq AS BIGINT)
             AS of_top_ppm
    FROM ranked CROSS JOIN tot
    """


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical-diversity profile: token count, type
    (distinct-token) count, hapax legomena (types occurring once),
    type-token ratio and hapax share in integer ppm — the
    vocabulary-richness screen next to the repetition filter
    (:func:`repetition_stats` catches copy-paste REPEATS; a LOW TTR
    with no long repeat catches template slot-filling, and a hapax
    share near 1 on long docs catches OCR noise and mojibake). The
    corpus-level twin is :func:`zipf_profile`; this is the per-row
    quality signal a curation pipeline thresholds on.

    Integer arithmetic end to end (two floor divisions). Documents
    with NULL text or zero non-empty tokens are absent by contract
    (nothing to measure).

    Output per doc: (doc_id, n_tokens, n_types, n_hapax, ttr_ppm,
    hapax_share_ppm).

    Scale shape: one explode → (doc, token) counts (map-side
    combinable) → one per-doc reduce. No join, no window, no second
    corpus pass."""
    d38 = "decimal(38,0)"
    tf = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    per = tf.groupBy("doc").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return per.select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr(
            f"cast(cast(n_types as {d38}) * 1000000 div n_tokens as long)"
        ).alias("ttr_ppm"),
        F.expr(
            f"cast(cast(n_hapax as {d38}) * 1000000 div n_types as long)"
        ).alias("hapax_share_ppm"),
    )


def sql_lexical_diversity() -> str:
    """DuckDB oracle twin of :func:`lexical_diversity`."""
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc, UNNEST({sql_tokens("text")}) AS tok
      FROM documents WHERE text IS NOT NULL),
    tf AS (
      SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE tok != '' GROUP BY 1, 2),
    per AS (
      SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tf GROUP BY 1)
    SELECT doc AS doc_id, n_tokens, n_types, n_hapax,
           CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
             AS ttr_ppm,
           CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_types AS BIGINT)
             AS hapax_share_ppm
    FROM per
    """


def lm_plausibility(docs: DataFrame) -> DataFrame:
    """Bigram language-model plausibility scoring — the CCNet-style
    quality gate (Wenzek et al. 2020 filter CommonCrawl by LM
    perplexity; the signal is "how probable is this document under a
    model of the reference corpus"): train add-one-smoothed bigram
    counts on the EVEN-doc_id half, score the ODD half, and rank
    scored documents by their mean bigram probability. Token soup and
    template slot-filling score low; text that walks the reference
    corpus's transition structure scores high.

    Log-free by design: perplexity's per-bigram ln is a transcendental
    whose last-ulp rounding differs between the JVM and libm (the
    repo's cross-engine rule), so the score is the mean of the exact
    Laplace probabilities instead —

        p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)

    held as integer ppm (⌊p·10⁶⌋, positive-operand floor division —
    both engines agree), summed exactly; only the reported mean is a
    pinned double divide. The ranking this produces is the filter's
    actual product; the ln is presentation. Also reports the unseen-
    bigram count (the novelty tie-in: c(w₁w₂) = 0).

    Contracts: context counts c(w₁·) are the sum of bigram counts
    with that context (= token occurrences excluding each document's
    final position); V = distinct training tokens (the Laplace
    denominator's vocabulary); documents with < 2 tokens have no
    bigram and emit no row; NULL text emits no row.

    Scale shape: training counts are two map-side-combinable explode
    aggregates; scoring is two equi-joins (gram, context — join-key
    skew IS the df distribution, same bound as bigram_novelty) plus
    one broadcast 1-row vocabulary size; the per-doc reduce is
    combinable. Nothing corpus-sized in one partition; the model
    never materializes on the driver."""
    # token array let-bound (bind_once) so the regex split runs once
    # per row, not once per bigram position (r12: the split inside the
    # index lambda re-evaluated per element)
    bigrams = bind_once(
        tokens(F.col("text")),
        lambda toks: F.when(
            F.col("text").isNotNull() & (F.size(toks) >= 2),
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.array_join(F.slice(toks, i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # spread + lazy checkpoint (r13; guide §2.6/§2.4): the tokenize +
    # per-position bigram build is the expensive map stage and ran on
    # the 1–2 tasks of a single-row-group scan; and `base` feeds THREE
    # consumers (bigram counts, vocabulary, scoring side) that each
    # re-ran it. One spread pass, evaluated once per invocation:
    # 9.1 → 3.2 s at sf1.
    base = pin(
        spread(docs.select(F.col("doc_id"), F.col("text")), "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            bigrams.alias("bgs"),
        ),
        eager=False,
    )
    train_b = (
        base.where("is_train")
        .select(F.explode("bgs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    # context counts reduce FROM the bigram frame (no second corpus pass)
    train_c = train_b.groupBy(
        F.substring_index("b", " ", 1).alias("ctx")
    ).agg(F.sum("cb").cast("long").alias("cc"))
    vocab = (
        base.where("is_train")
        .select(F.explode(tokens_of_bigrams(F.col("bgs"))).alias("t"))
        .agg(F.countDistinct("t").cast("long").alias("v"))
    )
    scored = (
        base.where(~F.col("is_train"))
        .select("doc", F.explode("bgs").alias("b"))
        .withColumn("ctx", F.substring_index("b", " ", 1))
        .join(train_b, "b", "left")
        .join(train_c, "ctx", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc",
            F.expr(
                "(coalesce(cb, 0L) + 1) * 1000000"
                " div (coalesce(cc, 0L) + v)"
            ).alias("p_ppm"),
            F.col("cb").isNull().alias("unseen"),
        )
    )
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.col("unseen").cast("long")).cast("long").alias("n_unseen"),
        F.sum("p_ppm").cast("long").alias("sum_prob_ppm"),
        (
            F.sum("p_ppm").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_prob_ppm"),
    ).select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        "n_unseen",
        "sum_prob_ppm",
        "mean_prob_ppm",
    )


def tokens_of_bigrams(bgs: Column) -> Column:
    """The training token multiset recovered from the bigram frame:
    every bigram's context token, plus the final bigram's second
    token — exactly each document's tokens minus nothing (position i
    is bigram i's context for i < n, and the last token closes the
    final bigram). Keeps the vocabulary pass on the SAME frame the
    counts use instead of re-tokenizing the corpus."""
    firsts = F.transform(bgs, lambda b: F.substring_index(b, " ", 1))
    last_tail = F.when(
        F.size(bgs) >= 1,
        F.array(
            F.substring_index(F.element_at(bgs, -1), " ", -1)
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(firsts, last_tail)


def sql_lm_plausibility() -> str:
    """DuckDB oracle twin of :func:`lm_plausibility` — identical
    split, bigram lists, Laplace ppm floors, and pinned mean."""
    toks = sql_tokens("text")
    bgs = (
        f"CASE WHEN text IS NOT NULL AND LEN({toks}) >= 2 THEN "
        f"[ARRAY_TO_STRING({toks}[i:i+1], ' ') "
        f"FOR i IN RANGE(1, LEN({toks}))] "
        f"ELSE [] END"
    )
    return f"""
    WITH base AS (
      SELECT doc_id AS doc, doc_id % 2 = 0 AS is_train,
             {bgs} AS bgs
      FROM documents),
    train_b AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cb
      FROM (SELECT UNNEST(bgs) AS b FROM base WHERE is_train)
      GROUP BY b),
    train_c AS (
      SELECT SPLIT_PART(b, ' ', 1) AS ctx, CAST(SUM(cb) AS BIGINT) AS cc
      FROM train_b GROUP BY 1),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
      FROM (
        SELECT UNNEST(LIST_CONCAT(
          [SPLIT_PART(b, ' ', 1) FOR b IN bgs],
          CASE WHEN LEN(bgs) >= 1
               THEN [ARRAY_TO_STRING((REGEXP_SPLIT_TO_ARRAY(bgs[-1],
                     ' '))[-1:], '')]
               ELSE [] END)) AS t
        FROM base WHERE is_train)),
    scored AS (
      SELECT s.doc,
             (COALESCE(cb, 0) + 1) * 1000000
               // (COALESCE(cc, 0) + v) AS p_ppm,
             cb IS NULL AS unseen
      FROM (SELECT doc, UNNEST(bgs) AS b,
                   SPLIT_PART(UNNEST(bgs), ' ', 1) AS ctx
            FROM base WHERE NOT is_train) s
      LEFT JOIN train_b USING (b)
      LEFT JOIN train_c USING (ctx)
      CROSS JOIN vocab)
    SELECT doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_prob_ppm,
           CAST(SUM(p_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_prob_ppm
    FROM scored GROUP BY doc
    """
