"""Sparse text retrieval: inverted-index BM25 top-k and tokenizer
vocabulary-coverage profiling.

The dense half of the retrieval surface lives in operators/similarity.py
/ quantization.py (brute force, LSH, IVF, PQ); this module is the SPARSE
half — term-based ranking over an inverted index, the classic lexical
retrieval an LLM-data pipeline runs for decontamination lookups, seed-
query corpus mining, and hybrid (sparse + dense) retrieval. Reference
scope note: the reference (`500px/kinesis-stream`) ships no query
processing at all — payloads are opaque bytes decoded user-side
(`Record.scala:15`); this is north-star extension surface.

BM25 with exact rational arithmetic
-----------------------------------
Classic BM25 (k1 = 1.2, b = 0.75) is transcendental-free EXCEPT the
usual ``ln`` idf. We use the Robertson–Spärck Jones idf WITHOUT the
log — the rational core ``(N − df + ½)/(df + ½)`` — which preserves
the idf ORDERING exactly and keeps every factor a ratio of integers,
so both engines replay it bit-identically (the log variant is a
monotone transform applied per-term; score ordering differs only when
term contributions trade off, which a ranking-parity oracle cannot
replay without in-engine transcendentals — same trade the NDCG tables
in operators/evaluation.py make, documented there).

With k1 = 6/5 and b = 3/4 the per-term weight clears to one ratio of
integer-valued quantities (avgdl = T/N multiplied through):

    w(t, d) = tf·(k1+1) / (tf + k1·(1 − b + b·len_d·N/T))
            = 22·T·tf / (10·T·tf + 3·T + 9·len_d·N)

    score(q, d) = Σ_t idf(t) · w(t, d),
    idf(t) = (2·(N − df) + 1) / (2·df + 1)

N = corpus docs, T = total tokens, len_d = doc tokens, tf/df as usual.
Every factor is computed in DOUBLE with a pinned left-associative op
order (products of exact integers round identically in both engines),
each per-term contribution is floored to 2^20 fixed point, and the
per-document sum is EXACT WIDE-INTEGER — DECIMAL(38,0) in Spark,
HUGEINT in DuckDB — order-independent, so results survive any
partitioning/AQE decision and hash-match the DuckDB twin. Headroom:
idf ≤ 2N+1 and w < 11/5 bound each per-term fx below (2N+1)·2.2·2^20
(< 2^63 for any N < ~2·10^12 docs), and the 38-digit sums cannot wrap
at ANY query length — a BIGINT sum would have wrapped SILENTLY on a
long pasted-document query (Spark's non-ANSI SUM), which is exactly
the failure mode the vectors.py admission guard exists to prevent.

Scale shape (100 TB):
- postings are filtered to the QUERY VOCABULARY before any wide state
  (broadcast semi-join on ≤ dozens of terms) — the tf/df aggregates and
  the scoring join see only matching postings, not the corpus;
- df, query terms, and the 1-row corpus totals are broadcast; the only
  shuffle over corpus-sized data is the map-side-combinable (doc, term)
  tf count on the pre-filtered explode;
- top-k is a per-query-id window over candidate docs only.

Vocabulary coverage uses the distributed prefix sum
(operators/skew.py) over per-term counts — no single-reducer global
window at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.functions.hashing import tokens
from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.operators.skew import distributed_cumsum

#: fixed-point scale for per-term BM25 contributions (2^20 — scores are
#: O(N) rational ratios, not unit-scale; 20 fractional bits leave 43
#: integer bits of headroom)
BM25_SCALE = 1 << 20


def bm25_topk(docs: DataFrame, queries: DataFrame, *, k: int = 10) -> DataFrame:
    """Top-``k`` documents per query under rational-idf BM25 (module
    docstring). Returns (query_id, doc_id, score, rank); ties break to
    the lower doc_id; queries matching nothing return no rows."""
    toks = tokens(F.col("text"))
    posted = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.size(toks).alias("dlen"),
        F.explode(toks).alias("term"),
    )
    qterms = queries.select(
        F.col("query_id").alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col("qtext")))).alias("term"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
    )
    # query-vocabulary prefilter FIRST: nothing corpus-sized past here
    hits = posted.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf = hits.groupBy("term", "doc_id", "dlen").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    nd = F.col("n_docs").cast("double")
    td = F.col("n_tokens").cast("double")
    tfd = F.col("tf").cast("double")
    dlend = F.col("dlen").cast("double")
    # integer idf numerator/denominator (×2 clears the ±0.5), ONE divide
    idf = (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    # op order pinned left-associative — the SQL twin mirrors it exactly
    wnum = F.lit(22.0) * td * tfd
    wden = F.lit(10.0) * td * tfd + F.lit(3.0) * td + F.lit(9.0) * dlend * nd
    fx = F.floor(idf * (wnum / wden) * F.lit(float(BM25_SCALE))).cast("bigint")

    scored = (
        tf.join(F.broadcast(dfc), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("query_id", "doc_id")
        # DECIMAL(38,0): exact at any query length (HUGEINT on the
        # oracle side) — see the module docstring's headroom paragraph
        .agg(F.sum(fx.cast("decimal(38,0)")).alias("sfx"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sfx"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            (F.col("sfx").cast("double") / BM25_SCALE).alias("score"),
            "rank",
        )
    )


def rsj_topk(docs: DataFrame, queries: DataFrame, *, k: int = 10) -> DataFrame:
    """Top-``k`` documents per query under the binary-independence
    (Robertson–Spärck Jones) model: each DISTINCT matched query term
    contributes the corpus idf ``(2·(N − df) + 1)/(2·df + 1)`` and
    nothing else — the k1 → 0 limit of BM25 (no tf saturation, no
    length normalization). A genuinely different ranking model over
    the SAME doc_id space as :func:`bm25_topk`, which makes the pair
    a meaningful input to :func:`rrf_fuse` (same-corpus consensus,
    not accidental id collisions — the round-8 ADVICE fix).

    Same exactness discipline as BM25: one double divide per term with
    pinned op order, floor to 2^20 fixed point, DECIMAL(38,0)/HUGEINT
    order-free sums; ties break to the lower doc_id. Same scale shape:
    postings prefiltered to the broadcast query vocabulary before any
    shuffle; df here counts docs containing the term (identical to the
    BM25 df since tf ≥ 1 ⇔ present)."""
    toks = tokens(F.col("text"))
    posted = docs.select(
        F.col("doc_id").alias("doc_id"),
        # binary model: presence only — one row per (doc, distinct term)
        F.explode(F.array_distinct(toks)).alias("term"),
    )
    qterms = queries.select(
        F.col("query_id").alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col("qtext")))).alias("term"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    matched = posted.join(F.broadcast(qterms.select("term").distinct()), "term")
    dfc = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    fx = F.floor(idf * F.lit(float(BM25_SCALE))).cast("bigint")

    scored = (
        matched.join(F.broadcast(dfc), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(fx.cast("decimal(38,0)")).alias("sfx"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sfx"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            (F.col("sfx").cast("double") / BM25_SCALE).alias("score"),
            "rank",
        )
    )


#: coverage thresholds of :func:`vocab_coverage`, in percent
COVERAGE_PCTS = (50, 90, 99)


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """Tokenizer vocabulary sizing: for each ``COVERAGE_PCTS`` threshold, the
    smallest top-k vocabulary (terms ranked by frequency desc, term asc)
    whose occurrences cover ≥ that share of all token occurrences.

    One row per threshold: (pct, n_terms, covered_tokens, total_tokens,
    vocab_size, coverage). The coverage rule is pure integer arithmetic
    (``cum·100 ≥ pct·total``); the final ratio is one IEEE divide.

    Shape: per-term counts (map-side combined explode+agg), a
    DISTRIBUTED running sum over the ranked vocabulary
    (:func:`~kinesis_stream_spark.operators.skew.distributed_cumsum` —
    no single-partition window over the vocab), then a ~|vocab|·|pcts|
    conditional aggregate down to one row per threshold."""
    toks = tokens(F.col("text"))
    counts = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = distributed_cumsum(
        counts, [F.col("n").desc(), F.col("term").asc()], "n", "cum"
    )
    # totals from the (checkpointed, vocabulary-sized) cumsum frame —
    # aggregating `counts` directly would re-run the corpus explode +
    # shuffle a second time (the equidepth "NOT from vc" rule)
    tot = cum.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    per = cum.select(
        "cum",
        F.explode(F.array(*[F.lit(p) for p in COVERAGE_PCTS])).alias("pct"),
    ).crossJoin(F.broadcast(tot))
    covered = F.min(
        F.when(F.col("cum") * 100 >= F.col("pct") * F.col("total_tokens"), F.col("cum"))
    )
    return (
        per.groupBy("pct")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("cum") * 100 < F.col("pct") * F.col("total_tokens"), 1
                    ).otherwise(0)
                )
                + 1
            ).alias("n_terms"),
            covered.alias("covered_tokens"),
            F.max("total_tokens").alias("total_tokens"),
            F.max("vocab_size").alias("vocab_size"),
            (covered.cast("double") / F.max("total_tokens").cast("double")).alias(
                "coverage"
            ),
        )
        .orderBy("pct")
    )


#: RRF rank constant (Cormack, Clarke & Buettcher, SIGIR 2009: k = 60)
RRF_K = 60
#: fixed-point scale for RRF contributions — 1/(60+rank) needs fine
#: resolution; 2^40 integer division is exact floor on both engines
RRF_SCALE = 1 << 40


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings (hybrid
    sparse + dense retrieval): fused score = Σ_lists 1/(RRF_K + rank),
    the score-free rank combiner that needs NO calibration between
    heterogeneous scorers (BM25 scores and cosine similarities are not
    comparable; their RANKS are).

    Each input frame carries (query_id, item_id, rank). The reciprocal
    is computed as exact integer floor division ``2^40 div (RRF_K +
    rank)`` — no float division, so the fused ordering is bit-identical
    in any engine and under any partitioning; the final score is one
    scale-back divide. An item missing from a list simply contributes
    nothing (standard RRF). Ties break to the lower item_id.

    Scale: inputs are top-k lists (k·Q rows each) — the union and the
    (query_id, item_id) aggregate are trivially small next to the
    retrieval passes that produced them. n_lists in the output exposes
    how many rankings backed each fused item (consensus diagnostic)."""
    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking frame required")
    allr = rankings[0].select("query_id", "item_id", "rank")
    for r in rankings[1:]:
        allr = allr.unionAll(r.select("query_id", "item_id", "rank"))
    contrib = F.expr(f"{RRF_SCALE} div ({RRF_K} + rank)")
    fused = allr.groupBy("query_id", "item_id").agg(
        F.sum(contrib).alias("sfx"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sfx"), F.asc("item_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= k)
        .select(
            "query_id",
            "item_id",
            (F.col("sfx").cast("double") / RRF_SCALE).alias("rrf_score"),
            "n_lists",
            "fused_rank",
        )
    )


def phrase_search(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """Exact phrase search over positional postings: for each query
    phrase (a space-joined word sequence), count the documents and
    occurrences where the words appear CONSECUTIVELY in token order —
    the inverted-index-with-positions primitive behind quoted-query
    search (`"slow query"` must not match "slow ... query").

    Returns (phrase, n_docs, n_occurrences, sample_doc_id); phrases
    with no match emit no row.

    Scale shape: one posexplode builds the positional postings frame,
    immediately FILTERED to the phrase vocabulary (a broadcast
    isin — the postings that survive are |vocab-hits|, not corpus
    tokens); each phrase then chains k−1 equi-joins on
    (doc, pos + offset), every join keyed on doc_id so one shuffle
    partitioning serves the whole chain. The phrase list is a query
    workload (a handful), not data — the Python loop builds a UNION
    plan, not a driver-side computation. The oracle deliberately uses
    the per-row array-scan formulation (slice-compare inside each
    document) — two different evaluation strategies must agree."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    words = sorted({w for p in phrases for w in p.split()})
    post = pin(
        docs.select(
            F.col("doc_id").alias("doc"),
            F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
        )
        .where(F.col("tok").isin(words)),
        eager=False,
    )
    outs = []
    for phrase in phrases:
        ws = phrase.split()
        m = (
            post.where(F.col("tok") == ws[0])
            .select("doc", F.col("pos").alias("p0"))
        )
        for off, w in enumerate(ws[1:], start=1):
            nxt = post.where(F.col("tok") == w).select(
                "doc", (F.col("pos") - off).alias("p0")
            )
            m = m.join(nxt, ["doc", "p0"])
        outs.append(
            m.groupBy()
            .agg(
                F.count_distinct("doc").alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
                F.min("doc").alias("sample_doc_id"),
            )
            .where(F.col("n_occurrences") > 0)
            .select(F.lit(phrase).alias("phrase"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def sql_phrase_search(*, phrases: list[str]) -> str:
    """Oracle for :func:`phrase_search` via the INDEPENDENT per-row
    array-scan strategy: slide a window over each document's token
    array and compare the slice to the phrase."""
    from kinesis_stream_spark.functions.hashing import sql_tokens

    toks = sql_tokens("text")
    branches = []
    for phrase in phrases:
        ws = phrase.split()
        lit = "', '".join(w.replace("'", "''") for w in ws)
        branches.append(f"""
        SELECT '{phrase.replace("'", "''")}' AS phrase,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MIN(doc_id) AS BIGINT) AS sample_doc_id
        FROM (
          SELECT doc_id, i
          FROM (SELECT doc_id, {toks} AS arr FROM documents),
               UNNEST(RANGE(1, LEN(arr) - {len(ws) - 1} + 1)) AS t(i)
          WHERE arr[i:i+{len(ws) - 1}] = ['{lit}']
        )
        HAVING COUNT(*) > 0""")
    return " UNION ALL ".join(branches)


def prf_expansion(
    docs: DataFrame,
    queries: DataFrame,
    *,
    m: int = 5,
    t: int = 5,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio's positive
    step, tf·idf term selection — Rocchio 1971; Buckley et al. TREC):
    retrieve each query's top ``m`` documents with :func:`bm25_topk`,
    pool their vocabulary, drop the original query terms, and emit the
    top ``t`` expansion terms by pooled tf × corpus idf — the
    second-pass vocabulary a recall-starved retrieval adds ("kinesis"
    → "shard checkpoint lease"). Retrieval-family composite: the
    shortlist comes from the oracled BM25 operator, the idf weighting
    is the keyword-extraction fixed point.

    Cross-engine exactness: the shortlist is the BM25 operator's
    (exact-fx ordered, doc-id tiebroken); idf_fx is the
    keyword-extraction pinned chain (ONE IEEE divide per vocabulary
    term, floored into 2^20 BIGINT); expansion scores are exact BIGINT
    Σ tf·idf_fx; ranks tiebreak (score desc, term asc).

    Output per (query, rank ≤ t): (query_id, rank, term, in_docs,
    pooled_tf, score_fx).

    Scale shape: the corpus cost is the BM25 pass plus ONE (doc, term)
    tf aggregate (shared shape with keyword extraction); the shortlist
    (|queries|·m rows) joins the tf frame doc-keyed and BROADCAST; the
    pooled reduce and the per-query top-t window run on
    shortlist-vocabulary-sized frames. Query terms leave via a
    broadcast anti join."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if t < 1:
        raise ValueError(f"t must be >= 1, got {t}")
    short = bm25_topk(docs, queries, k=m).select("query_id", "doc_id")
    tf = (
        docs.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.where(F.col("text").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    idf = dfc.crossJoin(F.broadcast(n)).select(
        "term",
        F.floor(
            (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double")
            / (2 * F.col("df") + 1).cast("double")
            * F.lit(float(1 << 20))
        )
        .cast("long")
        .alias("idf_fx"),
    )
    qterms = queries.select(
        F.col("query_id").alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col("qtext")))).alias("term"),
    )
    pooled = (
        tf.join(F.broadcast(short), "doc_id")
        .join(F.broadcast(qterms), ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("in_docs"),
            F.sum("tf").cast("long").alias("pooled_tf"),
        )
        .join(idf, "term")
        .select(
            "query_id",
            "term",
            "in_docs",
            "pooled_tf",
            (F.col("pooled_tf") * F.col("idf_fx")).alias("score_fx"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fx"), F.asc("term")
    )
    return (
        pooled.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= t)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            "in_docs",
            "pooled_tf",
            "score_fx",
        )
    )
