"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin).

The LSH operators in ``operators/dedup.py`` trade recall for cost:
banding can MISS a true near-duplicate pair. This module provides the
exact counterpart — every pair with Jaccard ≥ t is returned, no false
negatives — using the prefix-filtering principle (Chaudhuri, Ganti,
Kaushik, ICDE 2006; Bayardo, Ma, Srikant, WWW 2007 "AllPairs"; Xiao,
Wang, Lin, Yu, WWW 2008 "PPJoin"): order every document's token set by
a GLOBAL rarity order (document frequency ascending); two sets with
Jaccard ≥ t and sizes |x| ≤ |y| must share at least one token within
each set's first ``|s| − ⌈t·|s|⌉ + 1`` tokens (the "prefix"). Joining
on prefix tokens alone therefore generates a candidate superset, and
rare-first ordering makes those prefixes maximally selective — the
frequent tokens that would generate quadratic join blowup never enter
the join. A size filter (``min ≥ t·max``, also implied by J ≥ t)
prunes further before verification.

Scale shape: document frequencies are one hash aggregate; the global
order is a per-document window (no global sort); the candidate join is
an equi-join on (rare) prefix tokens — never all-pairs, never a
cartesian (plan-pinned); verification joins the exploded token sets of
only the surviving candidate pairs (candidates ≪ pairs). This is the
published recipe for exact web-scale near-dup joins; at 100 TB it
complements LSH: profile with the banding histograms, run LSH for the
bulk, and prefix-filter where false negatives are not acceptable
(e.g. benchmark decontamination).

Measured at sf0.1 (near-copy corpus, 10k docs): the exploded-token and
prefix frames feed multiple plan branches; lazy localCheckpoints on
them keep the shingling regex to exactly one corpus pass (53.8 s →
36.2 s when that landed). Verification then dominated (~310k candidate
pairs for ~6k true pairs — each original shares its whole prefix with
its truncated copy), so two further published upgrades landed in
round 8: the PPJoin POSITIONAL filter (the aggregate form — shared
prefix count + post-last-match suffix bound u, tested with the SAME
u/(|x|+|y|−u) ≥ t arithmetic as the final Jaccard filter so boundary
pairs can never be rounded away — kills can't-reach-t candidates
before verification) and ARRAY-intersection verification (per-pair codegen'd
array_intersect on the checkpointed shingle arrays instead of the
exploded-token double join — the verify shuffle carries |candidates|
array rows, not |candidates|·|tokens| narrow rows). Together with
moving the checkpoint onto the compact array frame: 35.4 s → 8.6 s
min-of-3 at sf0.1 run SOLO, a 4.1× end-to-end cut on the bench's
heaviest query. (Both measurement contexts, for reconciliation: the
same code reads 17.0 s inside the driver's full-suite min-of-2 bench,
where local[32] contention from neighboring queries inflates
wall-clock ~2× — the r8 full-suite figure to compare against is the
r7 full-suite 36.6 s, the solo figure against solo 35.4 s.)

Round 13: tokens are their 60-bit md5 hashes end-to-end — identity is
all any stage needs, and longs shuffle/compare/intersect far cheaper
than shingle strings; plus a ``spread`` on the corpus scan (the
tokenize+hash map stage must not serialize on a single-row-group
file). 28.7 → 7.2 s at sf1 solo interleaved, output bit-identical at
sf0.01/0.1/1. Exactness therefore rests on the 60-bit identity
contract stated in ``functions/hashing.py``.

Input: ``documents(doc_id, text)``, by those names (the dedup module's
contract).

Determinism: the prefix order is (df, hash) — the md5 key avoids
relying on cross-engine string collation. Counts are integers
end-to-end; the single IEEE divide per output row is the Jaccard
itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import md5_int64, shingles, sql_md5_int64, sql_shingles
from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.sources.batch import spread


def prefix_filter_jaccard_pairs(docs: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ ``threshold`` — EXACT (no
    LSH false negatives): (id_a, id_b, jaccard), id_a < id_b."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # TOKENS ARE 60-BIT HASHES end-to-end (r13): every downstream
    # consumer — df counts, the global rarity order, the prefix
    # equi-join, the verify intersection — only needs token IDENTITY,
    # never the string, so each shingle maps once (a map-side
    # ``transform``) to its md5 60-bit key and the pipeline carries
    # 8-byte longs instead of ~25-char strings: smaller explode store,
    # narrower df shuffle, a long equi-join key, and a hash-array
    # verify, exact under the 60-bit identity contract
    # (functions/hashing.py). Measured at sf1: 28.7 → 7.2 s solo
    # interleaved (with the spread below); output bit-identical at
    # sf0.01/0.1/1.
    #
    # the hash-ARRAY frame is the reuse point: one compact row per
    # document, feeding the explode lineage AND both verification
    # sides (r8: checkpointing here instead of on the exploded frame
    # measured 27.4 s → 8.6 s at sf0.1 solo). Lazy localCheckpoints;
    # at 100 TB a durable checkpoint dir, as everywhere else in the
    # repo.
    #
    # spread: the tokenize+shingle+hash regex pass is the expensive
    # map stage, and a single-row-group corpus file would run it in
    # a handful of tasks (measured: 7.6 s on 4 tasks at sf1); no-op
    # on well-partitioned inputs.
    sh_sets = pin(
        spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id")
        .select(
            "id",
            F.transform(
                shingles(F.col("text"), 3), lambda s: md5_int64(s)
            ).alias("sh"),
        )
        .where(F.size("sh") > 0),
        eager=False,
    )
    ex = pin(sh_sets.select("id", F.explode("sh").alias("tok")), eager=False)
    dfc = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # shingles() is distinct, so per-id token count == set size; derive
    # sizes from the checkpointed explode rather than from sh_sets,
    # whose tokenize+shingle regex would otherwise run a second full
    # corpus pass
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    ordered = ex.join(dfc, "tok").withColumn("pos", F.row_number().over(w))
    prefix = pin(
        ordered.join(sizes, "id")
        .where(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + F.lit(1)
        ),
        eager=False,
    )
    # candidate aggregate WITH the PPJoin positional filter: for a
    # pair first meeting in its prefixes, total overlap is bounded by
    # u = (shared prefix tokens) + (what remains AFTER each side's
    # last matched prefix position) — Xiao et al., WWW 2008 §3.2, the
    # aggregate-form variant of Vernica/Carey/Li SIGMOD 2010. The
    # bound test uses THE SAME arithmetic as the final Jaccard filter
    # (u/(|x|+|y|−u) ≥ t, monotone in the overlap), NOT a separately
    # rounded ⌈t/(1+t)·(|x|+|y|)⌉ threshold: float ceil rounds the
    # α form UP at exact-boundary pairs (e.g. containment at J = t)
    # and would silently drop true pairs, breaking the operator's
    # no-false-negative contract.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("o_p"),
            F.max(F.col("a.pos")).alias("mpa"),
            F.max(F.col("b.pos")).alias("mpb"),
        )
        .withColumn(
            "_ub",
            F.col("o_p")
            + F.least(
                F.col("sz_a") - F.col("mpa"), F.col("sz_b") - F.col("mpb")
            ),
        )
        .where(
            F.col("_ub").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("_ub"))
            >= F.lit(threshold)
        )
        .drop("_ub")
    )
    # verification by per-pair ARRAY intersection (shingle sets are
    # distinct, so |array_intersect| IS the overlap): two joins attach
    # the candidate ids' shingle arrays straight from the checkpointed
    # array frame and one codegen'd intersect replaces the
    # exploded-token verify join — the verify shuffle carries
    # |candidates| array rows, not |candidates|·|tokens| narrow rows.
    arr = sh_sets
    isect = (
        cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    return (
        isect.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def sql_prefix_filter_jaccard_pairs(
    input_cte: str,
    *,
    threshold: float = 0.5,
) -> str:
    """DuckDB replay of :func:`prefix_filter_jaccard_pairs` over
    ``input_cte → docs(doc_id, text)`` — same rarity order (df, md5,
    token), same prefix-length and size pruning, same integer
    intersection counts, one identical Jaccard divide; ordered
    (id_a, id_b)."""
    t = repr(float(threshold))
    return f"""
    WITH docs AS ({input_cte}),
    ss AS (SELECT doc_id AS id, {sql_shingles('text', 3)} AS sh FROM docs),
    ssn AS (SELECT id, sh FROM ss WHERE LEN(sh) > 0),
    ex AS (SELECT id, t.tok FROM ssn, UNNEST(sh) AS t(tok)),
    dfc AS (SELECT tok, COUNT(*) AS df FROM ex GROUP BY tok),
    sz AS (SELECT id, LEN(sh) AS sz FROM ssn),
    ordered AS (
      SELECT e.id, e.tok,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY d.df, {sql_md5_int64('e.tok')}, e.tok) AS pos
      FROM ex e JOIN dfc d USING (tok)
    ),
    pre AS (
      SELECT o.id, o.tok, o.pos, s.sz
      FROM ordered o JOIN sz s USING (id)
      WHERE o.pos <= s.sz - CEIL({t} * s.sz) + 1
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             COUNT(*) AS o_p, MAX(a.pos) AS mpa, MAX(b.pos) AS mpb
      FROM pre a JOIN pre b
        ON a.tok = b.tok AND a.id < b.id
       AND LEAST(a.sz, b.sz) >= {t} * GREATEST(a.sz, b.sz)
      GROUP BY 1, 2, 3, 4
      HAVING CAST(COUNT(*) + LEAST(a.sz - MAX(a.pos), b.sz - MAX(b.pos))
                  AS DOUBLE)
             / (a.sz + b.sz
                - (COUNT(*) + LEAST(a.sz - MAX(a.pos), b.sz - MAX(b.pos))))
             >= {t}
    ),
    isect AS (
      SELECT c.id_a, c.id_b, c.sz_a, c.sz_b,
             CAST(LEN(LIST_INTERSECT(aa.sh, ab.sh)) AS BIGINT) AS i
      FROM cand c
      JOIN ssn aa ON aa.id = c.id_a
      JOIN ssn ab ON ab.id = c.id_b
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sz_a + sz_b - i) AS jaccard
    FROM isect
    WHERE CAST(i AS DOUBLE) / (sz_a + sz_b - i) >= {t}
    ORDER BY id_a, id_b
    """
