"""Fuzzy (approximate-string) self-join: blocked Levenshtein pairs.

Record-linkage / entity-resolution primitive: find all pairs of rows
whose string field is within edit distance ``max_dist``, without the
all-pairs O(n²) cross join. Candidate generation is BLOCKING — only
rows sharing a cheap deterministic block key (the first whitespace
token, :func:`default_block`) are compared — followed by a
length-band prefilter (|len(a) − len(b)| ≤ d is a necessary condition
for distance ≤ d) and the exact banded Levenshtein with early-exit
threshold. The blocking is part of the operator's declared semantics
(pairs WITHIN A BLOCK at distance ≤ d), as in every production linkage
pipeline; recall beyond the block is a property of the key, not a
correctness gap.

Reference scope note: the reference (`500px/kinesis-stream`) ships no
query operators (`Record.scala:15` — opaque payloads); this extends
the dedup/linkage family (SURVEY.md §2.3) with the edit-distance
metric the MinHash/shingle operators cannot express.

Scale shape:
- one shuffle, on the block key (the self-join's equi-key); block
  sizes bound the quadratic term — Σ_b |b|², not n²;
- the length-band filter runs BEFORE the DP, codegen-side;
- the distance itself is Spark's built-in ``levenshtein(l, r, d)``
  with the threshold argument — the banded O(d·min(m,n)) DP that
  bails out early, not the full O(m·n) matrix; JVM codegen, no UDF;
- hot blocks are the skew hazard, which ``salt_buckets`` spreads over
  more tasks.

Cross-engine parity: Levenshtein is exact integer arithmetic; Spark's
threshold variant returns −1 past the cap and is filtered out, which
equals DuckDB's unbounded ``levenshtein() <= d`` filter row-for-row —
ON ASCII TEXT. DuckDB's ``levenshtein`` counts UTF-8 BYTES while
Spark's counts codepoints ('héllo'→'hallo' is 1 edit to Spark, 2 to
DuckDB), so the oracle scopes itself to ASCII rows (char length =
byte length) and the registered query applies the same guard; the
operator itself stays codepoint-correct on any input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin


def default_block(col: Column) -> Column:
    """First whitespace-delimited token — the block key."""
    return F.substring_index(col, " ", 1)


def sql_default_block(expr: str) -> str:
    """DuckDB twin of :func:`default_block`."""
    return f"SPLIT_PART({expr}, ' ', 1)"


def fuzzy_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_dist: int,
    salt_buckets: int = 32,
) -> DataFrame:
    """All (id_a < id_b) pairs sharing a block key with
    ``levenshtein(text_a, text_b) ≤ max_dist``. Returns
    (block_key, id_a, id_b, dist).

    ``salt_buckets`` spreads each block's quadratic pair work: the few
    distinct block keys would otherwise hash to a handful of fat
    partitions and serialize the whole DP bill on that many cores. One
    side carries ``hash(id) % salt_buckets``, the other is replicated
    to every salt — the standard skew-salting shape (operators/
    skew.py); pair SEMANTICS are salt-free (every (a, b) meets in
    exactly one bucket), so the knob never changes results, only
    balance. Replication cost is rows × salt_buckets on the build
    side — per-partition input, not per-pair."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    blk = default_block(F.col(text_col))
    side = df.select(
        blk.alias("block_key"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("s"),
        F.length(text_col).alias("slen"),
    )
    # round-robin spread of the probe side: when the build side
    # broadcasts (small dims), parallelism equals PROBE partition
    # count — a single-file scan would run the whole quadratic bill
    # in one task regardless of salting. Spread to at least the
    # cluster's default parallelism so salt_buckets (a semantics-free
    # balance knob) never CAPS task count on a wide cluster; under a
    # shuffle join the exchange re-partitions on the join keys anyway
    # and this pass is redundant but cheap relative to the DP bill.
    n_spread = max(salt_buckets, df.sparkSession.sparkContext.defaultParallelism)
    a = (
        side.withColumn(
            "_salt", F.pmod(F.hash(F.col("id")), F.lit(salt_buckets))
        )
        .repartition(n_spread)
        .alias("a")
    )
    b = side.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    ).alias("b")
    dist = F.levenshtein(F.col("a.s"), F.col("b.s"), max_dist)
    # The threshold predicate lives IN the join condition, LAST (r13,
    # guide §1.2 per-task work): as a post-join `.where` Catalyst
    # pushed it into the join condition PREPENDED, so every candidate
    # pair — including the ones the id< and length-band cuts discard —
    # paid the banded DP first (measured: the pushed form evaluated
    # levenshtein on ~2.2x the pairs; cheap-first order timed
    # 2.52 -> 1.79 s solo at sf0.1). Conjunct order is preserved when
    # the condition arrives pre-assembled; codegen short-circuits
    # left-to-right, so the DP now runs only on pairs that survive the
    # constant-time cuts ("past the cap" is flagged -1 by the
    # threshold variant, hence >= 0 ≡ dist <= max_dist).
    joined = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.id") < F.col("b.id"))
        # necessary condition, checked before any DP work
        & (F.abs(F.col("a.slen") - F.col("b.slen")) <= max_dist)
        & (dist >= 0),
    )
    return joined.select(
        F.col("a.block_key").alias("block_key"),
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        dist.alias("dist"),
    )


def fuzzy_pair_histogram(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_dist: int,
    salt_buckets: int = 32,
) -> DataFrame:
    """(block_key, dist, n_pairs, sample_id_a, sample_id_b) — the
    per-(block, distance) aggregate of :func:`fuzzy_pairs`, computed at
    DISTINCT-STRING granularity (r13; guide §8 "decide with small
    rows"): strings repeat, and the id-level join re-ran the banded DP
    once per ID pair — cnt_u·cnt_v times per distinct string pair
    (measured 129 s at sf1 where each name repeats ~10×; the DP bill
    grows quadratically in corpus size while the distinct-pair bill is
    constant in it). Equivalence, contribution by contribution:

    - cross (u ≠ v, same block, lev ≤ d): the id-level pairs are all
      (ia ∈ ids(u)) × (ib ∈ ids(v)) ordered by id, so the bucket gains
      n = cnt_u·cnt_v pairs; min id_a over them is the globally
      smallest id of either group (it pairs with everything opposite
      and is always the smaller) = min(mn_u, mn_v), and min id_b is
      minimized by pairing the two group minima = max(mn_u, mn_v).
    - intra (u = u, lev = 0, cnt ≥ 2): n = cnt·(cnt−1)/2,
      min id_a = mn, min id_b = the group's SECOND-smallest id (pair
      (mn, mn2); any other pair's max is ≥ mn2).
    - rows with NULL block/id/string produce no pair in the id-level
      join (equi-join and comparisons reject NULLs), so they are
      filtered before grouping — otherwise a NULL-string group would
      manufacture phantom intra pairs.

    The (block, dist) aggregate then sums the n's and mins the mins —
    identical to aggregating the full pair stream. Distance values,
    blocking, length band, salting and conjunct order all mirror
    :func:`fuzzy_pairs`; the string-level pair ordering uses s_u < s_v
    (strings within a group are equal, across groups distinct, so each
    unordered string pair is enumerated exactly once).

    Precondition: ``id_col`` is unique in ``df``, a key (the one caller
    passes ``part.p_partkey``). The counts above are row counts, so a
    repeated id would add the pairs between its own rows, which the
    id-level join's ``a.id < b.id`` never forms."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    blk = default_block(F.col(text_col))
    side = df.select(
        blk.alias("block_key"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("s"),
        F.length(text_col).alias("slen"),
    ).where(
        F.col("block_key").isNotNull()
        & F.col("id").isNotNull()
        & F.col("s").isNotNull()
    )
    # distinct-string frame: checkpointed because it feeds three
    # consumers (intra, both cross join sides) that would each re-run
    # the corpus aggregate; string-distinct-sized, recomputed from the
    # input on every invocation (kmv_set_ops precedent)
    names = pin(
        side.groupBy("block_key", "s", "slen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("id").alias("mn"),
        )
    )
    # second-smallest id per duplicated string — needed only for the
    # intra (dist 0) sample_id_b; one corpus-keyed equi-join, partial
    # aggregation map-side, nothing quadratic
    mn2 = (
        side.join(names.select("block_key", "s", "mn"), ["block_key", "s"])
        .where(F.col("id") > F.col("mn"))
        .groupBy("block_key", "s")
        .agg(F.min("id").alias("mn2"))
    )
    intra = (
        names.where(F.col("cnt") >= 2)
        .join(mn2, ["block_key", "s"])
        .select(
            "block_key",
            F.lit(0).alias("dist"),
            F.expr("(cnt * (cnt - 1)) div 2").alias("w"),
            F.col("mn").alias("ida"),
            F.col("mn2").alias("idb"),
        )
    )
    n_spread = max(salt_buckets, df.sparkSession.sparkContext.defaultParallelism)
    a = (
        names.withColumn(
            "_salt", F.pmod(F.hash(F.col("s")), F.lit(salt_buckets))
        )
        .repartition(n_spread)
        .alias("a")
    )
    b = names.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    ).alias("b")
    dist = F.levenshtein(F.col("a.s"), F.col("b.s"), max_dist)
    cross = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.s") < F.col("b.s"))
        & (F.abs(F.col("a.slen") - F.col("b.slen")) <= max_dist)
        # the DP conjunct stays LAST (cheap-first short-circuit)
        & (dist >= 0),
    ).select(
        F.col("a.block_key").alias("block_key"),
        dist.alias("dist"),
        (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        F.least(F.col("a.mn"), F.col("b.mn")).alias("ida"),
        F.greatest(F.col("a.mn"), F.col("b.mn")).alias("idb"),
    )
    return (
        intra.unionAll(cross)
        .groupBy("block_key", "dist")
        .agg(
            F.sum("w").cast("long").alias("n_pairs"),
            F.min("ida").alias("sample_id_a"),
            F.min("idb").alias("sample_id_b"),
        )
    )


def sql_fuzzy_pair_histogram(
    *,
    table: str,
    id_col: str,
    text_col: str,
    max_dist: int,
) -> str:
    """Oracle for the pair-count histogram over :func:`fuzzy_pairs`
    (per block key and distance), via DuckDB's unbounded levenshtein —
    a different evaluation strategy for the same declared pair set.
    Scoped to ASCII rows (char length = byte length): DuckDB's
    levenshtein is UTF-8-byte-based while Spark's is codepoint-based,
    so the parity contract only holds where the two coincide; the
    registered Spark query applies the identical guard."""
    blk = sql_default_block(text_col)
    return f"""
    WITH side AS (
      SELECT {blk} AS block_key, {id_col} AS id, {text_col} AS s,
             LENGTH({text_col}) AS slen
      FROM {table}
      WHERE LENGTH({text_col}) = STRLEN({text_col})
    ),
    pairs AS (
      SELECT a.block_key, a.id AS id_a, b.id AS id_b,
             levenshtein(a.s, b.s) AS dist
      FROM side a
      JOIN side b
        ON a.block_key = b.block_key
       AND a.id < b.id
       AND ABS(a.slen - b.slen) <= {max_dist}
    )
    SELECT block_key, CAST(dist AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(id_a) AS BIGINT) AS sample_id_a,
           CAST(MIN(id_b) AS BIGINT) AS sample_id_b
    FROM pairs
    WHERE dist <= {max_dist}
    GROUP BY 1, 2
    """
