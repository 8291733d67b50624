"""KMV (k-minimum-values / bottom-k) distinct-count sketch
(Bar-Yossef et al. 2002; Beyer et al., "On Synopses for Distinct-Value
Estimation Under Multiset Operations", SIGMOD 2007): keep the k
smallest distinct hash values of a column; the k-th smallest order
statistic of a uniform sample estimates the cardinality as
(k − 1) · H / h_(k) with H the hash-space size.

The OTHER cardinality sketch beside HyperLogLog (operators/hll.py):
where HLL keeps 2^P leading-zero ranks, KMV keeps the k concrete
bottom hashes — which makes it simultaneously a distinct-count
estimator, a uniform sample OVER THE DISTINCT VALUES (each kept hash
is one), and a set-resemblance sketch (|bottom_k(A) ∩ bottom_k(B)|
estimates Jaccard — the one-permutation cousin of the MinHash family
in operators/dedup.py). Reference scope note: the reference
(`500px/kinesis-stream`) ships no aggregation operators (opaque
payloads, `Record.scala:15`); this row extends the SURVEY §2.3 sketch
family.

Cross-engine exactness: hashes are the md5-derived 60-bit integers
(functions/hashing.py — uniform on [0, 2^60), no engine-native hash),
so the bottom-k SET is identical on both engines (distinct values ⇒
distinct hashes ⇒ no ties to break). The estimate
(k − 1) · 2^60 / h_(k) is ONE pinned float literal (the precomputed
numerator) and one IEEE divide of a BIGINT-exact denominator —
deterministic on both engines. When the column holds fewer than k
distinct values the sketch is the complete distinct-hash set and the
estimate is exactly its size (no extrapolation), per Beyer et al. §3.
The exact distinct count rides alongside so the parity row grades the
sketch's error itself.

Scale shape, per column: one map-side-combinable hash-dedup aggregate
(Spark's partial HashAggregate dedups within each partition before
the exchange, so the shuffle carries at most the per-partition-unique
hashes), then a global bottom-k via sort().limit(k) — planned as
TakeOrderedAndProject: each partition retains only ITS k smallest
rows before the single-partition merge, so nothing corpus-sized ever
sorts. The exact COUNT(DISTINCT) column exists to grade the sketch
and would be dropped at deployment scale; the column list is a
workload constant, so the Python loop builds a UNION plan of
independent branches over one cached scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import md5_int64
from kinesis_stream_spark.operators.hll import exact_set_counts, sql_h_expr
from kinesis_stream_spark.operators.lineage import pin

#: sketch size: bottom-k retains this many distinct hashes
KMV_K = 256
#: hash-space size of md5_int64 (60-bit non-negative)
KMV_H = 1 << 60
#: (k − 1) · 2^60 — the whole estimate numerator as ONE pinned float
#: literal (a power of two times a small integer: exactly
#: representable, so the only rounding is the final divide)
KMV_NUM = float(KMV_K - 1) * float(KMV_H)


def _bottom_k(df: DataFrame, col: str) -> DataFrame:
    """The k smallest distinct 60-bit hashes of a column — the KMV
    sketch state (map-side-combinable dedup, then
    TakeOrderedAndProject)."""
    return (
        df.where(F.col(col).isNotNull())
        .select(md5_int64(F.col(col).cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )


def kmv_distinct(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column KMV cardinality estimate next to the exact count.

    Output per column: (column_name, exact_distinct, n_sketch,
    kth_min_hash, kmv_estimate, rel_err) — n_sketch = |bottom-k| ≤ k,
    kth_min_hash the largest retained hash (the order statistic the
    estimate divides by), rel_err = (est − exact)/exact in
    pinned-order doubles (NULL when exact = 0, where the estimate is
    exactly 0 too). NULLs are skipped (COUNT(DISTINCT) semantics on
    both engines).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # ONE corpus pass for ALL columns (r13; guide §2.3/§2.4): the old
    # shape ran 2 branches per column (bottom-k dedup + exact
    # count_distinct), each re-scanning the input AND each shuffling
    # the column's distinct hash set — 6 scans / 6 distinct shuffles
    # for the 3-column query. Now every row explodes to its
    # (column, hash) pairs once and reduces to ONE distinct frame (one
    # shuffle, map-side partial dedup); the checkpointed result feeds
    # every per-column bottom-k and exact count. Distinct values map to
    # distinct 60-bit hashes (module docstring), so counting distinct
    # hashes IS the exact distinct count — the same identity the old
    # per-column count_distinct relied on for the sketch side.
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("c"),
                            F.col(c).cast("string").alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("p")
        )
        .select("p.c", "p.v")
        .where(F.col("v").isNotNull())
    )
    hv = pin(pairs.distinct())
    outs = []
    for c in cols:
        mine = hv.where(F.col("c") == c)
        # distinct on the HASHES (not just the values) so the rare
        # 60-bit collision keeps one row, exactly like the old
        # per-column ``_bottom_k`` and the oracle's DISTINCT h
        bottom = (
            mine.select(md5_int64(F.col("v")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
        )
        sketch = bottom.agg(
            F.count(F.lit(1)).cast("long").alias("n_sketch"),
            F.max("h").alias("kth_min_hash"),
        )
        exact = mine.agg(
            F.count(F.lit(1)).cast("long").alias("exact_distinct")
        )
        est = F.when(
            F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double")
        ).otherwise(F.lit(KMV_NUM) / F.col("kth_min_hash").cast("double"))
        outs.append(
            sketch.crossJoin(exact).select(
                F.lit(c).alias("column_name"),
                "exact_distinct",
                "n_sketch",
                "kth_min_hash",
                est.alias("kmv_estimate"),
                # empty/all-NULL column: exact = 0 -> NULL rel_err by
                # contract (ANSI Spark raises on the bare divide)
                F.when(
                    F.col("exact_distinct") == 0, F.lit(None).cast("double")
                )
                .otherwise(
                    (est - F.col("exact_distinct").cast("double"))
                    / F.col("exact_distinct").cast("double")
                )
                .alias("rel_err"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def sql_kmv_distinct(table: str, cols: list[str]) -> str:
    """DuckDB oracle twin of :func:`kmv_distinct`."""
    branches = []
    for c in cols:
        branches.append(
            f"""
    SELECT '{c}' AS column_name,
           (SELECT CAST(COUNT(DISTINCT {c}) AS BIGINT) FROM {table})
             AS exact_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_sketch,
           MAX(h) AS kth_min_hash,
           CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE {KMV_NUM!r} / CAST(MAX(h) AS DOUBLE) END
             AS kmv_estimate,
           CASE WHEN (SELECT COUNT(DISTINCT {c}) FROM {table}) = 0
                THEN NULL
                ELSE (CASE WHEN COUNT(*) < {KMV_K}
                           THEN CAST(COUNT(*) AS DOUBLE)
                           ELSE {KMV_NUM!r} / CAST(MAX(h) AS DOUBLE) END
                      - CAST((SELECT COUNT(DISTINCT {c}) FROM {table})
                             AS DOUBLE))
                     / CAST((SELECT COUNT(DISTINCT {c}) FROM {table})
                            AS DOUBLE) END
             AS rel_err
    FROM (SELECT DISTINCT {sql_h_expr(c)} AS h
          FROM {table} WHERE {c} IS NOT NULL
          ORDER BY h LIMIT {KMV_K})
    """
        )
    return "SELECT * FROM (" + " UNION ALL ".join(
        f"({b})" for b in branches
    ) + ") AS kmv"


def kmv_set_ops(
    a: DataFrame,
    b: DataFrame,
    *,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Distinct-cardinality AND resemblance estimates for two sets from
    their KMV sketches — the property HLL set ops can't offer: because
    a KMV sketch is a uniform sample of the distinct values, the union
    sketch K_∪ = bottom-k(K_A ∪ K_B) is itself a uniform sample of
    A ∪ B, and the fraction ρ of its hashes present in BOTH input
    sketches estimates the Jaccard resemblance DIRECTLY (Beyer et al.
    2007 §4) — where HLL's intersection is inclusion–exclusion noise,
    KMV's is ρ·|A ∪ B|, with error that stays relative to the UNION,
    not to the larger input. Exact counts ride alongside so the parity
    row grades every estimate.

    Estimates: est(A), est(B), est(A ∪ B) are the standard KMV order
    statistic (complete sketch ⇒ exact size); ρ = |K_∪ ∩ K_A ∩ K_B| /
    |K_∪| (exact integer counts over identical hash sets on both
    engines); est(A ∩ B) = ρ·est(A ∪ B); the jaccard row reports ρ
    itself against the exact |A∩B|/|A∪B|. All floats are pinned
    chains over exact integers (one literal-numerator divide per
    estimate, one ratio multiply).

    Output: 5 rows (set_op ∈ a/b/union/intersection/jaccard) with
    (set_op, exact, estimate, rel_err) — exact as double (counts are
    < 2^53-lossless; jaccard is a ratio), rel_err NULL when exact = 0.

    Scale shape: two sketch builds (combinable dedup +
    TakeOrderedAndProject each), a ≤ 2k-row merge + re-limit, two ≤
    k-row semi-joins; the exact columns (distinct + semi-join counts)
    exist to grade the sketch and drop at deployment scale."""
    ka = pin(_bottom_k(a, col_a))
    kb = pin(_bottom_k(b, col_b))
    ku = pin(ka.unionAll(kb).distinct().orderBy("h").limit(KMV_K))
    sk = (
        ku.agg(
            F.count(F.lit(1)).cast("long").alias("nu"),
            F.max("h").alias("hu"),
        )
        .crossJoin(
            ka.agg(
                F.count(F.lit(1)).cast("long").alias("na"),
                F.max("h").alias("ha"),
            )
        )
        .crossJoin(
            kb.agg(
                F.count(F.lit(1)).cast("long").alias("nb"),
                F.max("h").alias("hb"),
            )
        )
        .crossJoin(
            ku.join(ka, "h", "left_semi")
            .join(kb, "h", "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("m"))
        )
    )
    exact = exact_set_counts(a, col_a, b, col_b)
    # ONE row × 8 columns — and the 5-row output union below re-executes
    # its whole subtree once per row without this cut (5× every sketch
    # and exact aggregate; 60 parquet scans in the composed query plan).
    # The cheapest checkpoint in the repo buys the largest dedup factor.
    base = pin(sk.crossJoin(exact))

    def _est(n_col, h_col):
        return F.when(
            F.col(n_col) < KMV_K, F.col(n_col).cast("double")
        ).otherwise(F.lit(KMV_NUM) / F.col(h_col).cast("double"))

    est_a, est_b, est_u = _est("na", "ha"), _est("nb", "hb"), _est("nu", "hu")
    rho = F.when(F.col("nu") > 0, F.col("m").cast("double") / F.col("nu").cast("double")).otherwise(F.lit(0.0))
    est_i = rho * est_u
    x_j = F.when(
        F.col("x_u") > 0, F.col("x_i").cast("double") / F.col("x_u").cast("double")
    ).otherwise(F.lit(None).cast("double"))

    def _row(name, exact_expr, est_expr):
        err = F.when(
            exact_expr.isNull() | (exact_expr == 0),
            F.lit(None).cast("double"),
        ).otherwise((est_expr - exact_expr) / exact_expr)
        return base.select(
            F.lit(name).alias("set_op"),
            exact_expr.alias("exact"),
            est_expr.alias("estimate"),
            err.alias("rel_err"),
        )

    return (
        _row("a", F.col("x_a").cast("double"), est_a)
        .unionAll(_row("b", F.col("x_b").cast("double"), est_b))
        .unionAll(_row("union", F.col("x_u").cast("double"), est_u))
        .unionAll(_row("intersection", F.col("x_i").cast("double"), est_i))
        .unionAll(_row("jaccard", x_j, rho))
    )


def sql_kmv_set_ops(a_cte: str, b_cte: str) -> str:
    """DuckDB oracle twin of :func:`kmv_set_ops` over two CTEs each
    yielding a single ``v`` column."""
    h = sql_h_expr("v")
    est = lambda n, hh: (  # noqa: E731
        f"CASE WHEN {n} < {KMV_K} THEN CAST({n} AS DOUBLE)"
        f" ELSE {KMV_NUM!r} / CAST({hh} AS DOUBLE) END"
    )
    return f"""
    WITH ra AS ({a_cte}), rb AS ({b_cte}),
    ka AS (SELECT DISTINCT {h} AS h FROM ra WHERE v IS NOT NULL
           ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT DISTINCT {h} AS h FROM rb WHERE v IS NOT NULL
           ORDER BY h LIMIT {KMV_K}),
    ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL
           SELECT h FROM kb) ORDER BY h LIMIT {KMV_K}),
    sk AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ku) AS nu,
             (SELECT MAX(h) FROM ku) AS hu,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ka) AS na,
             (SELECT MAX(h) FROM ka) AS ha,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM kb) AS nb,
             (SELECT MAX(h) FROM kb) AS hb,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ku
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)) AS m),
    ex AS (
      SELECT (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM ra
              WHERE v IS NOT NULL) AS x_a,
             (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM rb
              WHERE v IS NOT NULL) AS x_b,
             (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM
              (SELECT v FROM ra WHERE v IS NOT NULL UNION ALL
               SELECT v FROM rb WHERE v IS NOT NULL)) AS x_u,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT v FROM ra WHERE v IS NOT NULL)
              WHERE v IN (SELECT v FROM rb WHERE v IS NOT NULL)) AS x_i),
    base AS (SELECT * FROM sk CROSS JOIN ex),
    rows_out AS (
      SELECT 'a' AS set_op, CAST(x_a AS DOUBLE) AS exact,
             {est('na', 'ha')} AS estimate FROM base
      UNION ALL
      SELECT 'b', CAST(x_b AS DOUBLE), {est('nb', 'hb')} FROM base
      UNION ALL
      SELECT 'union', CAST(x_u AS DOUBLE), {est('nu', 'hu')} FROM base
      UNION ALL
      SELECT 'intersection', CAST(x_i AS DOUBLE),
             (CASE WHEN nu > 0 THEN CAST(m AS DOUBLE) / CAST(nu AS DOUBLE)
                   ELSE 0.0 END) * ({est('nu', 'hu')}) FROM base
      UNION ALL
      SELECT 'jaccard',
             CASE WHEN x_u > 0 THEN CAST(x_i AS DOUBLE)
                                    / CAST(x_u AS DOUBLE) END,
             CASE WHEN nu > 0 THEN CAST(m AS DOUBLE) / CAST(nu AS DOUBLE)
                  ELSE 0.0 END FROM base)
    SELECT set_op, exact, estimate,
           CASE WHEN exact IS NULL OR exact = 0 THEN NULL
                ELSE (estimate - exact) / exact END AS rel_err
    FROM rows_out
    """
