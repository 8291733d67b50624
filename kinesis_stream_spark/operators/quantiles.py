"""Fixed-bin histogram quantile sketch: mergeable approximate
quantiles with the exact answer riding in the parity row (SURVEY.md
§2.3 extension row; the quantile member of the sketch family —
Count-Min for point frequency in operators/cms.py, HLL for
cardinality in operators/hll.py, this for rank statistics).

The COUNT/EXACT-PERCENTILE replacement at 100 TB: an exact percentile
needs a full sort (or Spark's single-reducer ``percentile``); the
sketch is ``bins`` BIGINT cells built by one map-side-combinable
aggregate, mergeable across any partitioning and across days/streams
(cell-wise SUM — the same property as the CMS and HLL cells), and a
quantile estimate reads ≤ ``bins`` rows. Equal-width bins are the
honest trade-off vs KLL/t-digest: error is bounded by the bin width
(range/bins), not by rank — perfect for bounded-range measures
(prices, quantities, rates), degraded by heavy tails; the registered
query carries the exact percentile next to the estimate so that error
IS oracle-checked, and the min/max prepass pins the range.

Cross-engine exactness: bin assignment is pinned-order IEEE
arithmetic (one subtract, one multiply, one divide, FLOOR, clamp —
identical in both engines); target ranks are exact integers from ppm
quantiles (⌈q·N⌉ in integer arithmetic, no float rank); the
interpolation is pinned-order doubles.

Scale shape: two combinable corpus passes (min/max, then the
histogram — the equi-depth operator's documented two-pass contract),
a ≤ bins-row cumulative frame (the one legitimately tiny
single-partition window, the distributed_cumsum offsets precedent),
and a workload-sized quantile loop joined broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin


def histogram_quantiles(
    df: DataFrame,
    val_col: str,
    *,
    quantiles_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
    bins: int = 1024,
) -> DataFrame:
    """Approximate quantiles from a ``bins``-cell equal-width histogram,
    each next to the exact rank statistic.

    For quantile q (in ppm): target rank k = ⌈q·N⌉ (exact integer);
    the estimate is the linear interpolation inside the first bin
    whose cumulative count reaches k; the exact value is the k-th
    smallest element (rank semantics, not QUANTILE_CONT interpolation
    — both engines replay it as an exact integer-rank lookup).

    Output per quantile: (q_ppm, n_rows, target_rank, bin,
    estimate, exact, abs_err). NULL values are excluded. Raises on an
    empty/constant column only at the SQL level (range 0 ⇒ single bin,
    handled: all mass in bin 0, estimate = min)."""
    if not quantiles_ppm:
        raise ValueError("quantiles_ppm must be non-empty")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    vals = df.where(F.col(val_col).isNotNull()).select(
        F.col(val_col).cast("double").alias("x")
    )
    rng = vals.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # bin = clamp(FLOOR((x - lo) * bins / (hi - lo))); constant column
    # (hi = lo) puts every row in bin 0 via the clamp
    b = F.when(
        F.col("hi") == F.col("lo"), F.lit(0).cast("long")
    ).otherwise(
        F.least(
            F.lit(bins - 1).cast("long"),
            F.floor(
                (F.col("x") - F.col("lo"))
                * F.lit(float(bins))
                / (F.col("hi") - F.col("lo"))
            ).cast("long"),
        )
    )
    hist = (
        vals.crossJoin(F.broadcast(rng))
        .select(b.alias("bin"), "lo", "hi", "n")
        .groupBy("bin", "lo", "hi", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # cum is a ≤bins-row frame consumed once per requested quantile —
    # checkpoint so the corpus histogram pass runs once, not once per
    # quantile (intra-query cut, recomputed per call)
    cum = pin(hist.select(
        "bin",
        "lo",
        "hi",
        "n",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
    ))
    # exact rank lookup frame: the k-th smallest x for each target k —
    # ONE pass with row_number is rank-exact on both engines
    outs = []
    for q in quantiles_ppm:
        if not (0 < q <= 1_000_000):
            raise ValueError(f"quantile ppm out of range: {q}")
        k = F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"cast(({q} * n + 999999) div 1000000 as long)"),
        )
        hit = (
            cum.where(F.col("cum") >= k)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(q).cast("long").alias("q_ppm"),
                F.col("n").alias("n_rows"),
                k.alias("target_rank"),
                "bin",
                "lo",
                "hi",
                "cnt",
                "cum",
            )
        )
        width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
        frac = (
            (F.col("target_rank") - (F.col("cum") - F.col("cnt"))).cast("double")
            / F.col("cnt").cast("double")
        )
        est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
            F.col("lo") + (F.col("bin").cast("double") + frac) * width
        )
        outs.append(
            hit.select(
                "q_ppm", "n_rows", "target_rank", "bin", est.alias("estimate")
            )
        )
    sketch = outs[0]
    for o in outs[1:]:
        sketch = sketch.unionAll(o)
    # exact k-th smallest WITHOUT a global corpus window: distributed
    # prefix sum over the distinct-value frame, then the tiny sketch
    # frame theta-joins (broadcast nested loop over |quantiles| rows ×
    # the value frame) and takes the first value whose cumulative
    # count reaches the rank. The oracle deliberately uses the
    # textbook global ROW_NUMBER — two rank strategies must agree.
    from kinesis_stream_spark.operators.skew import distributed_cumsum

    vc = vals.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("vcnt"))
    vcum = distributed_cumsum(vc, [F.col("x").asc()], "vcnt", "vcum")
    return (
        F.broadcast(sketch)
        .join(vcum, F.col("vcum") >= F.col("target_rank"))
        .groupBy("q_ppm", "n_rows", "target_rank", "bin", "estimate")
        .agg(F.min("x").alias("exact"))
        .select(
            "q_ppm",
            "n_rows",
            "target_rank",
            "bin",
            "estimate",
            "exact",
            F.abs(F.col("estimate") - F.col("exact")).alias("abs_err"),
        )
    )


def sql_histogram_quantiles(
    table: str,
    val_col: str,
    *,
    quantiles_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
    bins: int = 1024,
) -> str:
    """DuckDB oracle twin of :func:`histogram_quantiles` — identical
    bin assignment, integer target ranks, interpolation, and exact
    rank lookup."""
    qs = ", ".join(f"({q})" for q in quantiles_ppm)
    return f"""
    WITH vals AS (
      SELECT CAST({val_col} AS DOUBLE) AS x FROM {table}
      WHERE {val_col} IS NOT NULL),
    rng AS (
      SELECT MIN(x) AS lo, MAX(x) AS hi, CAST(COUNT(*) AS BIGINT) AS n
      FROM vals),
    hist AS (
      SELECT CASE WHEN r.hi = r.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST({bins - 1} AS BIGINT),
                             CAST(FLOOR((v.x - r.lo) * {float(bins)!r}
                                        / (r.hi - r.lo)) AS BIGINT))
             END AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM vals v CROSS JOIN rng r
      GROUP BY 1),
    cum AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
      FROM hist),
    qs(q_ppm) AS (VALUES {qs}),
    targets AS (
      SELECT CAST(q.q_ppm AS BIGINT) AS q_ppm, r.n AS n_rows, r.lo, r.hi,
             GREATEST(CAST(1 AS BIGINT),
                      CAST((q.q_ppm * r.n + 999999) // 1000000 AS BIGINT))
               AS target_rank
      FROM qs q CROSS JOIN rng r),
    hits AS (
      SELECT t.q_ppm, t.n_rows, t.target_rank, t.lo, t.hi,
             MIN(c.bin) AS bin
      FROM targets t JOIN cum c ON c.cum >= t.target_rank
      GROUP BY 1, 2, 3, 4, 5),
    est AS (
      SELECT h.q_ppm, h.n_rows, h.target_rank, h.bin,
             CASE WHEN h.hi = h.lo THEN h.lo
                  ELSE h.lo + (CAST(h.bin AS DOUBLE)
                               + CAST(h.target_rank - (c.cum - c.cnt)
                                      AS DOUBLE)
                                 / CAST(c.cnt AS DOUBLE))
                              * ((h.hi - h.lo) / {float(bins)!r})
             END AS estimate
      FROM hits h JOIN cum c ON c.bin = h.bin),
    ranked AS (
      SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS rk
      FROM vals)
    SELECT e.q_ppm, e.n_rows, e.target_rank, e.bin, e.estimate,
           r.x AS exact, ABS(e.estimate - r.x) AS abs_err
    FROM est e JOIN ranked r ON r.rk = e.target_rank
    """


def weighted_median(
    df: DataFrame,
    *,
    group_col: str,
    val_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group exact weighted (lower) median: the smallest value v
    whose cumulative weight reaches half the group's total —
    "the price at which half the QUANTITY traded", the
    volume-weighted centerline a plain median (one vote per row)
    misreports whenever row weights vary. Convention: the LOWER
    weighted median (first v with 2·cumw ≥ W), the selection rule
    with no interpolation and therefore no float arithmetic at all —
    the output value is one of the inputs, bit-identical on any
    engine.

    Weights are truncated to BIGINT (⌊w⌋; fractional weights scale up
    upstream); rows with NULL value, NULL weight, or w ≤ 0 are
    excluded by contract. Groups with total weight 0 are absent.

    Output per group: (group_key, n_rows, total_weight,
    weighted_median).

    Scale shape: values collapse to the (group, value) frame FIRST
    (map-side-combinable weight sums — the frame is bounded by
    distinct values per group, and ties need no tiebreak id), then a
    group-PARTITIONED cumulative window and a first-hit selection —
    no global window, no join, no sort beyond the per-group window."""
    vw = (
        df.where(
            F.col(val_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .select(
            F.col(group_col).alias("grp"),
            F.col(val_col).alias("v"),
            F.floor(F.col(weight_col)).cast("long").alias("w"),
        )
        .where(F.col("w") > 0)
        .groupBy("grp", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("w").cast("long").alias("w"),
        )
    )
    w_ord = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    cum = vw.select(
        "grp",
        "v",
        "n",
        F.sum("w")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cumw"),
        F.sum("w").over(w_all).cast("long").alias("tot"),
        F.sum("n").over(w_all).cast("long").alias("n_rows"),
    )
    hit = cum.where(F.col("cumw") * 2 >= F.col("tot"))
    w_first = Window.partitionBy("grp").orderBy("v")
    return (
        hit.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .select(
            F.col("grp").alias("group_key"),
            "n_rows",
            F.col("tot").alias("total_weight"),
            F.col("v").alias("weighted_median"),
        )
    )


def sql_weighted_median(
    *,
    facts_cte: str,
) -> str:
    """DuckDB oracle twin of :func:`weighted_median`. ``facts_cte``
    must yield (grp, v, w) rows."""
    return """
    WITH facts AS ({cte}),
    vw AS (
      SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(w) AS BIGINT)) AS BIGINT) AS w
      FROM facts
      WHERE v IS NOT NULL AND w IS NOT NULL AND w > 0
        AND CAST(FLOOR(w) AS BIGINT) > 0
      GROUP BY 1, 2),
    cum AS (
      SELECT grp, v, n,
             CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumw,
             CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS tot,
             CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS n_rows
      FROM vw),
    hit AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn
      FROM cum WHERE cumw * 2 >= tot)
    SELECT grp AS group_key, n_rows, tot AS total_weight,
           v AS weighted_median
    FROM hit WHERE rn = 1
    """.format(cte=facts_cte)
