"""Data-layout operators: Z-order (Morton) clustering keys and the
locality census that proves they work.

SURVEY.md §2.3 extension row; no counterpart in the reference —
kinesis-stream never touches storage layout (opaque payloads,
`Record.scala:15`). This is the lakehouse side of the engine: writing
a 100 TB table ordered by a Morton interleave of its two hottest
filter columns is what makes BOTH `WHERE x BETWEEN …` and
`WHERE y BETWEEN …` prune files (Delta/Iceberg OPTIMIZE ZORDER;
Morton 1966) — a single-column sort prunes only its own column.

Cross-engine exactness: the interleave is pure bit arithmetic —
per-bit shift/mask/scale, summed as BIGINT. Spark's ``shiftright``/
``&`` and DuckDB's ``>>``/``&`` agree on non-negative BIGINTs (the
repo's bin/shift parity note), so the key is bit-identical on both
engines. No floats anywhere.

Scale shape: the key computation is map-only (one projection, no
shuffle — whole-stage codegen over ~2·BITS integer ops per row); the
census is one combinable aggregate over the keyed frame. Writing the
layout is then ``df.repartitionByRange(z).sortWithinPartitions(z)``
— one range exchange, exactly the shuffle the layout amortizes
forever after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bits interleaved per dimension (2·BITS ≤ 62 keeps the key BIGINT)
ZBITS = 16


def _interleave_expr(x: str, y: str, bits: int = ZBITS) -> str:
    """SQL expression interleaving the low ``bits`` of non-negative
    integer columns ``x`` (even positions) and ``y`` (odd positions)
    — valid in both Spark SQL and DuckDB (shift/mask/add only)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def zorder_census(
    df: DataFrame,
    *,
    x_col: str,
    y_col: str,
    bucket_bits: int = 20,
) -> DataFrame:
    """Bucket rows by their Morton key's high bits (``z div
    2^bucket_bits`` — what a file boundary would be after an OPTIMIZE
    ZORDER write) and report each bucket's row count and x/y extents.

    The census IS the layout's value proposition made measurable: with
    a Morton order every bucket covers a RECTANGLE in (x, y) space, so
    its min/max column stats prune under predicates on either column —
    the output is exactly the file-skipping index a reader would
    consult. Compare against a single-column sort: y extents per
    bucket span the whole domain and y-predicates prune nothing.

    Output: (zbucket, n_rows, x_min, x_max, y_min, y_max), all BIGINT.
    Inputs must be non-negative and < 2^ZBITS (caller maps/clamps —
    same contract as any space-filling-curve index)."""
    zbucket = F.expr(
        f"cast({_interleave_expr(x_col, y_col, ZBITS)} as bigint)"
        f" div {1 << bucket_bits}"
    )
    return (
        df.select(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
            zbucket.alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def sql_zorder_census(
    *,
    source_cte: str,
    bucket_bits: int = 20,
) -> str:
    """DuckDB oracle twin of :func:`zorder_census`. ``source_cte``
    must yield non-negative integer columns (x, y)."""
    z = _interleave_expr("x", "y", ZBITS)
    return f"""
    WITH src AS ({source_cte}),
    keyed AS (
      SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
             CAST({z} AS BIGINT) // {1 << bucket_bits} AS zbucket
      FROM src)
    SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM keyed GROUP BY 1
    """


def zonemap_skipping(
    df: DataFrame,
    *,
    key_col: str,
    id_col: str,
    pred_lo: int,
    pred_hi: int,
    buckets: int = 16,
) -> DataFrame:
    """Zone-map (min/max statistics) skipping audit: lay the table out
    two ways — range-CLUSTERED on ``key_col`` versus hash-scattered on
    ``id_col`` — build each layout's per-bucket zone map, apply one
    range predicate, and report how much of the table each layout lets
    a reader SKIP. The one-number business case for `repartitionByRange
    + sortWithinPartitions` before a big parquet write: the same
    predicate on the same data reads a few buckets under the clustered
    layout and every bucket under the hash layout (parquet row-group
    stats / Iceberg-Delta file stats consult exactly this map). The
    2-D companion is :func:`zorder_census`; this is the 1-D audit with
    the read decision executed, not just the extents listed.

    Buckets: range layout assigns by tie-free global rank
    (⌊(rank−1)·B / N⌋ over (key, id) — equal-population, what a range
    exchange produces); hash layout by ``id mod B`` (non-negative ids
    by contract). A bucket is READ iff its [key_min, key_max] zone
    intersects [pred_lo, pred_hi]. NULL keys are excluded from both
    layouts by contract (parquet stats treat nulls out-of-band;
    null-aware pruning is a different audit).

    Output, one row per layout ('range', 'hash'): (layout, n_buckets,
    buckets_read, rows_total, rows_read, rows_matching, skipped_ppm,
    read_amplification_ppm) — skipped_ppm = ⌊10^6·(total−read)/total⌋,
    read_amplification_ppm = ⌊10^6·read/matching⌋ (NULL when nothing
    matches). Integer arithmetic end to end.

    Scale shape: the global rank rides :func:`distributed_cumsums`
    (range exchange + partition-local windows — NO single-reducer
    window); zone maps and the 2×B-row summary are combinable
    aggregates. The audit costs two passes over the keyed projection —
    run it on a sample or a partition at 100 TB; the decision it
    informs amortizes over every subsequent read."""
    from kinesis_stream_spark.operators.skew import distributed_cumsums

    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if pred_lo > pred_hi:
        raise ValueError(f"empty predicate [{pred_lo}, {pred_hi}]")
    keyed = df.where(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("long").alias("k"),
        F.col(id_col).cast("long").alias("rid"),
    )
    tot = keyed.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = distributed_cumsums(
        keyed, [F.asc("k"), F.asc("rid")], [(F.lit(1), "rank")]
    )
    range_rows = ranked.crossJoin(F.broadcast(tot)).select(
        F.lit("range").alias("layout"),
        "k",
        F.expr(f"(rank - 1) * {buckets} div n_total").alias("bucket"),
    )
    hash_rows = keyed.select(
        F.lit("hash").alias("layout"),
        "k",
        (F.col("rid") % buckets).alias("bucket"),
    )
    zones = (
        range_rows.unionAll(hash_rows)
        .groupBy("layout", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum(
                F.when(
                    (F.col("k") >= pred_lo) & (F.col("k") <= pred_hi), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_match"),
        )
    )
    read = (F.col("k_min") <= pred_hi) & (F.col("k_max") >= pred_lo)
    d38 = "decimal(38,0)"
    summary = zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(read, 1).otherwise(0)).cast("long").alias(
            "buckets_read"
        ),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(read, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_read"),
        F.sum("n_match").cast("long").alias("rows_matching"),
    )
    return summary.select(
        "layout",
        "n_buckets",
        "buckets_read",
        "rows_total",
        "rows_read",
        "rows_matching",
        F.when(
            F.col("rows_total") > 0,
            F.expr(
                f"cast(cast(rows_total - rows_read as {d38}) * 1000000"
                f" div rows_total as long)"
            ),
        ).alias("skipped_ppm"),
        F.when(
            F.col("rows_matching") > 0,
            F.expr(
                f"cast(cast(rows_read as {d38}) * 1000000"
                f" div rows_matching as long)"
            ),
        ).alias("read_amplification_ppm"),
    )


def sql_zonemap_skipping(
    *,
    source_cte: str,
    pred_lo: int,
    pred_hi: int,
    buckets: int = 16,
) -> str:
    """DuckDB oracle twin of :func:`zonemap_skipping` — the textbook
    single-window global rank (an INDEPENDENT prefix strategy from the
    Spark side's distributed cumsum). ``source_cte`` must yield
    (k, rid) with k non-NULL."""
    return f"""
    WITH src AS ({source_cte}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM src),
    ranked AS (
      SELECT k, ROW_NUMBER() OVER (ORDER BY k, rid) AS rank
      FROM src),
    both_layouts AS (
      SELECT 'range' AS layout, r.k,
             (r.rank - 1) * {buckets} // t.n_total AS bucket
      FROM ranked r CROSS JOIN tot t
      UNION ALL
      SELECT 'hash' AS layout, k, rid % {buckets} AS bucket FROM src),
    zones AS (
      SELECT layout, bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(k) AS k_min, MAX(k) AS k_max,
             CAST(SUM(CASE WHEN k >= {pred_lo} AND k <= {pred_hi}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM both_layouts GROUP BY 1, 2),
    summary AS (
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(CASE WHEN k_min <= {pred_hi} AND k_max >= {pred_lo}
                           THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
             CAST(SUM(n_rows) AS BIGINT) AS rows_total,
             CAST(SUM(CASE WHEN k_min <= {pred_hi} AND k_max >= {pred_lo}
                           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read,
             CAST(SUM(n_match) AS BIGINT) AS rows_matching
      FROM zones GROUP BY 1)
    SELECT layout, n_buckets, buckets_read, rows_total, rows_read,
           rows_matching,
           CASE WHEN rows_total > 0 THEN
             CAST(CAST(rows_total - rows_read AS HUGEINT) * 1000000
                  // rows_total AS BIGINT) END AS skipped_ppm,
           CASE WHEN rows_matching > 0 THEN
             CAST(CAST(rows_read AS HUGEINT) * 1000000
                  // rows_matching AS BIGINT) END AS read_amplification_ppm
    FROM summary
    """


def compaction_plan(
    files: DataFrame,
    *,
    bytes_col: str = "bytes",
    target_bytes: int = 1 << 27,
) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE/rewrite step every
    streaming ingest needs: micro-batch sinks leave thousands of
    KB-sized files per partition, and scan throughput at 100 TB dies
    on file-open overhead long before bytes do. This plans the rewrite
    WITHOUT moving data: within each partition, files (in deterministic
    file-id order) pack greedily into output bins of ~``target_bytes``
    — bin = exclusive-prefix-sum(bytes) div target — and the output is
    the per-bin manifest a rewriter would execute (read the bin's
    files, write one file).

    Bin semantics: a file opens a new bin exactly when the bytes BEFORE
    it already fill a multiple of the target, so every bin except a
    partition's last holds ≥ target bytes and overshoots by at most one
    file — the one-pass variant of first-fit that a prefix sum can
    express (true first-fit-decreasing needs sequential state; the
    overshoot bound is the same single-file one). An oversized file
    (> target) gets a bin of its own plus the spillover accounting its
    prefix position implies. Files with NULL size are excluded by
    contract (a manifest row without a size is not plannable).

    Output per (part_key, bin_id): (part_key, bin_id, n_files,
    bin_bytes, fill_ppm) — fill_ppm = bin_bytes·10^6 div target, the
    "how full did we pack" audit (a partition tail under 10^6 is
    expected; interior bins under it indicate pathological file
    ordering).

    Exactness: integer end to end (BIGINT prefix sums, two floor
    divisions). Scale shape: one window prefix-sum per partition key
    (the file MANIFEST — thousands of rows per partition, never data
    rows) + one combinable (part, bin) aggregate. The plan frame is
    metadata-sized; nothing touches the table bytes."""
    binned = (
        files.where(F.col(bytes_col).isNotNull())
        .select("part_key", "file_id", F.col(bytes_col).cast("long").alias("b"))
        .select(
            "part_key",
            "b",
            F.expr(
                "coalesce(sum(b) over (partition by part_key"
                " order by file_id rows between unbounded preceding"
                f" and 1 preceding), 0) div {target_bytes}"
            )
            .cast("long")
            .alias("bin_id"),
        )
    )
    return binned.groupBy("part_key", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("b").cast("long").alias("bin_bytes"),
        F.expr(
            "cast(cast(sum(b) as decimal(38,0)) * 1000000"
            f" div {target_bytes} as long)"
        ).alias("fill_ppm"),
    )


def sql_compaction_plan(
    files_cte: str,
    *,
    target_bytes: int = 1 << 27,
) -> str:
    """DuckDB oracle twin of :func:`compaction_plan` over
    ``files_cte → (part_key, file_id, b)``."""
    return f"""
    WITH files AS ({files_cte}),
    binned AS (
      SELECT part_key, b,
             COALESCE(SUM(b) OVER (PARTITION BY part_key ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {target_bytes} AS bin_id
      FROM files WHERE b IS NOT NULL)
    SELECT part_key, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(b) AS BIGINT) AS bin_bytes,
           CAST(CAST(SUM(b) AS HUGEINT) * 1000000 // {target_bytes}
                AS BIGINT) AS fill_ppm
    FROM binned GROUP BY 1, 2
    """
