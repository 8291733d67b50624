"""Column-level data profiling: the "what is actually in this table"
pass every large-scale ingestion runs before trusting a new drop —
null counts and distinct cardinalities per column, one output row per
column.

Scale shape: ONE scan. All per-column aggregates run in a single
``agg`` (null counts are plain conditional sums; exact distincts share
one Expand — Spark plans N distinct aggregates over one pass with an
N-way expand, not N scans), then the single result row unpivots with
``stack``. Distincts are exact because the oracle replays integers.

No reference-file citation applies: the reference (500px/kinesis-stream)
delegates all data processing to its host framework; profiling is part
of the SURVEY §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin

D38 = "decimal(38,0)"

#: fixed-point scale the Pearson and Spearman correlations quantize to
CORR_SCALE = 1 << 20


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile: (column_name, n_nulls, n_distinct), the
    distincts by exact COUNT(DISTINCT). NULL does not count toward
    n_distinct on either engine.
    """
    aggs = []
    for c in cols:
        aggs.append(
            # coalesce: SUM over ZERO rows is NULL, but the DuckDB twin's
            # COUNT(*) - COUNT(c) is 0 — an empty table must profile as
            # (0 nulls, 0 distinct) on both engines
            F.coalesce(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"_n_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"_d_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', _n_{c}, _d_{c}" for c in cols)
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column_name, n_nulls, n_distinct)"
        )
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff for migration/backfill verification: classify every
    primary key across two table versions as added / removed / changed /
    same, returning per-status row counts plus an order-independent
    checksum of the affected keys. The companion to the whole-table
    integrity checksum — the checksum answers "do the copies differ?",
    this answers "by how much, and WHICH rows" without shipping the rows
    anywhere (the key checksum lets two sides compare affected-key SETS
    with a few bytes).

    Inputs carry (key, fingerprint) where the fingerprint is any
    deterministic per-row digest (the caller picks the canonical-key
    discipline; see integrity_table_checksum). Shape: one full-outer
    shuffle join on the key — both sides hash-partition identically, so
    on bucketed-by-key storage it degrades to a zipped merge with no
    exchange at all — then a 4-row aggregate. Nothing in the plan holds
    more than a partition of keys; at 100 TB this is two scans + one
    co-partitioned join.
    """
    # presence flags, NOT fingerprint nullness, decide added/removed: a
    # NULL fingerprint (e.g. md5 of a NULL text) is a legitimate row
    # value and must not masquerade as a missing side; changed/same then
    # compare fingerprints null-safely (NULL vs NULL is 'same').
    o = old.select(
        F.col("doc_id").alias("k"),
        F.col("fp").alias("ofp"),
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        F.col("doc_id").alias("k"),
        F.col("fp").alias("nfp"),
        F.lit(True).alias("in_new"),
    )
    status = (
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .when(~F.col("ofp").eqNullSafe(F.col("nfp")), "changed")
        .otherwise("same")
    )
    from kinesis_stream_spark.functions.hashing import md5_int64

    return (
        o.join(n, "k", "full")
        .select(status.alias("status"), "k")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(md5_int64(F.col("k").cast("string")).cast("decimal(38,0)"))
            .cast("string")
            .alias("key_checksum"),
        )
    )


def sql_profile_columns(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`profile_columns` (exact path)."""
    selects = [
        f"""SELECT '{c}' AS column_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM {table}"""
        for c in cols
    ]
    return " UNION ALL ".join(selects)


def fd_profile(
    df: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency check for a list of (determinant,
    dependent) column pairs: does every determinant value map to
    exactly one dependent value? The schema-discovery / data-quality
    primitive behind key inference and denormalization audits.

    Output per pair: (determinant, dependent, n_groups,
    n_violating_groups, max_dependents, fd_holds) — a violating group
    is a determinant value seen with ≥ 2 distinct dependent values.

    Scale shape: one combinable groupBy per pair over its 2-column
    projection (column pruning reaches the scan), then a 1-row
    aggregate; the pair list is a workload constant, so the Python
    loop builds a UNION plan of independent branches — each prunable
    and parallel. NULL dependents are ignored by COUNT(DISTINCT) on
    both engines; a NULL determinant forms its own group (same
    convention as groupBy everywhere). On an EMPTY relation the FD
    holds vacuously: n_violating_groups coalesces to 0 so fd_holds is
    TRUE, never NULL (SUM over zero groups is NULL in both engines)."""
    if not pairs:
        raise ValueError("pairs must be non-empty")
    outs = []
    for det, dep in pairs:
        per = df.groupBy(F.col(det)).agg(
            F.count_distinct(F.col(dep)).alias("nd")
        )
        outs.append(
            per.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.coalesce(
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_violating_groups"),
                F.max("nd").alias("max_dependents"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_groups",
                "n_violating_groups",
                "max_dependents",
                (F.col("n_violating_groups") == 0).alias("fd_holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def sql_fd_profile(table: str, pairs: list[tuple[str, str]]) -> str:
    """DuckDB oracle twin of :func:`fd_profile`."""
    selects = [
        f"""
        SELECT '{det}' AS determinant, '{dep}' AS dependent,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_violating_groups,
               CAST(MAX(nd) AS BIGINT) AS max_dependents,
               COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0
                 AS fd_holds
        FROM (
          SELECT {det}, CAST(COUNT(DISTINCT {dep}) AS BIGINT) AS nd
          FROM {table} GROUP BY {det}
        )"""
        for det, dep in pairs
    ]
    return " UNION ALL ".join(selects)


def numeric_correlations(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Pearson correlation for a list of numeric column pairs, in the
    engine's exact fixed-point discipline: values quantize to
    ⌊x·2^20⌋ BIGINTs (:data:`CORR_SCALE`, one exact power-of-two
    multiply), the five moment sums accumulate EXACTLY (per-row cross
    products as DECIMAL(38,0) — a wide column squared at 2^20
    overflows BIGINT per-row), and

        r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))

    runs as pinned-order doubles on the exact integer moments (two
    correctly-rounded sqrts, one multiply, one divide). The result is
    the correlation of the QUANTIZED columns — a deterministic,
    engine-independent contract (Pearson is invariant to linear maps,
    so quantization error is the only deviation from the real-valued r).

    Output per pair: (col_x, col_y, n, r) — r NULL when either column
    is constant (zero variance). Rows where either column is NULL are
    excluded pairwise. One combinable aggregate per pair over its
    pruned 2-column projection; the pair list is workload, so the
    UNION branches are independent and parallel."""
    if not pairs:
        raise ValueError("pairs must be non-empty")
    s = float(CORR_SCALE)
    outs = []
    for cx, cy in pairs:
        both = df.where(F.col(cx).isNotNull() & F.col(cy).isNotNull()).select(
            F.floor(F.col(cx) * F.lit(s)).cast("long").alias("xfx"),
            F.floor(F.col(cy) * F.lit(s)).cast("long").alias("yfx"),
        )
        d19 = "decimal(19,0)"
        m = both.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xfx").cast(D38).alias("sx"),
            F.sum("yfx").cast(D38).alias("sy"),
            F.sum(
                (F.col("xfx").cast(d19) * F.col("yfx").cast(d19)).cast(D38)
            ).cast(D38).alias("sxy"),
            F.sum(
                (F.col("xfx").cast(d19) * F.col("xfx").cast(d19)).cast(D38)
            ).cast(D38).alias("sxx"),
            F.sum(
                (F.col("yfx").cast(d19) * F.col("yfx").cast(d19)).cast(D38)
            ).cast(D38).alias("syy"),
        )
        n_d = F.col("n").cast(D38)
        num = n_d * F.col("sxy") - F.col("sx") * F.col("sy")
        vx = n_d * F.col("sxx") - F.col("sx") * F.col("sx")
        vy = n_d * F.col("syy") - F.col("sy") * F.col("sy")
        r = F.when(
            (vx == 0) | (vy == 0), F.lit(None).cast("double")
        ).otherwise(
            num.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        )
        outs.append(
            m.select(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                "n",
                r.alias("r"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def sql_numeric_correlations(table: str, pairs: list[tuple[str, str]]) -> str:
    """DuckDB oracle twin of :func:`numeric_correlations` — identical
    quantization, HUGEINT-exact moments, pinned-order final floats."""
    s = float(CORR_SCALE)
    selects = []
    for cx, cy in pairs:
        selects.append(
            f"""
        -- HUGEINT -> DOUBLE casts route through VARCHAR: DuckDB's
        -- direct int128 -> double conversion TRUNCATES (not correctly
        -- rounded) past 2^63, 1 ULP off Spark's Decimal -> double;
        -- strtod on the decimal string is correctly rounded
        SELECT '{cx}' AS col_x, '{cy}' AS col_y, n,
               CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0
                      OR CAST(n AS HUGEINT) * syy - sy * sy = 0 THEN NULL
                    ELSE CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
                                   AS VARCHAR) AS DOUBLE)
                         / (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                           AS VARCHAR) AS DOUBLE))
                            * SQRT(CAST(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                             AS VARCHAR) AS DOUBLE)))
               END AS r
        FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xfx) AS HUGEINT) AS sx,
                 CAST(SUM(yfx) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(xfx AS HUGEINT) * yfx) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(xfx AS HUGEINT) * xfx) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(yfx AS HUGEINT) * yfx) AS HUGEINT) AS syy
          FROM (
            SELECT CAST(FLOOR({cx} * {s!r}) AS BIGINT) AS xfx,
                   CAST(FLOOR({cy} * {s!r}) AS BIGINT) AS yfx
            FROM {table}
            WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL
          )
        )"""
        )
    return " UNION ALL ".join(selects)


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    *,
    val_cols: list[str],
) -> DataFrame:
    """Apply a CDC change set to a snapshot — batch MERGE semantics
    (the lakehouse ``MERGE INTO`` re-expressed as one full-outer join,
    exactly how Delta/Iceberg execute it under the hood):

        op = 'D'        delete the key (no-op if absent)
        op = 'U' / 'I'  upsert: replace the row if present, insert if
                        not (idempotent — replaying a change batch
                        converges)

    Returns the merged snapshot with key ``k`` + ``val_cols``.
    Multiple changes per key in one batch are a caller error (the
    operator takes the change set as-is; sequence-collapse first —
    the streaming SCD1 sink in streaming/delivery.py shows that
    discipline); NULL keys on either side are excluded.

    Scale shape: ONE full-outer shuffle join on the key and a CASE
    projection — both sides hash-partition identically, so on
    bucketed-by-key storage it degrades to a zipped merge with no
    exchange; nothing driver-side; output size = |snapshot| +
    |inserts| − |deletes|."""
    s = snapshot.where(F.col("k").isNotNull()).select(
        "k",
        *[F.col(c).alias(f"_s_{c}") for c in val_cols],
        F.lit(True).alias("_in_s"),
    )
    c = changes.where(F.col("k").isNotNull()).select(
        "k",
        F.col("op").alias("_op"),
        *[F.col(col).alias(f"_c_{col}") for col in val_cols],
    )
    j = s.join(c, "k", "full")
    keep = F.col("_op").isNull() | (F.col("_op") != "D")
    out_cols = [
        F.when(F.col("_op").isNotNull(), F.col(f"_c_{col}"))
        .otherwise(F.col(f"_s_{col}"))
        .alias(col)
        for col in val_cols
    ]
    return j.where(keep).select("k", *out_cols)


def sql_cdc_apply(snapshot_cte: str, changes_cte: str, *, val_cols: list[str]) -> str:
    """DuckDB oracle twin of :func:`cdc_apply`. The CTEs must yield
    ``k`` + ``val_cols`` (+ ``op`` for changes)."""
    outs = ", ".join(
        f"CASE WHEN c.op IS NOT NULL THEN c.{col} ELSE s.{col} END AS {col}"
        for col in val_cols
    )
    return f"""
    WITH snap AS ({snapshot_cte}),
    chg AS ({changes_cte}),
    s AS (SELECT * FROM snap WHERE k IS NOT NULL),
    c AS (SELECT * FROM chg WHERE k IS NOT NULL)
    SELECT COALESCE(s.k, c.k) AS k, {outs}
    FROM s FULL JOIN c ON s.k = c.k
    WHERE c.op IS NULL OR c.op <> 'D'
    """


#: Benford expected first-digit shares in integer ppm:
#: floor(log10(1 + 1/d) · 10^6) — precomputed, injected as INTEGER
#: literals into both engines (no in-engine log)
import math as _math

BENFORD_PPM = tuple(
    int(_math.floor(_math.log10(1.0 + 1.0 / d) * 1_000_000))
    for d in range(1, 10)
)


def benford_audit(
    df: DataFrame,
    val_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit of a positive money column —
    the fraud/synthetic-data smoke test: natural multi-scale amounts
    follow P(d) = log10(1 + 1/d); fabricated or truncated data
    doesn't. Values quantize to integer cents (⌊x·100 + 0.5⌋ — one
    deterministic IEEE multiply+add), the leading digit comes from the
    BIGINT's decimal string (identical rendering on both engines; no
    float formatting anywhere), and the output is ENTIRELY integer:
    per digit (digit, n_obs, share_ppm, benford_ppm, excess_ppm) with
    the Benford expectation injected as precomputed ppm literals.

    Scale shape: one map-side-combinable 9-group aggregate over the
    corpus — nothing else. NULL and non-positive values are excluded
    (Benford is defined on positive magnitudes)."""
    cents = F.floor(F.col(val_col) * 100.0 + 0.5).cast("long")
    # the positivity filter runs on the QUANTIZED cents, not the raw
    # value: 0 < x < 0.005 quantizes to 0 cents, whose leading digit
    # '0' has no Benford expectation (and would crash the 1-based
    # table lookup) — sub-cent dust is excluded on both engines
    digits = (
        df.where(F.col(val_col).isNotNull())
        .select(cents.alias("_cents"))
        .where(F.col("_cents") > 0)
        .select(
            F.substring(F.col("_cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("long").alias("total"))
    bmap = F.element_at(
        F.array(*[F.lit(p).cast("long") for p in BENFORD_PPM]), F.col("digit")
    )
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.expr("cast(cast(n_obs as decimal(38,0)) * 1000000 div total as long)")
            .alias("share_ppm"),
            bmap.alias("benford_ppm"),
            (
                F.expr(
                    "cast(cast(n_obs as decimal(38,0)) * 1000000 div total as long)"
                )
                - bmap
            ).alias("excess_ppm"),
        )
    )


def sql_benford_audit(table: str, val_col: str) -> str:
    """DuckDB oracle twin of :func:`benford_audit` (identical cents
    quantization, string leading digit, integer ppm)."""
    plist = "[" + ", ".join(str(p) for p in BENFORD_PPM) + "]"
    return f"""
    WITH cents AS (
      SELECT CAST(FLOOR({val_col} * 100.0 + 0.5) AS BIGINT) AS c
      FROM {table} WHERE {val_col} IS NOT NULL),
    digits AS (
      SELECT CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM cents WHERE c > 0
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM digits)
    SELECT digit, n_obs,
           CAST(CAST(n_obs AS HUGEINT) * 1000000 // total AS BIGINT)
             AS share_ppm,
           CAST(list_extract({plist}, digit) AS BIGINT) AS benford_ppm,
           CAST(CAST(n_obs AS HUGEINT) * 1000000 // total AS BIGINT)
             - CAST(list_extract({plist}, digit) AS BIGINT) AS excess_ppm
    FROM digits CROSS JOIN tot
    """


def chisq_independence(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Chi-square independence audit between two categorical columns:
    per contingency cell, the observed count, the independence
    expectation row·col/N, and the cell's χ² contribution
    (obs − exp)²/exp — the "are these dimensions actually related"
    screen behind segmentation sanity checks and drift alarms (a flat
    contribution surface ⇒ independent; hot cells point at the
    dependent pairs).

    The contributions are pinned-order doubles over exact integer
    marginals (one multiply, one divide for exp; one subtract, one
    multiply, one divide for the contribution — deterministic in both
    engines at ANY table size, where an exact-integer χ² numerator
    (N·obs − row·col)² would overflow DECIMAL(38) past N ≈ 10^9).
    The total χ² is deliberately NOT emitted in-engine: a sum of
    doubles is accumulation-order-dependent; consumers sum the
    (deterministic) per-cell column themselves. NULL categories form
    their own cells (groupBy convention).

    Scale shape: ONE combinable (x, y) contingency aggregate over the
    corpus; marginals reduce FROM the cell frame (never a second
    scan); the cell frame is |x-domain|·|y-domain| rows — broadcast
    joins end to end."""
    cells = df.groupBy(
        F.col(col_x).alias("x"), F.col(col_y).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    rowm = cells.groupBy("x").agg(F.sum("n_obs").cast("long").alias("row_n"))
    colm = cells.groupBy("y").agg(F.sum("n_obs").cast("long").alias("col_n"))
    tot = cells.agg(F.sum("n_obs").cast("long").alias("total"))
    exp = (
        F.col("row_n").cast("double") * F.col("col_n").cast("double")
    ) / F.col("total").cast("double")
    d = F.col("n_obs").cast("double") - exp
    # null-SAFE marginal joins: a NULL category forms its own cell
    # (the documented groupBy convention), and a null-rejecting
    # equi-join would silently drop those cells while their rows still
    # inflate the marginals every other cell's expectation divides by
    return (
        cells.join(
            F.broadcast(rowm.withColumnRenamed("x", "_rx")),
            F.col("x").eqNullSafe(F.col("_rx")),
        )
        .drop("_rx")
        .join(
            F.broadcast(colm.withColumnRenamed("y", "_cy")),
            F.col("y").eqNullSafe(F.col("_cy")),
        )
        .drop("_cy")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("x").alias(col_x),
            F.col("y").alias(col_y),
            "n_obs",
            "row_n",
            "col_n",
            "total",
            exp.alias("expected"),
            (d * d / exp).alias("chi2_contrib"),
        )
    )


def sql_chisq_independence(table: str, col_x: str, col_y: str) -> str:
    """DuckDB oracle twin of :func:`chisq_independence`."""
    return f"""
    WITH cells AS (
      SELECT {col_x} AS x, {col_y} AS y, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM {table} GROUP BY 1, 2),
    rowm AS (SELECT x, CAST(SUM(n_obs) AS BIGINT) AS row_n FROM cells GROUP BY x),
    colm AS (SELECT y, CAST(SUM(n_obs) AS BIGINT) AS col_n FROM cells GROUP BY y),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM cells)
    SELECT c.x AS {col_x}, c.y AS {col_y}, c.n_obs, r.row_n, m.col_n, t.total,
           CAST(r.row_n AS DOUBLE) * CAST(m.col_n AS DOUBLE)
             / CAST(t.total AS DOUBLE) AS expected,
           (CAST(c.n_obs AS DOUBLE)
            - CAST(r.row_n AS DOUBLE) * CAST(m.col_n AS DOUBLE)
              / CAST(t.total AS DOUBLE))
           * (CAST(c.n_obs AS DOUBLE)
              - CAST(r.row_n AS DOUBLE) * CAST(m.col_n AS DOUBLE)
                / CAST(t.total AS DOUBLE))
           / (CAST(r.row_n AS DOUBLE) * CAST(m.col_n AS DOUBLE)
              / CAST(t.total AS DOUBLE)) AS chi2_contrib
    FROM cells c
    JOIN rowm r ON c.x IS NOT DISTINCT FROM r.x
    JOIN colm m ON c.y IS NOT DISTINCT FROM m.y
    CROSS JOIN tot t
    """


def _melted_value_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shared melt scaffolding for the per-column value profilers
    (:func:`category_balance`, :func:`uniqueness_profile`): one
    ``stack()`` melt into (column_name, val) and the per-value count
    frame — map-local multiply, map-side-combinable counts, shuffle
    bounded by Σ per-column cardinality."""
    melted = df.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, val)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', cast({c} as string)" for c in cols
                ),
            )
        )
    )
    return melted.groupBy("column_name", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def _base_column_aggs() -> list:
    """The three aggregates every value profiler reports over the
    :func:`_melted_value_counts` frame: total rows, NULL cells,
    non-NULL distincts."""
    return [
        F.sum("c").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("n_nulls"),
        F.count(F.when(F.col("val").isNotNull(), 1))
        .cast("long")
        .alias("n_distinct"),
    ]


def _sql_melted_counts(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`_melted_value_counts`: the shared
    melted/counts CTE prefix (caller appends its per-column
    aggregates)."""
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS val"
        f" FROM {table}"
        for c in cols
    )
    return f"""
    WITH melted AS ({melt}),
    counts AS (
      SELECT column_name, val, CAST(COUNT(*) AS BIGINT) AS c
      FROM melted GROUP BY 1, 2)"""


#: DuckDB twin of :func:`_base_column_aggs` — spliced into both value
#: profilers' per-column aggregate
_SQL_BASE_COLUMN_AGGS = """
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN c END), 0)
                  AS BIGINT) AS n_nulls,
             CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct"""


def category_balance(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Per-column class-balance profile for LOW-CARDINALITY string
    columns — the "is this label/segment column usable for stratified
    sampling or a training label" screen. Entropy's Σ p·ln p needs a
    transcendental whose last-ulp rounding differs between the JVM and
    libm (the repo's cross-engine rule), so the exact surface reports
    the two integer-safe balance measures instead: Gini impurity
    1 − Σp² and the inverse-Simpson "effective number of categories"
    N²/Σc² — both functions of exact count squares.

    Output per column: (column_name, n_rows, n_nulls, n_distinct,
    top_count, top_share_ppm, gini_impurity_ppm,
    effective_categories_milli). NULL cells are profiled in
    n_nulls but excluded from the category counts (a NULL is missing
    data, not a category). Columns whose non-NULL count is 0 emit NULL
    ratios via lazy CASE. Distinct from :func:`profile_columns`
    (nulls/cardinality only) and the per-ENTITY Simpson diversity of
    operators/temporal.py — this profiles whole COLUMNS.

    Cross-engine exactness: counts and Σc² in BIGINT/DECIMAL(38,0);
    the three ratios are integer floor divisions — no float anywhere.

    Scale shape: one melt (column-count× row multiplier, map-local)
    into a (column, value) frame whose aggregate is map-side
    combinable and bounded by Σ per-column cardinality — the standard
    wide-profile shape; the per-column reduce is K-row. For
    high-cardinality columns use :func:`profile_columns`'s approx path
    instead (Σc² over millions of categories says nothing useful)."""
    d38 = "decimal(38,0)"
    per = _melted_value_counts(df, cols).groupBy("column_name").agg(
        *_base_column_aggs(),
        F.max(F.when(F.col("val").isNotNull(), F.col("c")))
        .cast("long")
        .alias("top_count"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("val").isNotNull(),
                    (F.col("c").cast(d38) * F.col("c")).cast(d38),
                )
            ),
            F.lit(0),
        )
        .cast(d38)
        .alias("sc2"),
    )
    nn = (F.col("n_rows") - F.col("n_nulls")).cast(d38)
    return per.select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "top_count",
        F.when(
            nn > 0,
            F.expr(
                f"cast(cast(top_count as {d38}) * 1000000"
                f" div (n_rows - n_nulls) as long)"
            ),
        ).alias("top_share_ppm"),
        F.when(
            nn > 0,
            F.expr(
                f"cast((cast(n_rows - n_nulls as {d38})"
                f" * (n_rows - n_nulls) - sc2) * 1000000"
                f" div (cast(n_rows - n_nulls as {d38})"
                f" * (n_rows - n_nulls)) as long)"
            ),
        ).alias("gini_impurity_ppm"),
        F.when(
            F.col("sc2") > 0,
            F.expr(
                f"cast(cast(n_rows - n_nulls as {d38})"
                f" * (n_rows - n_nulls) * 1000 div sc2 as long)"
            ),
        ).alias("effective_categories_milli"),
    )


def sql_category_balance(table: str, cols: list[str]) -> str:
    """DuckDB oracle twin of :func:`category_balance`."""
    return f"""
    {_sql_melted_counts(table, cols)},
    per AS (
      SELECT column_name,{_SQL_BASE_COLUMN_AGGS},
             CAST(MAX(CASE WHEN val IS NOT NULL THEN c END) AS BIGINT)
               AS top_count,
             CAST(COALESCE(SUM(CASE WHEN val IS NOT NULL
                                    THEN CAST(c AS HUGEINT) * c END), 0)
                  AS HUGEINT) AS sc2
      FROM counts GROUP BY 1)
    SELECT column_name, n_rows, n_nulls, n_distinct, top_count,
           CASE WHEN n_rows - n_nulls > 0 THEN
             CAST(CAST(top_count AS HUGEINT) * 1000000
                  // (n_rows - n_nulls) AS BIGINT) END AS top_share_ppm,
           CASE WHEN n_rows - n_nulls > 0 THEN
             CAST((CAST(n_rows - n_nulls AS HUGEINT) * (n_rows - n_nulls)
                   - sc2) * 1000000
                  // (CAST(n_rows - n_nulls AS HUGEINT)
                      * (n_rows - n_nulls)) AS BIGINT)
           END AS gini_impurity_ppm,
           CASE WHEN sc2 > 0 THEN
             CAST(CAST(n_rows - n_nulls AS HUGEINT) * (n_rows - n_nulls)
                  * 1000 // sc2 AS BIGINT)
           END AS effective_categories_milli
    FROM per
    """


def uniqueness_profile(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Per-column candidate-key audit: for each column, how far it is
    from being a primary key — distinct values, duplicate-ROW count
    (rows sharing their value with at least one other row), the
    largest duplicate group, and integer-ppm uniqueness. The
    complement of the FD audit (operators/profile.py:fd_profile checks
    column→column determinism; this checks column→row identity).

    Output per column: (column_name, n_rows, n_nulls, n_distinct,
    n_dup_rows, max_group, uniqueness_ppm, is_unique_key) —
    uniqueness_ppm = ⌊10^6·n_distinct/n_nonnull⌋, NULL when the column
    is all-NULL; is_unique_key = true iff no duplicates AND no NULLs
    AND the table is non-empty (the PRIMARY KEY contract).

    Cross-engine exactness: integer counts and one integer floor
    division — no floats.

    Scale shape: same melt-then-combine shape as
    :func:`category_balance`; per-value groups reduce map-side, so the
    shuffled frame is bounded by Σ per-column cardinality, and a
    column's hot value (the classic NULL-like sentinel, '' or 0)
    rides the aggregate, never a join."""
    d38 = "decimal(38,0)"
    per = _melted_value_counts(df, cols).groupBy("column_name").agg(
        *_base_column_aggs(),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("val").isNotNull() & (F.col("c") > 1), F.col("c")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dup_rows"),
        F.coalesce(
            F.max(F.when(F.col("val").isNotNull(), F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("max_group"),
    )
    nn = F.col("n_rows") - F.col("n_nulls")
    return per.select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "n_dup_rows",
        "max_group",
        F.when(
            nn > 0,
            F.expr(
                f"cast(cast(n_distinct as {d38}) * 1000000"
                f" div (n_rows - n_nulls) as long)"
            ),
        ).alias("uniqueness_ppm"),
        (
            (F.col("n_dup_rows") == 0)
            & (F.col("n_nulls") == 0)
            & (F.col("n_rows") > 0)
        ).alias("is_unique_key"),
    )


def sql_uniqueness_profile(table: str, cols: list[str]) -> str:
    """DuckDB oracle twin of :func:`uniqueness_profile`."""
    return f"""
    {_sql_melted_counts(table, cols)},
    per AS (
      SELECT column_name,{_SQL_BASE_COLUMN_AGGS},
             CAST(COALESCE(SUM(CASE WHEN val IS NOT NULL AND c > 1
                                    THEN c END), 0) AS BIGINT)
               AS n_dup_rows,
             CAST(COALESCE(MAX(CASE WHEN val IS NOT NULL THEN c END), 0)
                  AS BIGINT) AS max_group
      FROM counts GROUP BY 1)
    SELECT column_name, n_rows, n_nulls, n_distinct, n_dup_rows, max_group,
           CASE WHEN n_rows - n_nulls > 0 THEN
             CAST(CAST(n_distinct AS HUGEINT) * 1000000
                  // (n_rows - n_nulls) AS BIGINT) END AS uniqueness_ppm,
           (n_dup_rows = 0 AND n_nulls = 0 AND n_rows > 0)
             AS is_unique_key
    FROM per
    """


#: fixed-point scale for the per-cell chi-square terms summed into the
#: Cramér's V total — floor(contrib · 2^20) BIGINTs add order-free,
#: where a raw double total would be accumulation-order-dependent
CRAMER_SCALE = 1 << 20


def cramers_v(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Cramér's V association strength between two categorical columns
    — the [0, 1] normalization of the chi-square statistic
    (V = √(χ²/(N·min(r−1, c−1)))) that makes association COMPARABLE
    across pairs with different cardinalities, where the raw χ² of
    :func:`chisq_independence` only supports a per-pair yes/no. The
    dimension-redundancy screen: V ≈ 1 says two columns encode the
    same partition (drop one from the feature set / segmentation), V ≈
    0 says independent.

    Exactness: the chisq discipline (pinned-order double contributions
    over exact integer marginals) on a DENSIFIED grid — unlike
    :func:`chisq_independence` (whose contract is the observed cells),
    V must charge the zero cells their full (0 − exp)²/exp = exp, or a
    perfectly associated pair could never reach V = 1. The grid comes
    free: the marginal frames cross-join into r·c rows that CARRY
    row_n/col_n, and the observed counts left-join onto them. Each
    cell's contribution quantizes to floor(contrib · 2^20) BIGINT so
    the TOTAL χ² sums order-free — the in-engine total the chisq
    operator deliberately refuses to emit as raw doubles. The bias is
    < cells / 2^20, identical on both engines. V itself is a pinned
    chain: one power-of-two divide, one integer-product divide, one
    IEEE sqrt. Level counts include a NULL level when present (NULL
    categories form their own cell by the groupBy convention, but
    COUNT(DISTINCT) skips NULL on both engines — the has-null flag
    adds it back). Degenerate pairs (either column constant, or an
    empty table) emit NULL cramers_v with chi2 = 0 by contract.

    Output: ONE row (pair = '<col_x>~<col_y>', n_rows, n_cells,
    r_levels, c_levels, chi2_fx, chi2, dof, cramers_v) — n_cells is the
    DENSE r·c grid.

    Scale shape: one combinable contingency aggregate, two cell-frame
    marginal reductions, a broadcast r×c cross-join + broadcast left
    join, then a cells→1-row reduction. Nothing beyond the cell grid
    ever materializes."""
    obs = df.groupBy(
        F.col(col_x).alias("x"), F.col(col_y).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    xs = obs.groupBy("x").agg(F.sum("n_raw").cast("long").alias("row_n"))
    ys = obs.groupBy("y").agg(F.sum("n_raw").cast("long").alias("col_n"))
    tot = xs.agg(F.coalesce(F.sum("row_n"), F.lit(0)).cast("long").alias("total"))
    dense = (
        xs.crossJoin(F.broadcast(ys))
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(
                obs.withColumnRenamed("x", "_ox").withColumnRenamed("y", "_oy")
            ),
            F.col("x").eqNullSafe(F.col("_ox"))
            & F.col("y").eqNullSafe(F.col("_oy")),
            "left",
        )
        .select(
            "x",
            "y",
            "row_n",
            "col_n",
            "total",
            F.coalesce(F.col("n_raw"), F.lit(0)).alias("n_obs"),
        )
    )
    exp = (
        F.col("row_n").cast("double") * F.col("col_n").cast("double")
    ) / F.col("total").cast("double")
    d = F.col("n_obs").cast("double") - exp
    term_fx = F.floor(d * d / exp * F.lit(float(CRAMER_SCALE))).cast("long")
    levels = lambda c: (  # noqa: E731
        F.count_distinct(F.col(c))
        + F.max(F.when(F.col(c).isNull(), 1).otherwise(0))
    ).cast("long")
    agg = dense.agg(
        F.coalesce(F.max("total"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(levels("x"), F.lit(0)).alias("r_levels"),
        F.coalesce(levels("y"), F.lit(0)).alias("c_levels"),
        F.coalesce(F.sum(term_fx), F.lit(0)).cast("long").alias("chi2_fx"),
    )
    chi2 = F.col("chi2_fx").cast("double") / F.lit(float(CRAMER_SCALE))
    mindim = F.least(F.col("r_levels") - 1, F.col("c_levels") - 1)
    v = F.when(
        (F.col("n_rows") > 0) & (mindim > 0),
        F.sqrt(
            chi2 / (F.col("n_rows") * mindim).cast("double")
        ),
    ).otherwise(F.lit(None).cast("double"))
    return agg.select(
        F.lit(f"{col_x}~{col_y}").alias("pair"),
        "n_rows",
        "n_cells",
        "r_levels",
        "c_levels",
        "chi2_fx",
        chi2.alias("chi2"),
        (
            F.greatest(F.col("r_levels") - 1, F.lit(0))
            * F.greatest(F.col("c_levels") - 1, F.lit(0))
        )
        .cast("long")
        .alias("dof"),
        v.alias("cramers_v"),
    )


def sql_cramers_v(
    table: str,
    col_x: str,
    col_y: str,
) -> str:
    """DuckDB oracle twin of :func:`cramers_v`."""
    exp = (
        "CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)"
        " / CAST(total AS DOUBLE)"
    )
    return f"""
    WITH obs AS (
      SELECT {col_x} AS x, {col_y} AS y, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM {table} GROUP BY 1, 2),
    xs AS (SELECT x, CAST(SUM(n_raw) AS BIGINT) AS row_n FROM obs GROUP BY 1),
    ys AS (SELECT y, CAST(SUM(n_raw) AS BIGINT) AS col_n FROM obs GROUP BY 1),
    tot AS (SELECT COALESCE(CAST(SUM(row_n) AS BIGINT), 0) AS total FROM xs),
    dense AS (
      SELECT xs.x, ys.y, xs.row_n, ys.col_n, t.total,
             COALESCE(o.n_raw, 0) AS n_obs
      FROM xs CROSS JOIN ys CROSS JOIN tot t
      LEFT JOIN obs o ON xs.x IS NOT DISTINCT FROM o.x
                     AND ys.y IS NOT DISTINCT FROM o.y),
    terms AS (
      SELECT x, y, total,
             CAST(FLOOR(
               (CAST(n_obs AS DOUBLE) - {exp})
               * (CAST(n_obs AS DOUBLE) - {exp})
               / ({exp}) * {float(CRAMER_SCALE)!r}) AS BIGINT) AS term_fx
      FROM dense),
    agg AS (
      SELECT COALESCE(MAX(total), 0) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             COALESCE(CAST(COUNT(DISTINCT x) AS BIGINT)
                      + MAX(CASE WHEN x IS NULL THEN 1 ELSE 0 END), 0)
               AS r_levels,
             COALESCE(CAST(COUNT(DISTINCT y) AS BIGINT)
                      + MAX(CASE WHEN y IS NULL THEN 1 ELSE 0 END), 0)
               AS c_levels,
             COALESCE(CAST(SUM(term_fx) AS BIGINT), 0) AS chi2_fx
      FROM terms)
    SELECT '{col_x}~{col_y}' AS pair,
           n_rows, n_cells, r_levels, c_levels, chi2_fx,
           CAST(chi2_fx AS DOUBLE) / {float(CRAMER_SCALE)!r} AS chi2,
           GREATEST(r_levels - 1, 0) * GREATEST(c_levels - 1, 0) AS dof,
           CASE WHEN n_rows > 0 AND LEAST(r_levels - 1, c_levels - 1) > 0
                THEN SQRT(CAST(chi2_fx AS DOUBLE) / {float(CRAMER_SCALE)!r}
                          / CAST(n_rows * LEAST(r_levels - 1, c_levels - 1)
                                 AS DOUBLE))
                END AS cramers_v
    FROM agg
    """


def ks_two_sample(a: DataFrame, b: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between two
    numeric samples — the distribution-level drift alarm beside the
    categorical chi-square: D = max_v |F_a(v) − F_b(v)|, the largest
    gap between the two empirical CDFs. The screen for "same metric,
    different shape" regressions (a mean-preserving variance blowup is
    invisible to the mean monitors; D catches it).

    EXACT integer core: with counts c_a(v), c_b(v) per distinct value
    and running sums C_a, C_b, the gap maximizer of |C_a/n_a − C_b/n_b|
    equals that of |C_a·n_b − C_b·n_a| — DECIMAL(38,0)/HUGEINT
    products of BIGINT running sums, compared and maximized as exact
    integers (no float ever decides the max). Only the REPORTING is
    float: D = d_num/(n_a·n_b) and the Kolmogorov-scaled statistic
    K = D·√(n_a·n_b/(n_a+n_b)) are pinned chains (string-routed
    int→double casts, one IEEE sqrt). NULL values are excluded;
    an empty side reports NULL D by contract.

    Output: ONE row (n_a, n_b, n_values, d_num, ks_d, ks_stat) —
    d_num the exact integer gap numerator (reported as its exact
    double; the test-scale bound n_a·n_b < 2^53 keeps it lossless).

    Scale shape: one combinable per-value count aggregate over both
    sides, then the running sums ride ONE :func:`distributed_cumsums`
    range exchange (never a single-partition global window), a
    broadcast totals row, and two tiny reductions (max, argmin-at-max).
    Linear in distinct values, which for measurement doubles is ≤ rows
    but shuffles only (value, c_a, c_b) triples."""
    from kinesis_stream_spark.operators.skew import distributed_cumsums

    u = (
        a.where(F.col("v").isNotNull())
        .select("v", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionAll(
            b.where(F.col("v").isNotNull()).select(
                "v",
                F.lit(0).alias("ia"),
                F.lit(1).alias("ib"),
            )
        )
    )
    pv = u.groupBy("v").agg(
        F.sum("ia").cast("long").alias("c1"),
        F.sum("ib").cast("long").alias("c2"),
    )
    cum = distributed_cumsums(
        pv, [F.col("v")], [("c1", "cum1"), ("c2", "cum2")]
    )
    tot = pv.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("c2"), F.lit(0)).cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    d38 = "decimal(38,0)"
    perv = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n_a",
        "n_b",
        "n_values",
        F.abs(
            F.col("cum1").cast(d38) * F.col("n_b").cast(d38)
            - F.col("cum2").cast(d38) * F.col("n_a").cast(d38)
        )
        .cast(d38)
        .alias("dnum"),
    )
    mx = perv.agg(
        F.max("dnum").alias("_d"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("n_values").alias("n_values"),
    )
    d_dbl = F.expr("cast(cast(_d as string) as double)")
    nprod = F.expr("cast(cast(cast(n_a as decimal(38,0)) * n_b as string) as double)")
    ks_d = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0), d_dbl / nprod
    ).otherwise(F.lit(None).cast("double"))
    ks_stat = ks_d * F.sqrt(
        nprod / (F.col("n_a") + F.col("n_b")).cast("double")
    )
    return mx.select(
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
        F.coalesce(F.col("n_values"), F.lit(0)).alias("n_values"),
        d_dbl.alias("d_num"),
        ks_d.alias("ks_d"),
        ks_stat.alias("ks_stat"),
    )


def sql_ks_two_sample(a_cte: str, b_cte: str) -> str:
    """DuckDB oracle twin of :func:`ks_two_sample` over two CTEs each
    yielding a single ``v`` column."""
    return f"""
    WITH u AS (
      SELECT v, 1 AS ia, 0 AS ib FROM ({a_cte}) WHERE v IS NOT NULL
      UNION ALL
      SELECT v, 0 AS ia, 1 AS ib FROM ({b_cte}) WHERE v IS NOT NULL),
    pv AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS c1, CAST(SUM(ib) AS BIGINT) AS c2
      FROM u GROUP BY 1),
    cum AS (
      SELECT v, SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
      FROM pv
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    tot AS (
      SELECT COALESCE(CAST(SUM(c1) AS BIGINT), 0) AS n_a,
             COALESCE(CAST(SUM(c2) AS BIGINT), 0) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM pv),
    perv AS (
      SELECT ABS(CAST(cum1 AS HUGEINT) * n_b
                 - CAST(cum2 AS HUGEINT) * n_a) AS dnum
      FROM cum CROSS JOIN tot),
    mx AS (SELECT MAX(dnum) AS d FROM perv)
    SELECT t.n_a, t.n_b, t.n_values,
           CAST(CAST(m.d AS VARCHAR) AS DOUBLE) AS d_num,
           CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
             CAST(CAST(m.d AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(t.n_a AS HUGEINT) * t.n_b AS VARCHAR)
                    AS DOUBLE) END AS ks_d,
           CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
             CAST(CAST(m.d AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(t.n_a AS HUGEINT) * t.n_b AS VARCHAR)
                    AS DOUBLE)
             * SQRT(CAST(CAST(CAST(t.n_a AS HUGEINT) * t.n_b AS VARCHAR)
                         AS DOUBLE)
                    / CAST(t.n_a + t.n_b AS DOUBLE)) END AS ks_stat
    FROM tot t CROSS JOIN mx m
    """


def spearman_correlation(
    df: DataFrame,
    *,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation ρ between two numeric
    columns — the monotone-association companion to
    :func:`numeric_correlations`: Pearson asks "linear?", Spearman
    asks "monotone?", and a Pearson≫Spearman gap on the same pair is
    the classic outlier-leverage alarm (one whale manufactures a
    linear r that the rank statistic refuses to see).

    ρ = Pearson on the rank vectors, with ties taking average ranks.
    Exactness: values quantize to ⌊x·2^20⌋ BIGINTs (the
    numeric_correlations contract — ranks only ever compare, so
    quantization is the ONLY approximation); midranks are EXACT
    integers at 2× scale (midrank2 = 2·#smaller + #equal + 1, the
    Mann-Whitney device — never a .5), the five moment sums
    accumulate as DECIMAL(38,0)/HUGEINT, and the closed form runs as
    pinned-order doubles on exact integers (two correctly-rounded
    sqrts, one multiply, one divide; 2×-scale cancels — Pearson is
    invariant to linear maps). NULL groups and pairwise-NULL rows are
    excluded by contract; constant columns yield NULL ρ.

    Scale shape: ranking happens on the per-group DISTINCT-value
    frames (one per axis), ordered (group, value) through ONE
    :func:`~kinesis_stream_spark.operators.skew.distributed_cumsums`
    range exchange each — groups here can be corpus-sized (3 return
    flags over 10^12 rows), so a per-group window is exactly the
    single-reducer funnel the prefix-sum exists to avoid. Per-group
    rank offsets come from a groups-sized totals frame (the one
    legitimately tiny ordered window), broadcast back. Ranks join to
    rows on (group, value) — two equi-joins, map-side-combinable
    moments, nothing corpus-sized in one partition. Headroom: the
    binding term is the moment COMBINATION, not the per-row product —
    sx ≈ 2n² so sx·sx ≈ 4n⁴ hits DECIMAL(38,0)/HUGEINT at
    n ≈ 2·10⁹ rows per group; beyond that, rank on a hash sample or
    shard the group (the per-row d19·d19 products themselves are
    exact far past that)."""
    from pyspark.sql import Window
    from kinesis_stream_spark.operators.skew import distributed_cumsums

    s = float(CORR_SCALE)
    d19 = "decimal(19,0)"
    rows = df.where(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.floor(F.col(x_col) * F.lit(s)).cast("long").alias("xfx"),
        F.floor(F.col(y_col) * F.lit(s)).cast("long").alias("yfx"),
    )

    def _midranks(col: str, out: str) -> DataFrame:
        vals = rows.groupBy("grp", col).agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )
        cum = distributed_cumsums(
            vals, [F.col("grp"), F.col(col)], [("ct", "cum_all")]
        )
        # group totals reduce FROM the cumsum output (which reads the
        # prefix-sum's checkpointed frame) — aggregating `vals` again
        # would recompute the whole distinct-value pass per axis
        offs = cum.groupBy("grp").agg(F.sum("ct").alias("gtot"))
        w_off = Window.orderBy("grp").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        offs = offs.select(
            "grp", (F.sum("gtot").over(w_off) - F.col("gtot")).alias("goff")
        )
        return cum.join(F.broadcast(offs), "grp").select(
            "grp",
            col,
            (
                (F.col("cum_all") - F.col("goff") - F.col("ct")) * 2
                + F.col("ct")
                + 1
            ).alias(out),
        )

    ranked = rows.join(_midranks("xfx", "mrx"), ["grp", "xfx"]).join(
        _midranks("yfx", "mry"), ["grp", "yfx"]
    )
    m = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("mrx").cast(D38)).cast(D38).alias("sx"),
        F.sum(F.col("mry").cast(D38)).cast(D38).alias("sy"),
        F.sum((F.col("mrx").cast(d19) * F.col("mry").cast(d19)).cast(D38))
        .cast(D38)
        .alias("sxy"),
        F.sum((F.col("mrx").cast(d19) * F.col("mrx").cast(d19)).cast(D38))
        .cast(D38)
        .alias("sxx"),
        F.sum((F.col("mry").cast(d19) * F.col("mry").cast(d19)).cast(D38))
        .cast(D38)
        .alias("syy"),
    )
    n_d = F.col("n").cast(D38)
    num = n_d * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n_d * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when(
        (vx == 0) | (vy == 0), F.lit(None).cast("double")
    ).otherwise(
        num.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
    )
    return m.select(
        F.col("grp").alias("group_key"), "n", rho.alias("spearman_rho")
    )


def sql_spearman_correlation(
    *,
    table: str,
    group_col: str,
    x_col: str,
    y_col: str,
) -> str:
    """DuckDB oracle twin of :func:`spearman_correlation` — identical
    quantization, exact 2×-midranks (plain per-group windows; the
    prefix-sum exchange is the Spark-side scale device, not a
    semantic), HUGEINT moments, VARCHAR-routed casts, pinned finals."""
    s = float(CORR_SCALE)
    return f"""
    WITH rows_ AS (
      SELECT {group_col} AS grp,
             CAST(FLOOR({x_col} * {s!r}) AS BIGINT) AS xfx,
             CAST(FLOOR({y_col} * {s!r}) AS BIGINT) AS yfx
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {x_col} IS NOT NULL
        AND {y_col} IS NOT NULL),
    vx AS (
      SELECT grp, xfx,
             (SUM(ct) OVER (PARTITION BY grp ORDER BY xfx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct)
               * 2 + ct + 1 AS mrx
      FROM (SELECT grp, xfx, CAST(COUNT(*) AS BIGINT) AS ct
            FROM rows_ GROUP BY 1, 2)),
    vy AS (
      SELECT grp, yfx,
             (SUM(ct) OVER (PARTITION BY grp ORDER BY yfx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct)
               * 2 + ct + 1 AS mry
      FROM (SELECT grp, yfx, CAST(COUNT(*) AS BIGINT) AS ct
            FROM rows_ GROUP BY 1, 2)),
    ranked AS (
      SELECT r.grp, mrx, mry
      FROM rows_ r
      JOIN vx USING (grp, xfx)
      JOIN vy USING (grp, yfx)),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(mrx AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(mry AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(mrx AS HUGEINT) * mry) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(mrx AS HUGEINT) * mrx) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(mry AS HUGEINT) * mry) AS HUGEINT) AS syy
      FROM ranked GROUP BY 1)
    SELECT grp AS group_key, n,
           CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0
                  OR CAST(n AS HUGEINT) * syy - sy * sy = 0 THEN NULL
                ELSE CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
                               AS VARCHAR) AS DOUBLE)
                     / (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                       AS VARCHAR) AS DOUBLE))
                        * SQRT(CAST(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                         AS VARCHAR) AS DOUBLE)))
           END AS spearman_rho
    FROM m
    """


HELLINGER_SCALE = 1 << 20

# the engine-wide ±2^40 value clamp before any 2^20 fx floor (ONE
# definition, experiment.py — ADVICE r11; a second copy here could
# silently drift from the convention it claims to share)
from kinesis_stream_spark.operators.experiment import FX_V_CAP  # noqa: E402

#: saturation point for AGGREGATED fx totals: a sum beyond the value
#: cap clamps onto the same grid point a single out-of-range value
#: does (±FX_V_CAP·2^20 = ±2^60), keeping every diff within BIGINT
_FX_GRID_CAP = int(FX_V_CAP) * HELLINGER_SCALE


def hellinger_drift(
    df: DataFrame,
    *,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
) -> DataFrame:
    """Per-key Hellinger distance between the value distributions of
    the observed span's first and second halves — the bounded-metric
    drift score beside :func:`ks_two_sample` and the chi-square: KS
    reads the max CDF gap (location-sensitive, blind to symmetric
    reshuffles), χ² is unbounded and sample-size-inflated; Hellinger
    H ∈ [0, 1] on the binned densities prices mass moved ANYWHERE and
    compares across keys and across days — the number drift monitors
    threshold. H² = 1 − Σ√(p_i·q_i) (1 − the Bhattacharyya
    coefficient).

    The binned form is deliberate: at 100 TB the per-(key, bin)
    count frame IS the mergeable sketch (fixed n_bins·keys cells from
    one combinable pass), where an unbinned Hellinger would need the
    full value multiset. The time split is the midpoint of the
    observed span (the :func:`mix_shift` convention — volume spikes
    show as drift, not as a moving boundary); values clamp to
    [lo, hi] so the edge bins absorb outliers instead of overflowing
    the integer bin index (the FLOOR(double)→LONG trap).

    Exactness: per-bin √(p·q) terms are pinned double chains over
    exact integer counts, quantized to ⌊term·2^20⌋ BIGINTs so the
    per-key TOTAL sums order-free (the Cramér's V device; bias
    < n_bins/2^20, identical both engines, and one-sided — floor only
    lowers BC, so BC ≤ 1 stays guaranteed by Cauchy-Schwarz).
    H = √(1 − BC) is one pinned subtract + sqrt. Disjoint supports
    (both halves populated, no shared bin) score H = 1 — maximal
    drift; a key living in only ONE half yields NULL by contract
    (there is no second distribution to compare — the
    appearing/vanishing-category alarm is :func:`mix_shift`'s job,
    whose per-key halves this operator's n_early/n_late mirror).
    NULL timestamps/values are excluded.

    Output per key: (key, n_early, n_late, bc_fx, hellinger).

    Scale shape: one 1-row span aggregate (broadcast), ONE
    map-side-combinable (key, bin) conditional-count pass, per-key
    totals reduce FROM the cell frame, then a cells→keys reduction —
    no window, no self-join, nothing beyond keys·n_bins cells."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    ev = df.where(F.col("ts").isNotNull() & F.col("value").isNotNull()).select(
        F.col("event_type").alias("key"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.col("value").alias("v"),
    )
    # min + (max-min) div 2 (ADVICE r10): the dividend max-min is
    # always >= 0, so the midpoint is identical under ANY integer
    # division semantics — truncating or flooring — on either engine.
    # (Empirically DuckDB 1.0.0's integer `//` also truncates like
    # Spark's `div`, so the old (min+max) form happened to agree too;
    # the non-negative-span form removes the dependence on that
    # version-specific behavior.) Same form in the SQL twin.
    span = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid_us")
    )
    clamped = F.least(F.greatest(F.col("v"), F.lit(lo)), F.lit(hi))
    raw_bin = F.floor(
        (clamped - F.lit(lo)) * F.lit(float(n_bins)) / F.lit(hi - lo)
    ).cast("long")
    cells = (
        ev.crossJoin(F.broadcast(span))
        .select(
            "key",
            (F.col("us") <= F.col("mid_us")).alias("early"),
            F.least(raw_bin, F.lit(n_bins - 1)).alias("bin"),
        )
        .groupBy("key", "bin")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("early"), 0).otherwise(1))
            .cast("long")
            .alias("n_b"),
        )
    )
    tots = cells.groupBy("key").agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    term = F.sqrt(
        (F.col("n_a").cast("double") / F.col("ta").cast("double"))
        * (F.col("n_b").cast("double") / F.col("tb").cast("double"))
    )
    term_fx = F.when(
        (F.col("ta") > 0) & (F.col("tb") > 0),
        F.floor(term * F.lit(float(HELLINGER_SCALE))).cast("long"),
    )
    per = (
        cells.join(tots, "key")
        .groupBy("key")
        .agg(
            F.max("ta").alias("n_early"),
            F.max("tb").alias("n_late"),
            F.sum(term_fx).cast("long").alias("bc_fx"),
        )
    )
    bc = F.col("bc_fx").cast("double") / F.lit(float(HELLINGER_SCALE))
    h = F.when(
        (F.col("n_early") > 0) & (F.col("n_late") > 0),
        F.sqrt(F.lit(1.0) - bc),
    ).otherwise(F.lit(None).cast("double"))
    return per.select("key", "n_early", "n_late", "bc_fx", h.alias("hellinger"))


def sql_hellinger_drift(
    *,
    table: str = "events",
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
) -> str:
    """DuckDB oracle twin of :func:`hellinger_drift` — identical
    midpoint split, clamp-then-bin chain, and 2^20-fx term floors."""
    scale = float(HELLINGER_SCALE)
    return f"""
    WITH ev AS (
      SELECT event_type AS key, EPOCH_US(ts) AS us, value AS v
      FROM {table}
      WHERE ts IS NOT NULL AND value IS NOT NULL),
    span AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid_us FROM ev),
    cells AS (
      SELECT key,
             LEAST(CAST(FLOOR((LEAST(GREATEST(v, {lo!r}), {hi!r}) - {lo!r})
                              * {float(n_bins)!r} / {hi - lo!r}) AS BIGINT),
                   {n_bins - 1}) AS bin,
             CAST(SUM(CASE WHEN us <= mid_us THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN us <= mid_us THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b
      FROM ev CROSS JOIN span
      GROUP BY 1, 2),
    tots AS (
      SELECT key, CAST(SUM(n_a) AS BIGINT) AS ta,
             CAST(SUM(n_b) AS BIGINT) AS tb
      FROM cells GROUP BY 1),
    per AS (
      SELECT key, MAX(ta) AS n_early, MAX(tb) AS n_late,
             CAST(SUM(CASE WHEN ta > 0 AND tb > 0 THEN
               CAST(FLOOR(SQRT((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
                               * (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)))
                          * {scale!r}) AS BIGINT) END) AS BIGINT) AS bc_fx
      FROM cells JOIN tots USING (key)
      GROUP BY 1)
    SELECT key, n_early, n_late, bc_fx,
           CASE WHEN n_early > 0 AND n_late > 0
                THEN SQRT(1.0 - CAST(bc_fx AS DOUBLE) / {scale!r}) END
             AS hellinger
    FROM per
    """


def _sql_str(s: str) -> str:
    """Render ``s`` as a SQL string literal body — doubles embedded
    single quotes (standard SQL escaping, identical in Spark SQL and
    DuckDB), so constraint names / in_set values containing a quote
    can't break the rendered aggregate (ADVICE r10)."""
    return str(s).replace("'", "''")


def _ident(s: str) -> str:
    """Render ``s`` inside a double-quoted SQL identifier (the
    ``"v_{name}"`` aliases) — doubles embedded double quotes."""
    return str(s).replace('"', '""')


def quality_scorecard(
    df: DataFrame,
    constraints: list[dict],
    *,
    ref_frames: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Declarative data-quality constraint suite — the Deequ /
    Great-Expectations-style validation gate a pipeline runs BEFORE
    publishing a table, as one operator: a list of constraint specs
    evaluates to one row per constraint

        (check_name, n_rows, n_violations, violation_ppm, passed)

    so the deployment gate is ``WHERE NOT passed``. Supported kinds
    (each spec a dict with ``name``, ``kind``, ``col`` + params):

    - ``not_null``                     — value IS NULL violates
    - ``in_set``    (``values``)       — value outside the set, or NULL
    - ``range``     (``lo``, ``hi``)   — value outside [lo, hi], or NULL
    - ``regexp``    (``pattern``)      — value not matching, or NULL
    - ``unique``                       — every row beyond its value's
      first occurrence violates (NULLs form one value group)
    - ``ref``       (``ref``, ``ref_col``) — non-NULL value with no
      parent in ``ref_frames[ref]`` (NULL passes — FK semantics;
      combine with ``not_null`` for mandatory parents)

    Exactness: every count is an exact integer; violation_ppm is a
    positive-operand floor division; nothing floats.

    Literal contract: constraint names and ``in_set`` values may
    contain single quotes (rendered SQL doubles them on both
    engines). ``regexp`` patterns run as Java regex on Spark
    (``rlike``) and RE2 on the DuckDB oracle (``REGEXP_MATCHES``) —
    both partial-match — so patterns must stay inside the RE2 ∩ Java
    common subset (literals, character classes, anchors, ``+*?{n,m}``
    quantifiers, alternation — the WS_RUN discipline in
    functions/hashing.py; no backreferences or lookaround, which RE2
    lacks, and no backslash-heavy classes whose escaping diverges).

    Scale shape: ALL row-local constraints (not_null/in_set/range/
    regexp/unique) share ONE map-side-combinable aggregate over one
    scan — unique rides it as count_distinct, never a self-join. Each
    ``ref`` constraint adds one anti-join of the child's DISTINCT-key
    frame (keys-sized) against the parent's key projection. The
    output is |constraints| rows; the single-row agg unpivots via
    ``stack`` — no per-constraint scans, which is the point at 100 TB
    (Deequ's design: N constraints, one pass)."""
    if not constraints:
        raise ValueError("constraints must be non-empty")
    names = [c["name"] for c in constraints]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names: {names}")
    row_local: list[tuple[str, object]] = []  # (name, violation Column)
    uniques: list[tuple[str, str]] = []
    refs: list[dict] = []
    for c in constraints:
        kind, col = c["kind"], c["col"]
        v = F.col(col)
        if kind == "not_null":
            row_local.append((c["name"], v.isNull()))
        elif kind == "in_set":
            row_local.append(
                (c["name"], ~v.isin(list(c["values"])) | v.isNull())
            )
        elif kind == "range":
            row_local.append(
                (
                    c["name"],
                    (v < F.lit(c["lo"])) | (v > F.lit(c["hi"])) | v.isNull(),
                )
            )
        elif kind == "regexp":
            row_local.append(
                (c["name"], ~v.rlike(c["pattern"]) | v.isNull())
            )
        elif kind == "unique":
            uniques.append((c["name"], col))
        elif kind == "ref":
            refs.append(c)
        else:
            raise ValueError(f"unknown constraint kind: {kind}")

    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    stack_parts: list[str] = []
    # every count coalesces to 0 so an EMPTY table passes vacuously
    # (zero rows -> zero violations) instead of emitting NULL verdicts
    for i, (_, viol) in enumerate(row_local):
        aggs.append(
            F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"_v{i}")
        )
    for j, (_, col) in enumerate(uniques):
        aggs.append(F.count_distinct(F.col(col)).cast("long").alias(f"_d{j}"))
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col(col).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"_hn{j}")
        )
    # the 1-row shared aggregate feeds the stack branch AND every
    # referential branch's total — lazily checkpoint it so they read
    # ONE materialized pass instead of re-scanning the table per
    # consumer (the distributed_cumsums device; 1 row, costless)
    one = df.agg(*aggs)
    if refs:
        one = pin(one, eager=False)
    # Spark's parser (escapedStringLiterals=false default) also eats
    # backslash escapes that DuckDB's standard literals keep — double
    # them here so check_name round-trips identically on both engines
    def _spark_str(s: str) -> str:
        return _sql_str(s).replace("\\", "\\\\")

    for i, (name, _) in enumerate(row_local):
        stack_parts.append(f"'{_spark_str(name)}', _v{i}")
    for j, (name, _) in enumerate(uniques):
        stack_parts.append(f"'{_spark_str(name)}', _n - _d{j} - _hn{j}")
    k = len(row_local) + len(uniques)
    # a ref-only suite has nothing to unpivot — stack(0, ) would be a
    # parse error, so the union starts from the referential branches
    out = None
    if k:
        out = one.select(
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({k}, {', '.join(stack_parts)})"
                " as (check_name, n_violations)"
            ),
        ).select("check_name", "n_rows", "n_violations")

    total = one.select(F.col("_n").alias("n_rows"))
    for c in refs:
        parent = (ref_frames or {})[c["ref"]].select(
            F.col(c["ref_col"]).alias("_pk")
        ).where(F.col("_pk").isNotNull()).distinct()
        child = (
            df.where(F.col(c["col"]).isNotNull())
            .groupBy(F.col(c["col"]).alias("_ck"))
            .agg(F.count(F.lit(1)).cast("long").alias("_cn"))
        )
        orphans = child.join(
            parent, child["_ck"] == parent["_pk"], "left_anti"
        ).agg(
            F.coalesce(F.sum("_cn"), F.lit(0)).cast("long").alias("n_violations")
        )
        branch = orphans.crossJoin(F.broadcast(total)).select(
            F.lit(c["name"]).alias("check_name"),
            "n_rows",
            "n_violations",
        )
        out = branch if out is None else out.unionAll(branch)
    return out.select(
        "check_name",
        "n_rows",
        "n_violations",
        F.when(
            F.col("n_rows") > 0,
            F.expr("n_violations * 1000000 div n_rows"),
        ).alias("violation_ppm"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def sql_quality_scorecard(
    *,
    table: str,
    constraints: list[dict],
    ref_tables: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle twin of :func:`quality_scorecard` — the same spec
    list rendered as one shared aggregate plus per-ref anti-join
    branches."""
    selects: list[str] = []
    agg_cols: list[str] = []
    for c in constraints:
        kind, col, name = c["kind"], c["col"], c["name"]
        if kind == "not_null":
            viol = f"{col} IS NULL"
        elif kind == "in_set":
            vals = ", ".join(f"'{_sql_str(v)}'" for v in c["values"])
            viol = f"({col} NOT IN ({vals}) OR {col} IS NULL)"
        elif kind == "range":
            viol = (
                f"({col} < {c['lo']!r} OR {col} > {c['hi']!r}"
                f" OR {col} IS NULL)"
            )
        elif kind == "regexp":
            # pattern must stay in the RE2 ∩ Java subset (see
            # quality_scorecard's literal contract)
            viol = (
                f"(NOT REGEXP_MATCHES({col}, '{_sql_str(c['pattern'])}')"
                f" OR {col} IS NULL)"
            )
        elif kind == "unique":
            agg_cols.append(
                f"CAST(COUNT(*) AS BIGINT)"
                f" - CAST(COUNT(DISTINCT {col}) AS BIGINT)"
                f" - COALESCE(MAX(CASE WHEN {col} IS NULL"
                f" THEN 1 ELSE 0 END), 0)"
                f' AS "v_{_ident(name)}"'
            )
            selects.append(name)
            continue
        elif kind == "ref":
            continue
        else:
            raise ValueError(f"unknown constraint kind: {kind}")
        agg_cols.append(
            f"COALESCE(CAST(SUM(CASE WHEN {viol} THEN 1 ELSE 0 END)"
            f' AS BIGINT), 0) AS "v_{_ident(name)}"'
        )
        selects.append(name)
    branches = [
        f"""
      SELECT '{_sql_str(name)}' AS check_name, _n AS n_rows,
             "v_{_ident(name)}" AS n_violations
      FROM one"""
        for name in selects
    ]
    for c in constraints:
        if c["kind"] != "ref":
            continue
        parent = (ref_tables or {})[c["ref"]]
        branches.append(
            f"""
      SELECT '{_sql_str(c["name"])}' AS check_name,
             (SELECT _n FROM one) AS n_rows,
             COALESCE(CAST(SUM(_cn) AS BIGINT), 0) AS n_violations
      FROM (SELECT {c["col"]} AS _ck, CAST(COUNT(*) AS BIGINT) AS _cn
            FROM {table} WHERE {c["col"]} IS NOT NULL GROUP BY 1) ch
      WHERE _ck NOT IN (SELECT {c["ref_col"]} FROM {parent}
                        WHERE {c["ref_col"]} IS NOT NULL)"""
        )
    u = "\n      UNION ALL\n".join(branches)
    return f"""
    WITH one AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS _n{"," if agg_cols else ""}
             {", ".join(agg_cols)}
      FROM {table}),
    scored AS ({u})
    SELECT check_name, n_rows, n_violations,
           CASE WHEN n_rows > 0
                THEN n_violations * 1000000 // n_rows END AS violation_ppm,
           n_violations = 0 AS passed
    FROM scored
    """


def total_reconciliation(
    parent: DataFrame,
    children: DataFrame,
    *,
    parent_key: str,
    total_col: str,
    child_key: str,
    contribution_col: str,
    tolerance_fx: int = 0,
) -> DataFrame:
    """Cross-table aggregate reconciliation — the ledger audit every
    warehouse runs before trusting a denormalized total: recompute
    each parent's stored total from its children's contributions and
    bucket the population by outcome

        match              |stored − recomputed| ≤ tolerance
        mismatch           both sides present, off by more
        saturated          a side hit the ±FX_V_CAP·2^20 clamp — its
                           magnitude is no longer comparable, so the
                           audit reports it instead of vacuously
                           matching two capped values (r12 review)
        missing_children   a parent with no child rows
        orphan_children    child rows whose parent doesn't exist

    The caller supplies the contribution EXPRESSION as a column (the
    per-row double product chain, e.g. extprice·(1−disc)·(1+tax),
    written identically in the oracle — per-row IEEE arithmetic is
    deterministic); the operator owns everything order-sensitive:
    each contribution (and each stored total) clamps to ±``FX_V_CAP``
    (ADVICE r11 — no cast ever sees an out-of-range fx product, so
    neither engine reaches its overflow edge: under ANSI both raise,
    non-ANSI Spark would saturate where DuckDB raises; the clamp
    replaces that edge with one defined, agreeing result), then
    floors to a 2^20-fx BIGINT PER ROW; the per-key total is an
    exact DECIMAL(38,0) integer sum (floor-then-sum, never a
    dense-double→DECIMAL cast, whose tie semantics differ across
    engines — the _util.py nuance) whose AGGREGATE then clamps onto
    the same ±FX_V_CAP·2^20 grid point a single out-of-range value
    lands on (a key's child SUM outgrows BIGINT long before any one
    row trips the row clamp — r12 review), keeping |sfx − rfx| ≤
    2^61. The stored total quantizes onto
    the same grid; the ≤ n_children·2^-20 floor bias is shared by
    construction and absorbed by the tolerance. One-sided keys diff
    against 0.

    Output: one row per non-empty bucket — (bucket, n_keys,
    total_abs_diff_fx, max_abs_diff_fx); total_abs_diff_fx saturates
    at BIGINT max via LEAST on both engines (the
    join_cardinality_profile clamp convention). Parents with a NULL
    key or NULL stored total and children with a NULL key or NULL
    contribution are excluded by contract.

    Scale shape: ONE map-side-combinable per-key child aggregate, a
    keys-sized FULL OUTER hash join against the parent's (key, total)
    projection, then a ≤5-row bucket reduction. The raw child table
    is scanned once; nothing beyond the keys frame shuffles."""
    if tolerance_fx < 0:
        raise ValueError(f"tolerance_fx must be >= 0, got {tolerance_fx}")
    s = float(HELLINGER_SCALE)
    d38 = "decimal(38,0)"
    p = parent.where(
        F.col(parent_key).isNotNull() & F.col(total_col).isNotNull()
    ).select(
        F.col(parent_key).alias("key"),
        F.floor(
            F.least(
                F.greatest(F.col(total_col).cast("double"), F.lit(-FX_V_CAP)),
                F.lit(FX_V_CAP),
            )
            * F.lit(s)
        )
        .cast("long")
        .alias("sfx"),
    )
    c = (
        children.where(
            F.col(child_key).isNotNull()
            & F.col(contribution_col).isNotNull()
        )
        .groupBy(F.col(child_key).alias("key"))
        .agg(
            # per-row fx sums accumulate as DECIMAL(38,0) (a key's
            # child SUM outgrows BIGINT long before any single row
            # trips the row clamp), then the AGGREGATE clamps onto
            # the same ±FX_V_CAP·2^20 grid point a stored total
            # beyond the cap lands on — both engines, so diffs stay
            # in BIGINT range (|sfx − rfx| ≤ 2^61)
            F.least(
                F.greatest(
                    F.sum(
                        F.floor(
                            F.least(
                                F.greatest(
                                    F.col(contribution_col).cast("double"),
                                    F.lit(-FX_V_CAP),
                                ),
                                F.lit(FX_V_CAP),
                            )
                            * F.lit(s)
                        ).cast(d38)
                    ).cast(d38),
                    F.lit(-_FX_GRID_CAP).cast(d38),
                ),
                F.lit(_FX_GRID_CAP).cast(d38),
            )
            .cast("long")
            .alias("rfx")
        )
    )
    j = p.join(c, "key", "full")
    # a side that HIT its clamp carries no comparable magnitude — a
    # 'match' of two saturated values would vacuously green the audit
    # exactly where discrepancies are largest (r12 second review), so
    # cap-valued sides bucket as 'saturated' instead (|v| exactly at
    # the cap without clamping is the measure-zero sentinel cost)
    at_cap = (F.abs(F.col("sfx")) == F.lit(_FX_GRID_CAP)) | (
        F.abs(F.col("rfx")) == F.lit(_FX_GRID_CAP)
    )
    bucket = (
        F.when(F.col("sfx").isNull(), F.lit("orphan_children"))
        .when(F.col("rfx").isNull(), F.lit("missing_children"))
        .when(at_cap, F.lit("saturated"))
        .when(
            F.abs(F.col("sfx") - F.col("rfx")) <= F.lit(int(tolerance_fx)),
            F.lit("match"),
        )
        .otherwise(F.lit("mismatch"))
    )
    diff = F.abs(
        F.coalesce(F.col("sfx"), F.lit(0)) - F.coalesce(F.col("rfx"), F.lit(0))
    )
    return (
        j.select(bucket.alias("bucket"), diff.alias("d"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.least(
                F.coalesce(F.sum(F.col("d").cast(d38)), F.lit(0).cast(d38)),
                F.lit(2**63 - 1).cast(d38),
            )
            .cast("long")
            .alias("total_abs_diff_fx"),
            F.max("d").cast("long").alias("max_abs_diff_fx"),
        )
    )


def sql_total_reconciliation(
    *,
    parent_table: str,
    child_table: str,
    parent_key: str,
    total_col: str,
    child_key: str,
    contribution_expr: str,
    tolerance_fx: int = 0,
) -> str:
    """DuckDB oracle twin of :func:`total_reconciliation` — identical
    fx quantization, full-outer bucket logic, and saturation clamp.
    ``contribution_expr`` must be the same per-row expression the
    Spark caller passes (per-row IEEE arithmetic is deterministic)."""
    s = float(HELLINGER_SCALE)
    return f"""
    WITH p AS (
      SELECT {parent_key} AS key,
             CAST(FLOOR(LEAST(GREATEST(CAST({total_col} AS DOUBLE),
                  {-FX_V_CAP!r}), {FX_V_CAP!r}) * {s!r}) AS BIGINT) AS sfx
      FROM {parent_table}
      WHERE {parent_key} IS NOT NULL AND {total_col} IS NOT NULL),
    c AS (
      SELECT {child_key} AS key,
             CAST(LEAST(GREATEST(
                  CAST(SUM(CAST(FLOOR(LEAST(GREATEST(
                       CAST(({contribution_expr}) AS DOUBLE),
                       {-FX_V_CAP!r}), {FX_V_CAP!r}) * {s!r})
                       AS BIGINT)) AS HUGEINT),
                  CAST(-{_FX_GRID_CAP} AS HUGEINT)),
                  CAST({_FX_GRID_CAP} AS HUGEINT)) AS BIGINT) AS rfx
      FROM {child_table}
      WHERE {child_key} IS NOT NULL AND ({contribution_expr}) IS NOT NULL
      GROUP BY 1),
    j AS (
      SELECT CASE WHEN p.sfx IS NULL THEN 'orphan_children'
                  WHEN c.rfx IS NULL THEN 'missing_children'
                  WHEN ABS(p.sfx) = {_FX_GRID_CAP}
                    OR ABS(c.rfx) = {_FX_GRID_CAP} THEN 'saturated'
                  WHEN ABS(p.sfx - c.rfx) <= {int(tolerance_fx)} THEN 'match'
                  ELSE 'mismatch' END AS bucket,
             ABS(COALESCE(p.sfx, 0) - COALESCE(c.rfx, 0)) AS d
      FROM p FULL OUTER JOIN c USING (key))
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(LEAST(COALESCE(CAST(SUM(CAST(d AS HUGEINT)) AS HUGEINT), 0),
                      CAST(9223372036854775807 AS HUGEINT)) AS BIGINT)
             AS total_abs_diff_fx,
           CAST(MAX(d) AS BIGINT) AS max_abs_diff_fx
    FROM j GROUP BY bucket
    """
