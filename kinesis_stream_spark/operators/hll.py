"""HyperLogLog distinct-count sketch (Flajolet et al. 2007): fixed-size
cardinality summary per column, checked against the exact count.

The COUNT(DISTINCT) replacement at 100 TB: the sketch is m = 2^P
BIGINT registers — KB-sized — built in one map-side-combinable
aggregate (register-wise MAX), mergeable across any partitioning and
across days/streams (MAX commutes), where the exact distinct needs a
full shuffle of the distinct key set. Reference scope note: the
reference (`500px/kinesis-stream`) ships no aggregation operators
(opaque payloads, `Record.scala:15`); this completes the sketch family
(Count-Min point frequency in operators/cms.py) with the cardinality
sketch.

Cross-engine exactness: the value hash is the md5-derived 60-bit
integer (functions/hashing.py discipline — no engine-native hash);
register index = low P bits, rho = leading-zero rank of the remaining
W = 60 − P bits computed as ``W + 1 − LENGTH(BIN(w))`` (both engines
print minimal binary digits; w = 0 ⇒ rho = W + 1). The harmonic-mean
denominator Σ 2^(−M[j]) is EXACT integer arithmetic: scaled by 2^(W+1)
it is Σ 2^(W+1−M[j]) — BIGINT shifts, never floats — with every
never-hit register contributing 2^(W+1). Worst case m·2^(W+1) = 2^61
fits BIGINT. The estimate α·m²·2^(W+1) / S is then ONE float literal
(precomputed numerator) and one IEEE divide — deterministic on both
engines. The small-range linear-counting correction (m·ln(m/V)) needs
a transcendental, so ln never runs in-engine: the m-entry m·ln(m/V)
table is precomputed in Python and injected as LITERALS into both
plans (the evaluation-operator discount-table pattern), making the
correction a pure lookup on the zero-register count V. The exact
distinct rides alongside in the parity row, so the sketch's error is
itself oracle-checked.

Scale shape: per column, one map-side-combinable (register → MAX rho)
aggregate over the corpus, then an m-row reduction to one row; the
column list is a workload constant, so the Python loop builds a UNION
plan of independent branches. The exact COUNT(DISTINCT) column exists
to grade the sketch and would be dropped at deployment scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import md5_int64, sql_md5_int64
from kinesis_stream_spark.operators.lineage import pin

#: register-index bits: m = 2^P registers
HLL_P = 10
HLL_M = 1 << HLL_P
#: hash bits left for the rho rank (md5_int64 is 60-bit)
HLL_W = 60 - HLL_P

#: α_m · m² · 2^(W+1) — the whole estimate numerator as ONE pinned
#: float literal (α_m for m ≥ 128 is 0.7213/(1 + 1.079/m); m² · 2^(W+1)
#: is a power of two, so the only rounding is the final multiply)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUM = HLL_ALPHA * float(HLL_M) * float(HLL_M) * float(1 << (HLL_W + 1))

#: small-range (linear-counting) correction table: LIN[V] = m·ln(m/V)
#: for V = 1..m zero registers, precomputed in Python and injected as
#: LITERALS into both engines (the evaluation-operator discount-table
#: pattern) — ln is transcendental, so it must never run in-engine.
#: Applied when raw_est ≤ 2.5·m and V > 0, per Flajolet et al. §4.
import math as _math

HLL_LIN = tuple(
    float(HLL_M) * _math.log(float(HLL_M) / float(v))
    for v in range(1, HLL_M + 1)
)
HLL_SMALL_CUT = 2.5 * float(HLL_M)


def _hll_registers(df: DataFrame, col: str) -> DataFrame:
    """The (j, m) register frame for one column: register index = low
    P hash bits, m = MAX leading-zero rank of the top W bits — ONE
    map-side-combinable aggregate, the mergeable sketch state."""
    h = md5_int64(F.col(col).cast("string"))
    regs = df.where(F.col(col).isNotNull()).select(h.alias("h"))
    w = F.expr(f"shiftright(h, {HLL_P})")
    rho = (
        F.when(w == 0, F.lit(HLL_W + 1))
        .otherwise(
            F.lit(HLL_W + 1)
            - F.length(F.expr(f"bin(shiftright(h, {HLL_P}))"))
        )
        .cast("int")
    )
    return (
        regs.select((F.col("h") % HLL_M).alias("j"), rho.alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("m"))
    )


def _hll_sketch_row(reg: DataFrame, suffix: str) -> DataFrame:
    """Collapse a register frame to its 1-row (s_hit, n_hit) summary."""
    return reg.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - m)")
        ).alias(f"s_hit{suffix}"),
        F.count(F.lit(1)).cast("long").alias(f"n_hit{suffix}"),
    )


def _hll_estimate(suffix: str):
    """(s_fx, raw, corrected-estimate) column expressions over a
    sketch row's (s_hit<suffix>, n_hit<suffix>) columns."""
    s_fx = (
        F.coalesce(F.col(f"s_hit{suffix}"), F.lit(0))
        + (F.lit(HLL_M) - F.col(f"n_hit{suffix}"))
        * F.lit(1 << (HLL_W + 1)).cast("long")
    ).cast("long")
    raw = F.lit(HLL_NUM) / s_fx.cast("double")
    v_zero = (F.lit(HLL_M) - F.col(f"n_hit{suffix}")).cast("long")
    lin = F.element_at(
        F.array(*[F.lit(x) for x in HLL_LIN]), v_zero.cast("int")
    )
    est = F.when(
        (v_zero > 0) & (raw <= F.lit(HLL_SMALL_CUT)), lin
    ).otherwise(raw)
    return s_fx, v_zero, raw, est


def hll_distinct(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column HLL cardinality estimate next to the exact count.

    Output per column: (column_name, n_rows, exact_distinct,
    n_registers_hit, zero_registers, harmonic_sum_fx, raw_estimate,
    hll_estimate, rel_err) — harmonic_sum_fx is the exact integer
    Σ 2^(W+1−M[j]); hll_estimate applies the linear-counting lookup
    when raw_estimate ≤ 2.5·m and zero registers exist (measured here:
    l_suppkey at sf0.1 goes +35% raw → ~0% corrected); rel_err =
    (est − exact)/exact in pinned-order doubles. NULLs are skipped
    (COUNT(DISTINCT) semantics on both engines).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # ONE corpus pass for ALL columns (r13; guide §2.3/§2.4): the old
    # shape ran 2 branches per column (register aggregate + exact
    # count_distinct), each re-scanning the input — 6 scans for the
    # 3-column query. Now every row explodes to its (column, value)
    # pairs once, reduces to the distinct (column, value, multiplicity)
    # frame — ONE shuffle, map-side partial — and that checkpointed
    # frame feeds both the register build (MAX rho over distinct values
    # ≡ MAX over all values) and the exact counts (count = distinct,
    # Σ multiplicity = n_rows). The checkpoint is the kmv_set_ops
    # precedent: distinct-key-sized, recomputed from the input on every
    # invocation; without it each consumer branch re-runs the corpus
    # explode.
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
    dv = pin(
        pairs.groupBy("c", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    h = md5_int64(F.col("v"))
    w = F.expr(f"shiftright(h, {HLL_P})")
    rho = (
        F.when(w == 0, F.lit(HLL_W + 1))
        .otherwise(
            F.lit(HLL_W + 1) - F.length(F.expr(f"bin(shiftright(h, {HLL_P}))"))
        )
        .cast("int")
    )
    sketch = (
        dv.select("c", h.alias("h"))
        .select("c", (F.col("h") % HLL_M).alias("j"), rho.alias("rho"))
        .groupBy("c", "j")
        .agg(F.max("rho").alias("m"))
        .groupBy("c")
        .agg(
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - m)")
            ).alias("s_hit"),
            F.count(F.lit(1)).cast("long").alias("n_hit"),
        )
    )
    exact = dv.groupBy("c").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("exact_distinct"),
    )
    # all-NULL/empty columns vanish from the exploded frame; the
    # literal column list re-seeds them so the old per-column union's
    # guaranteed one-row-per-column contract holds (n_rows = 0, zero
    # sketch -> linear-counting 0.0 estimate, NULL rel_err)
    base = df.sparkSession.createDataFrame([(c,) for c in cols], "c string")
    joined = (
        base.join(sketch, "c", "left")
        .join(exact, "c", "left")
        .select(
            "c",
            F.coalesce(F.col("n_rows"), F.lit(0).cast("long")).alias("n_rows"),
            F.coalesce(F.col("exact_distinct"), F.lit(0).cast("long")).alias(
                "exact_distinct"
            ),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.col("s_hit"),
        )
    )
    # small-range correction: the V-indexed m·ln(m/V) literal table
    # (1-based element_at; V ≤ m by construction)
    s_fx, v_zero, raw, est = _hll_estimate("")
    return joined.select(
        F.col("c").alias("column_name"),
        "n_rows",
        "exact_distinct",
        F.col("n_hit").alias("n_registers_hit"),
        v_zero.alias("zero_registers"),
        s_fx.alias("harmonic_sum_fx"),
        raw.alias("raw_estimate"),
        est.alias("hll_estimate"),
        # empty/all-NULL column: exact = 0 -> NULL rel_err by
        # contract (ANSI Spark raises on the bare divide)
        F.when(F.col("exact_distinct") == 0, F.lit(None).cast("double"))
        .otherwise(
            (est - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        )
        .alias("rel_err"),
    )


def exact_set_counts(a: DataFrame, col_a: str, b: DataFrame, col_b: str) -> DataFrame:
    """One row (x_a, x_b, x_u, x_i): the exact distinct counts of the
    non-NULL values of ``a.col_a`` and ``b.col_b`` and of their union
    and intersection — the grading columns of :func:`hll_set_ops` and
    :func:`~kinesis_stream_spark.operators.kmv.kmv_set_ops` (dropped at
    deployment scale)."""
    # each distinct-value frame feeds FOUR branches (own count, union,
    # semi-join probe/build): distinct-key-sized, each with its own
    # shuffle, so materialize once instead of re-running the corpus
    # distinct per consumer. Intra-query cuts, recomputed every call.
    av, bv = (
        pin(df.where(F.col(c).isNotNull()).select(F.col(c).alias("v")).distinct())
        for df, c in ((a, col_a), (b, col_b))
    )
    return (
        av.agg(F.count(F.lit(1)).cast("long").alias("x_a"))
        .crossJoin(bv.agg(F.count(F.lit(1)).cast("long").alias("x_b")))
        .crossJoin(
            av.unionAll(bv)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("x_u"))
        )
        .crossJoin(
            av.join(bv, "v", "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("x_i"))
        )
    )


def hll_set_ops(
    a: DataFrame,
    b: DataFrame,
    *,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Distinct-cardinality estimates for two sets AND their union and
    intersection from merged HLL sketches — the mergeability property
    made explicit: union registers are the register-wise MAX of the two
    sides' registers (never a rescan of the union), and the
    intersection estimate is inclusion–exclusion
    est(A) + est(B) − est(A∪B). Exact counts ride alongside so every
    estimate's error is oracle-checked.

    Output: 4 rows (set_op ∈ a/b/union/intersection) with
    (set_op, exact, estimate, rel_err); the intersection estimate can
    be negative for tiny overlaps (inclusion–exclusion noise — the
    documented limitation of HLL intersections) and rel_err is NULL
    when exact = 0.

    Scale shape: one combinable register aggregate per side, a
    ≤ m-row full-outer register merge, three 1-row reductions; exact
    counts are one distinct + one semi-join distinct (dropped at
    deployment scale — they exist to grade the sketch)."""
    # each register frame feeds TWO branches (the full-outer merge and
    # its own sketch row) — without a cut every branch re-runs the
    # input scan + aggregate (measured with exact_set_counts' frames:
    # 166 Exchanges / 224 HashAggregates in the uncut composed plan).
    # The checkpointed frames are sketch-sized (≤ HLL_M registers).
    ra = pin(_hll_registers(a, col_a))
    rb = pin(_hll_registers(b, col_b))
    merged = (
        ra.select("j", F.col("m").alias("ma"))
        .join(rb.select("j", F.col("m").alias("mb")), "j", "full")
        .select(
            "j",
            F.greatest(
                F.coalesce(F.col("ma"), F.lit(0)),
                F.coalesce(F.col("mb"), F.lit(0)),
            ).alias("m"),
        )
    )
    rows = (
        _hll_sketch_row(ra, "_a")
        .crossJoin(_hll_sketch_row(rb, "_b"))
        .crossJoin(_hll_sketch_row(merged, "_u"))
    )
    _, _, _, est_a = _hll_estimate("_a")
    _, _, _, est_b = _hll_estimate("_b")
    _, _, _, est_u = _hll_estimate("_u")
    exact = exact_set_counts(a, col_a, b, col_b)
    est_i = est_a + est_b - est_u
    base = rows.crossJoin(exact)

    def _row(name, exact_col, est_expr):
        err = F.when(
            F.col(exact_col) == 0, F.lit(None).cast("double")
        ).otherwise(
            (est_expr - F.col(exact_col).cast("double"))
            / F.col(exact_col).cast("double")
        )
        return base.select(
            F.lit(name).alias("set_op"),
            F.col(exact_col).alias("exact"),
            est_expr.alias("estimate"),
            err.alias("rel_err"),
        )

    return (
        _row("a", "x_a", est_a)
        .unionAll(_row("b", "x_b", est_b))
        .unionAll(_row("union", "x_u", est_u))
        .unionAll(_row("intersection", "x_i", est_i))
    )


def sql_h_expr(col: str) -> str:
    """The oracle's 60-bit value hash (md5_int64 twin)."""
    return sql_md5_int64(f"CAST({col} AS VARCHAR)")


def sql_hll_distinct(table: str, cols: list[str]) -> str:
    """DuckDB oracle twin of :func:`hll_distinct` — identical hashing,
    register MAX, exact integer harmonic sum, and ONE :func:`_sql_est`
    estimate expansion per column (the single source of the pinned
    numerator literal + injected m·ln(m/V) linear-counting table)."""
    selects = []
    for c in cols:
        h = sql_h_expr(c)
        selects.append(
            f"""
        SELECT column_name, n_rows, exact_distinct, n_registers_hit,
               zero_registers, harmonic_sum_fx, raw_estimate,
               hll_estimate,
               CASE WHEN exact_distinct = 0 THEN NULL
                    ELSE (hll_estimate - CAST(exact_distinct AS DOUBLE))
                         / CAST(exact_distinct AS DOUBLE)
               END AS rel_err
        FROM (
          SELECT '{c}' AS column_name, e.n_rows, e.exact_distinct,
                 s.n_hit AS n_registers_hit,
                 CAST({HLL_M} - s.n_hit AS BIGINT) AS zero_registers,
                 CAST(COALESCE(s.s_hit, 0)
                      + ({HLL_M} - s.n_hit)
                        * (CAST(1 AS BIGINT) << {HLL_W + 1}) AS BIGINT)
                   AS harmonic_sum_fx,
                 {HLL_NUM!r} / CAST(COALESCE(s.s_hit, 0)
                      + ({HLL_M} - s.n_hit)
                        * (CAST(1 AS BIGINT) << {HLL_W + 1}) AS DOUBLE)
                   AS raw_estimate,
                 {_sql_est("s.s_hit", "s.n_hit")} AS hll_estimate
          FROM (
            SELECT CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - m)) AS BIGINT)
                     AS s_hit,
                   CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM (
              SELECT hv % {HLL_M} AS j,
                     MAX(CASE WHEN (hv >> {HLL_P}) = 0 THEN {HLL_W + 1}
                         ELSE {HLL_W + 1} - LENGTH(BIN(hv >> {HLL_P}))
                         END) AS m
              FROM (SELECT {h} AS hv FROM {table} WHERE {c} IS NOT NULL)
              GROUP BY 1
            )
          ) s
          CROSS JOIN (
            SELECT CAST(COUNT({c}) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS exact_distinct
            FROM {table}
          ) e
        )"""
        )
    return " UNION ALL ".join(selects)

def _sql_est(s_hit: str, n_hit: str) -> str:
    """SQL text of the corrected estimate over (s_hit, n_hit) columns —
    shared by the distinct and set-ops oracles (same literal table,
    same exponent-notation discipline)."""
    lin_list = "[" + ", ".join(f"{x:.17e}" for x in HLL_LIN) + "]"
    s_fx = (
        f"CAST(COALESCE({s_hit}, 0) + ({HLL_M} - {n_hit})"
        f" * (CAST(1 AS BIGINT) << {HLL_W + 1}) AS DOUBLE)"
    )
    raw = f"({HLL_NUM!r} / {s_fx})"
    v = f"({HLL_M} - {n_hit})"
    return (
        f"CASE WHEN {v} > 0 AND {raw} <= {HLL_SMALL_CUT!r} "
        f"THEN list_extract({lin_list}, CAST({v} AS INT)) "
        f"ELSE {raw} END"
    )


def sql_hll_set_ops(
    a_cte: str,
    b_cte: str,
) -> str:
    """DuckDB oracle twin of :func:`hll_set_ops`. The CTEs must each
    yield a single ``v`` column (the set elements)."""
    def regs(src: str) -> str:
        h = sql_md5_int64("CAST(v AS VARCHAR)")
        return f"""
          SELECT hv % {HLL_M} AS j,
                 MAX(CASE WHEN (hv >> {HLL_P}) = 0 THEN {HLL_W + 1}
                     ELSE {HLL_W + 1} - LENGTH(BIN(hv >> {HLL_P}))
                     END) AS m
          FROM (SELECT {h} AS hv FROM {src} WHERE v IS NOT NULL)
          GROUP BY 1"""

    def srow(src: str, sfx: str) -> str:
        return f"""
          SELECT CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - m)) AS BIGINT)
                   AS s_hit{sfx},
                 CAST(COUNT(*) AS BIGINT) AS n_hit{sfx}
          FROM {src}"""

    ea = _sql_est("s_hit_a", "n_hit_a")
    eb = _sql_est("s_hit_b", "n_hit_b")
    eu = _sql_est("s_hit_u", "n_hit_u")
    ei = f"({ea} + {eb} - {eu})"
    return f"""
    WITH ca AS ({a_cte}),
    cb AS ({b_cte}),
    ra AS ({regs('ca')}),
    rb AS ({regs('cb')}),
    rm AS (
      SELECT COALESCE(ra.j, rb.j) AS j,
             GREATEST(COALESCE(ra.m, 0), COALESCE(rb.m, 0)) AS m
      FROM ra FULL JOIN rb ON ra.j = rb.j),
    rows_ AS (
      SELECT * FROM ({srow('ra', '_a')})
      CROSS JOIN ({srow('rb', '_b')})
      CROSS JOIN ({srow('rm', '_u')})),
    av AS (SELECT DISTINCT v FROM ca WHERE v IS NOT NULL),
    bv AS (SELECT DISTINCT v FROM cb WHERE v IS NOT NULL),
    exact AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM av) AS x_a,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bv) AS x_b,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT v FROM av UNION SELECT v FROM bv)) AS x_u,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM av
              WHERE v IN (SELECT v FROM bv)) AS x_i),
    base AS (SELECT * FROM rows_ CROSS JOIN exact)
    SELECT 'a' AS set_op, x_a AS exact, {ea} AS estimate,
           CASE WHEN x_a = 0 THEN NULL
                ELSE ({ea} - CAST(x_a AS DOUBLE)) / CAST(x_a AS DOUBLE)
           END AS rel_err
    FROM base
    UNION ALL
    SELECT 'b', x_b, {eb},
           CASE WHEN x_b = 0 THEN NULL
                ELSE ({eb} - CAST(x_b AS DOUBLE)) / CAST(x_b AS DOUBLE) END
    FROM base
    UNION ALL
    SELECT 'union', x_u, {eu},
           CASE WHEN x_u = 0 THEN NULL
                ELSE ({eu} - CAST(x_u AS DOUBLE)) / CAST(x_u AS DOUBLE) END
    FROM base
    UNION ALL
    SELECT 'intersection', x_i, {ei},
           CASE WHEN x_i = 0 THEN NULL
                ELSE ({ei} - CAST(x_i AS DOUBLE)) / CAST(x_i AS DOUBLE) END
    FROM base
    """
