"""Experiment analysis: deterministic hash-bucket assignment and the
two-proportion z-test per metric (SURVEY.md §2.3 extension row; no
counterpart in the reference — kinesis-stream hands decoded records to
user code, and experimentation analytics happens downstream; this is
that downstream, re-expressed declaratively).

The A/B readout every event pipeline ends in: assign each unit
(user) to control/treatment by a DETERMINISTIC hash of its id (the
md5 discipline of functions/hashing.py — re-runs, retries, and the
oracle all agree on the split), define per-unit binary conversion
metrics, and score the lift with the pooled two-proportion z statistic

    z = (p_t − p_c) / sqrt(p̂(1−p̂)(1/n_c + 1/n_t))

Cross-engine exactness: unit assignment and conversion counts are
exact integers; p's and the z are pinned-order double arithmetic
(IEEE divides, one multiply chain, one sqrt — sqrt is correctly
rounded in both engines, the `queries/_util.py` rule). Degenerate
pools (0% or 100% pooled conversion ⇒ se = 0) yield NULL z by
contract on both sides.

Scale shape: one corpus pass builds the distinct (metric, unit) frame
(map-side combinable distinct); the unit universe with its hash
bucket is unit-sized, not event-sized; per-metric counts reduce to a
|metrics|-row frame joined broadcast against the 2-row variant
totals. Nothing driver-side, no window, no skew surface (the hash
split is uniform by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import md5_int64, sql_md5_int64
from kinesis_stream_spark.operators.lineage import pin


def ab_conversion_ztest(events: DataFrame) -> DataFrame:
    """Per-metric two-proportion z-test under a deterministic 50/50
    hash split of the units.

    A unit "converts" on metric m if it has ≥ 1 event with
    ``event_type = m``. Output per metric: (metric, n_control,
    n_treatment, conv_control, conv_treatment, p_control, p_treatment,
    lift, z_score) — z NULL when the pooled rate is 0 or 1 (se = 0).
    NULL units are excluded (no identity to randomize on)."""
    units = (
        events.where(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("unit"))
        .distinct()
        .select(
            "unit",
            (md5_int64(F.col("unit").cast("string")) % 2).alias("variant"),
        )
    )
    totals = (
        units.groupBy()
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_c"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_t"),
        )
    )
    conv = (
        events.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select(F.col("event_type").alias("metric"), F.col("user_id").alias("unit"))
        .distinct()
        .join(units, "unit")
        .groupBy("metric")
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c_c"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c_t"),
        )
    )
    nc_d = F.col("n_c").cast("double")
    nt_d = F.col("n_t").cast("double")
    # an empty arm (every unit hashed one way — tiny cohorts) has no
    # rate: NULL p/lift/z by contract, and the guard also keeps ANSI
    # division happy on both engines
    empty_arm = (F.col("n_c") == 0) | (F.col("n_t") == 0)
    p_c = F.when(empty_arm, F.lit(None).cast("double")).otherwise(
        F.col("c_c").cast("double") / nc_d
    )
    p_t = F.when(empty_arm, F.lit(None).cast("double")).otherwise(
        F.col("c_t").cast("double") / nt_d
    )
    pooled = (F.col("c_c") + F.col("c_t")).cast("double") / (
        F.col("n_c") + F.col("n_t")
    ).cast("double")
    se = F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / nc_d + F.lit(1.0) / nt_d))
    degenerate = (
        empty_arm
        | (F.col("c_c") + F.col("c_t") == 0)
        | (F.col("c_c") + F.col("c_t") == F.col("n_c") + F.col("n_t"))
    )
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise((p_t - p_c) / se)
    return conv.crossJoin(F.broadcast(totals)).select(
        "metric",
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("c_c").alias("conv_control"),
        F.col("c_t").alias("conv_treatment"),
        p_c.alias("p_control"),
        p_t.alias("p_treatment"),
        (p_t - p_c).alias("lift"),
        z.alias("z_score"),
    )


def sql_ab_conversion_ztest() -> str:
    """DuckDB oracle twin of :func:`ab_conversion_ztest` — identical
    hash split, counts, and pinned-order z arithmetic."""
    h = sql_md5_int64("CAST(unit AS VARCHAR)")
    return f"""
    WITH units AS (
      SELECT unit, {h} % 2 AS variant
      FROM (SELECT DISTINCT user_id AS unit FROM events
            WHERE user_id IS NOT NULL)),
    totals AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      FROM units),
    conv AS (
      SELECT metric,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_c,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_t
      FROM (SELECT DISTINCT event_type AS metric, user_id AS unit
            FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
      JOIN units USING (unit)
      GROUP BY metric)
    SELECT metric,
           n_c AS n_control, n_t AS n_treatment,
           c_c AS conv_control, c_t AS conv_treatment,
           CASE WHEN n_c = 0 OR n_t = 0 THEN NULL
                ELSE CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE) END AS p_control,
           CASE WHEN n_c = 0 OR n_t = 0 THEN NULL
                ELSE CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE) END AS p_treatment,
           CASE WHEN n_c = 0 OR n_t = 0 THEN NULL
                ELSE CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                     - CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE) END AS lift,
           CASE WHEN n_c = 0 OR n_t = 0
                  OR c_c + c_t = 0 OR c_c + c_t = n_c + n_t THEN NULL
                ELSE (CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                      - CAST(c_c AS DOUBLE) / CAST(n_c AS DOUBLE))
                     / SQRT((CAST(c_c + c_t AS DOUBLE)
                             / CAST(n_c + n_t AS DOUBLE))
                            * (1.0 - CAST(c_c + c_t AS DOUBLE)
                                     / CAST(n_c + n_t AS DOUBLE))
                            * (1.0 / CAST(n_c AS DOUBLE)
                               + 1.0 / CAST(n_t AS DOUBLE)))
           END AS z_score
    FROM conv CROSS JOIN totals
    """


def apdex_score(events: DataFrame, *, threshold: float) -> DataFrame:
    """Per-key Apdex score (Apdex Alliance spec): with a target
    threshold T, an observation is *satisfied* at value ≤ T,
    *tolerating* at value ≤ 4T, *frustrated* beyond —

        Apdex_T = (satisfied + tolerating/2) / total

    — the SLA readout ops dashboards publish next to raw percentiles
    (the percentile-band family in this repo reports the distribution;
    Apdex collapses it to one comparable score per key).

    Cross-engine exactness: the three bucket counts are exact integers
    (threshold compares on the raw double values — per-row compares
    are deterministic) and the score is ⌊10^6·(2·sat + tol)/(2·n)⌋ in
    DECIMAL(38,0) arithmetic — integer end to end, no float aggregate.
    NULL values are excluded by contract (no latency, no opinion);
    keys with no non-NULL values are absent.

    Scale shape: one map-side-combinable per-key conditional-count
    aggregate over the corpus — no window, no join."""
    if not threshold > 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    d38 = "decimal(38,0)"
    t = F.lit(float(threshold))
    per = (
        events.where(F.col("value").isNotNull())
        .select(F.col("event_type").alias("key"), F.col("value").alias("v"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("v") <= t, 1).otherwise(0))
            .cast("long")
            .alias("n_satisfied"),
            F.sum(
                F.when(
                    (F.col("v") > t) & (F.col("v") <= t * 4), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_tolerating"),
        )
    )
    return per.select(
        "key",
        "n",
        "n_satisfied",
        "n_tolerating",
        (F.col("n") - F.col("n_satisfied") - F.col("n_tolerating")).alias(
            "n_frustrated"
        ),
        F.expr(
            f"cast((cast(n_satisfied as {d38}) * 2 + n_tolerating)"
            f" * 1000000 div (cast(n as {d38}) * 2) as long)"
        ).alias("apdex_ppm"),
    )


def sql_apdex_score(*, threshold: float) -> str:
    """DuckDB oracle twin of :func:`apdex_score`."""
    t = float(threshold)
    return f"""
    WITH per AS (
      SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value <= {t!r} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_satisfied,
             CAST(SUM(CASE WHEN value > {t!r}
                            AND value <= {t!r} * 4
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT key, n, n_satisfied, n_tolerating,
           n - n_satisfied - n_tolerating AS n_frustrated,
           CAST((CAST(n_satisfied AS HUGEINT) * 2 + n_tolerating) * 1000000
                // (CAST(n AS HUGEINT) * 2) AS BIGINT) AS apdex_ppm
    FROM per
    """


#: fixed-point scale for per-unit metric totals in the Welch t-test
WELCH_SCALE = 1 << 20

#: fixed-point scale for the ANOVA value quantization (shared spelling
#: with WELCH_SCALE so the Spark plans and the DuckDB oracles derive
#: every 2^20 / 2^40 literal from one constant)
ANOVA_SCALE = 1 << 20

#: max usable |value| entering a WELCH_SCALE fx floor: inputs clamp to
#: LEAST(GREATEST(v, -2^40), 2^40) BEFORE the ×2^20 multiply on BOTH
#: engines (the sampling.py W_MAX convention, ADVICE r11). Without the
#: clamp a per-unit total beyond ~2^63/2^20 ≈ 8.8e12 reaches the
#: engines' long-overflow edge: under ANSI mode (this repo's session
#: default — verified r12: Spark raises ARITHMETIC_OVERFLOW exactly
#: like DuckDB's CAST) both engines crash, and under non-ANSI Spark
#: would saturate where DuckDB raises. The clamp replaces that edge
#: with one defined result BOTH engines agree on.
#: 2^40 also bounds the fx at 2^60, so every d19·d19→d38 square stays
#: ≤ 2^120 ≈ 1.3e36 with ~76× DECIMAL(38,0) summation headroom.
FX_V_CAP = float(1 << 40)


def _per_unit_fx(events: DataFrame) -> DataFrame:
    """Shared unit frame for the continuous-metric A/B tests
    (:func:`ab_welch_ttest`, :func:`ab_mann_whitney`): one combinable
    per-unit aggregate — exact DECIMAL(27,6) value total (NULL values
    total 0: absence of spend is signal), 2^20 fx quantization, and
    the deterministic md5 50/50 variant. One definition so the two
    companion tests can never drift onto different splits."""
    return (
        events.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("unit"))
        .agg(
            F.coalesce(
                F.sum(F.col("value").cast("decimal(27,6)")),
                F.lit(0).cast("decimal(27,6)"),
            ).alias("_v")
        )
        .select(
            "unit",
            F.floor(F.col("_v").cast("double") * F.lit(float(WELCH_SCALE)))
            .cast("long")
            .alias("xfx"),
            (md5_int64(F.col("unit").cast("string")) % 2).alias("variant"),
        )
    )


def _sql_per_unit_fx() -> str:
    """DuckDB twin of :func:`_per_unit_fx` (the per_unit CTE body)."""
    s = float(WELCH_SCALE)
    return f"""
      SELECT user_id AS unit,
             CAST(FLOOR(CAST(COALESCE(SUM(CAST(value
                    AS DECIMAL(27,6))), 0) AS DOUBLE) * {s!r}) AS BIGINT)
               AS xfx,
             {sql_md5_int64("CAST(user_id AS VARCHAR)")} % 2 AS variant
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id"""


def ab_welch_ttest(events: DataFrame) -> DataFrame:
    """Welch's unequal-variance t-test on a CONTINUOUS per-unit metric
    under the same deterministic 50/50 hash split as
    :func:`ab_conversion_ztest` — the readout for "did treatment move
    spend/engagement", where the z-test only answers "did it move
    conversion". Welch (not Student) because experiment arms routinely
    have unequal variances (heavy-spender tails), and the test must
    not assume them equal.

    The unit of analysis is the UNIT, not the event (within-user
    events are correlated; a per-event test would overstate n): each
    unit's value total accumulates exactly (DECIMAL(27,6)), quantizes
    to 2^20 fx BIGINT, and the per-arm moments (n, Σx, Σx²) are
    DECIMAL(38,0)-exact. Sample variance s² = (n·Σx² − (Σx)²) /
    (n·(n−1)) runs on the exact integer numerator (string-routed to
    double); then

        t   = (m̄_t − m̄_c) / √(s²_c/n_c + s²_t/n_t)
        dof = (s²_c/n_c + s²_t/n_t)² /
              ((s²_c/n_c)²/(n_c−1) + (s²_t/n_t)²/(n_t−1))

    in pinned-order doubles (IEEE divides + one sqrt). Arms with < 2
    units (or zero pooled variance) yield NULL t/dof by contract.
    Units with no parseable value still count (their total is 0 —
    absence of spend is signal); NULL unit ids are excluded.

    Output: ONE row (n_control, n_treatment, mean_control,
    mean_treatment, var_control, var_treatment, t_stat, welch_dof) —
    means/variances in value units (power-of-two rescales).

    Scale shape: one combinable per-unit aggregate over the corpus,
    then a units→2-row moment reduction and a 1-row fold. No window,
    no join, no skew surface."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    s = float(WELCH_SCALE)
    per_unit = _per_unit_fx(events)
    mom = per_unit.groupBy().agg(
        *[
            agg
            for v, tag in ((0, "c"), (1, "t"))
            for agg in (
                F.coalesce(
                    F.sum(F.when(F.col("variant") == v, 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"n_{tag}"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("variant") == v, F.col("xfx")).cast(d38)
                    ),
                    F.lit(0).cast(d38),
                )
                .cast(d38)
                .alias(f"sx_{tag}"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("variant") == v,
                            (
                                F.col("xfx").cast(d19) * F.col("xfx").cast(d19)
                            ).cast(d38),
                        )
                    ),
                    F.lit(0).cast(d38),
                )
                .cast(d38)
                .alias(f"sxx_{tag}"),
            )
        ]
    )

    def _arm(tag):
        n = F.col(f"n_{tag}")
        n_d = n.cast("double")
        mean = F.when(n > 0, F.expr(f"cast(cast(sx_{tag} as string) as double)") / n_d / F.lit(s)).otherwise(F.lit(None).cast("double"))
        num = F.expr(
            f"cast(cast(cast(n_{tag} as decimal(38,0)) * sxx_{tag}"
            f" - sx_{tag} * sx_{tag} as string) as double)"
        )
        var = F.when(
            n > 1, num / (n_d * (n_d - F.lit(1.0))) / F.lit(s * s)
        ).otherwise(F.lit(None).cast("double"))
        return mean, var

    mean_c, var_c = _arm("c")
    mean_t, var_t = _arm("t")
    out = mom.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        mean_c.alias("mean_control"),
        mean_t.alias("mean_treatment"),
        var_c.alias("var_control"),
        var_t.alias("var_treatment"),
    )
    a = F.col("var_control") / F.col("n_control").cast("double")
    b = F.col("var_treatment") / F.col("n_treatment").cast("double")
    se2 = a + b
    scorable = (
        (F.col("n_control") > 1)
        & (F.col("n_treatment") > 1)
        & F.col("var_control").isNotNull()
        & F.col("var_treatment").isNotNull()
    )
    t_stat = F.when(
        scorable & (se2 > 0),
        (F.col("mean_treatment") - F.col("mean_control")) / F.sqrt(se2),
    ).otherwise(F.lit(None).cast("double"))
    dof = F.when(
        scorable & (se2 > 0),
        (se2 * se2)
        / (
            a * a / (F.col("n_control").cast("double") - F.lit(1.0))
            + b * b / (F.col("n_treatment").cast("double") - F.lit(1.0))
        ),
    ).otherwise(F.lit(None).cast("double"))
    return out.select(
        "*", t_stat.alias("t_stat"), dof.alias("welch_dof")
    )


def sql_ab_welch_ttest() -> str:
    """DuckDB oracle twin of :func:`ab_welch_ttest`."""
    s = float(WELCH_SCALE)
    num = lambda tag: (  # noqa: E731
        f"CAST(CAST(CAST(n_{tag} AS HUGEINT) * sxx_{tag}"
        f" - sx_{tag} * sx_{tag} AS VARCHAR) AS DOUBLE)"
    )
    mean = lambda tag: (  # noqa: E731
        f"CASE WHEN n_{tag} > 0 THEN CAST(CAST(sx_{tag} AS VARCHAR)"
        f" AS DOUBLE) / CAST(n_{tag} AS DOUBLE) / {s!r} END"
    )
    var = lambda tag: (  # noqa: E731
        f"CASE WHEN n_{tag} > 1 THEN {num(tag)}"
        f" / (CAST(n_{tag} AS DOUBLE) * (CAST(n_{tag} AS DOUBLE) - 1.0))"
        f" / {s * s!r} END"
    )
    return f"""
    WITH per_unit AS ({_sql_per_unit_fx()}),
    mom AS (
      SELECT
        COALESCE(CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                 AS BIGINT), 0) AS n_c,
        COALESCE(CAST(SUM(CASE WHEN variant = 0 THEN CAST(xfx AS HUGEINT)
                 END) AS HUGEINT), 0) AS sx_c,
        COALESCE(CAST(SUM(CASE WHEN variant = 0 THEN
                 CAST(xfx AS HUGEINT) * xfx END) AS HUGEINT), 0) AS sxx_c,
        COALESCE(CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                 AS BIGINT), 0) AS n_t,
        COALESCE(CAST(SUM(CASE WHEN variant = 1 THEN CAST(xfx AS HUGEINT)
                 END) AS HUGEINT), 0) AS sx_t,
        COALESCE(CAST(SUM(CASE WHEN variant = 1 THEN
                 CAST(xfx AS HUGEINT) * xfx END) AS HUGEINT), 0) AS sxx_t
      FROM per_unit),
    arms AS (
      SELECT n_c AS n_control, n_t AS n_treatment,
             {mean('c')} AS mean_control, {mean('t')} AS mean_treatment,
             {var('c')} AS var_control, {var('t')} AS var_treatment
      FROM mom)
    SELECT n_control, n_treatment, mean_control, mean_treatment,
           var_control, var_treatment,
           CASE WHEN n_control > 1 AND n_treatment > 1
                     AND var_control IS NOT NULL
                     AND var_treatment IS NOT NULL
                     AND var_control / n_control
                         + var_treatment / n_treatment > 0
                THEN (mean_treatment - mean_control)
                     / SQRT(var_control / n_control
                            + var_treatment / n_treatment) END AS t_stat,
           CASE WHEN n_control > 1 AND n_treatment > 1
                     AND var_control IS NOT NULL
                     AND var_treatment IS NOT NULL
                     AND var_control / n_control
                         + var_treatment / n_treatment > 0
                THEN (var_control / n_control
                      + var_treatment / n_treatment)
                     * (var_control / n_control
                        + var_treatment / n_treatment)
                     / ((var_control / n_control)
                        * (var_control / n_control) / (n_control - 1.0)
                        + (var_treatment / n_treatment)
                          * (var_treatment / n_treatment)
                          / (n_treatment - 1.0)) END AS welch_dof
    FROM arms
    """


def anova_oneway(events: DataFrame) -> DataFrame:
    """One-way ANOVA F-test of a continuous value across k groups —
    the k-arm completion of the stats-test family (χ²/Cramér's V for
    categorical×categorical, z/Welch-t for two arms): does the group
    mean differ ANYWHERE, before pairwise tests say where. Also
    reports η² = SSB/SST, the "share of variance the grouping
    explains" effect size that the F alone hides.

    Exactness: per-row values quantize to 2^20 fx BIGINT; per-group
    moments (n_g, S_g = Σx, Q_g = Σx²) are DECIMAL(38,0)-exact. The
    decomposition needs the rational terms S_g²/n_g, so each group's
    term truncates to the exact integer a_g = S_g² div n_g — EXACT
    integer division (never a double divide: error < 1 fx² unit per
    group, identical on both engines, and no long overflow — Spark's
    floor(double) returns BIGINT, which the grand term S²/n outgrows
    at ~10^19 fx²). On the Spark side the division runs in TWO
    power-of-two stages (quotient = hi·2^20 + lo): Spark types a
    decimal division as Decimal(38,6) — only 32 integral digits — so
    the one-stage quotient would raise NUMERIC_VALUE_OUT_OF_RANGE at
    S_g²/n_g > 10^32 while DuckDB's HUGEINT `//` sails on; two stages
    keep every intermediate quotient inside 32 digits all the way to
    S_g²'s own representability bound (~10^38 on both engines, i.e.
    |value|·√n_g up to ~10^9 in value units — headroom, not a limit a
    real metric hits).
    Then SSW = Q − Σa_g and SSB = Σa_g − (S² div n) are exact integer
    sums; SSB additionally clamps at 0 — per-group flooring can push
    the raw difference a few fx² units NEGATIVE when the true SSB is
    ~0 (each a_g rounds down but the grand term subtracts a larger
    floor), and a negative SSB would flow into impossible negative
    F/η² — and F = (SSB/(k−1)) / (SSW/(n−k)) is a pinned chain.
    Degenerate inputs (k < 2, n ≤ k, or SSW = 0) yield NULL F by
    contract; rows with NULL group or NULL value are excluded.

    Output: ONE row (n_events, k_groups, ssb, ssw, f_stat,
    eta_squared) — ssb/ssw in value² units (one 2^-40 rescale).

    Scale shape: one map-side-combinable group aggregate (k rows), a
    k-row fold with one divide per group, a 1-row reduction. No
    window, no join."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    s2 = float(ANOVA_SCALE) * float(ANOVA_SCALE)
    base = events.where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value").cast("double") * F.lit(float(ANOVA_SCALE)))
        .cast("long")
        .alias("xfx"),
    )
    grp = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("xfx").cast(d38)).cast(d38).alias("s_g"),
        F.sum((F.col("xfx").cast(d19) * F.col("xfx").cast(d19)).cast(d38))
        .cast(d38)
        .alias("q_g"),
    )
    def _div_exact(ss: str, n: str) -> str:
        """Exact decimal floor division ``{ss} div {n}`` in two
        power-of-two stages (docstring: one stage overflows Spark's
        Decimal(38,6) quotient six orders of magnitude before the
        operands themselves overflow)."""
        nd = f"cast({n} as decimal(38,0))"
        big = f"({nd} * {ANOVA_SCALE})"
        hi = f"(({ss}) - (({ss}) % {big})) / {big}"
        rem = f"(({ss}) % {big})"
        lo = f"(({rem}) - (({rem}) % {nd})) / {nd}"
        return (
            f"cast(cast({hi} as decimal(38,0)) * {ANOVA_SCALE}"
            f" + cast({lo} as decimal(38,0)) as decimal(38,0))"
        )

    a_g = F.expr(_div_exact("s_g * s_g", "n_g"))
    fold = grp.select("n_g", "s_g", "q_g", a_g.alias("a_g")).agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").cast(d38).alias("s"),
        F.sum("q_g").cast(d38).alias("q"),
        F.sum("a_g").cast(d38).alias("a"),
    )
    grand = F.expr(_div_exact("s * s", "n"))
    terms = fold.select(
        "n",
        "k",
        F.expr("cast(cast(q as string) as double)").alias("_q"),
        F.expr("cast(cast(a as string) as double)").alias("_a"),
        grand.cast("string").cast("double").alias("_gr"),
    )
    ssw = (F.col("_q") - F.col("_a")) / F.lit(s2)
    # clamp: per-group floors can push the raw Σa − grand a few fx²
    # units negative when the true SSB ≈ 0 (docstring)
    ssb = F.greatest(
        (F.col("_a") - F.col("_gr")) / F.lit(s2), F.lit(0.0)
    )
    scorable = (
        (F.col("k") > 1)
        & (F.col("n") > F.col("k"))
        & (ssw > 0)
    )
    f_stat = F.when(
        scorable,
        (ssb / (F.col("k") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double")),
    ).otherwise(F.lit(None).cast("double"))
    eta = F.when(
        ssb + ssw > 0, ssb / (ssb + ssw)
    ).otherwise(F.lit(None).cast("double"))
    return terms.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("k_groups"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        f_stat.alias("f_stat"),
        eta.alias("eta_squared"),
    )


def sql_anova_oneway() -> str:
    """DuckDB oracle twin of :func:`anova_oneway` (HUGEINT `//` is
    exact one-stage integer division; the SSB clamp mirrors the Spark
    side)."""
    s2 = float(ANOVA_SCALE) * float(ANOVA_SCALE)
    return f"""
    WITH base AS (
      SELECT event_type AS g,
             CAST(FLOOR(CAST(value AS DOUBLE)
                        * {float(ANOVA_SCALE)!r}) AS BIGINT) AS xfx
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL),
    grp AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(xfx AS HUGEINT)) AS HUGEINT) AS s_g,
             CAST(SUM(CAST(xfx AS HUGEINT) * xfx) AS HUGEINT) AS q_g
      FROM base GROUP BY 1),
    witha AS (
      SELECT n_g, s_g, q_g,
             CAST((s_g * s_g) // n_g AS HUGEINT) AS a_g
      FROM grp),
    fold AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s_g) AS HUGEINT) AS s,
             CAST(SUM(q_g) AS HUGEINT) AS q,
             CAST(SUM(a_g) AS HUGEINT) AS a
      FROM witha),
    terms AS (
      SELECT n, k,
             CAST(CAST(q AS VARCHAR) AS DOUBLE) AS _q,
             CAST(CAST(a AS VARCHAR) AS DOUBLE) AS _a,
             CAST(CAST(CAST((s * s) // n AS HUGEINT)
                       AS VARCHAR) AS DOUBLE) AS _gr
      FROM fold)
    SELECT n AS n_events, k AS k_groups,
           GREATEST((_a - _gr) / {s2!r}, 0.0) AS ssb,
           (_q - _a) / {s2!r} AS ssw,
           CASE WHEN k > 1 AND n > k AND (_q - _a) / {s2!r} > 0
                THEN (GREATEST((_a - _gr) / {s2!r}, 0.0)
                      / CAST(k - 1 AS DOUBLE))
                     / ((_q - _a) / {s2!r} / CAST(n - k AS DOUBLE)) END
             AS f_stat,
           CASE WHEN GREATEST((_a - _gr) / {s2!r}, 0.0)
                     + (_q - _a) / {s2!r} > 0
                THEN GREATEST((_a - _gr) / {s2!r}, 0.0)
                     / (GREATEST((_a - _gr) / {s2!r}, 0.0)
                        + (_q - _a) / {s2!r}) END
             AS eta_squared
    FROM terms
    """


def ab_mann_whitney(events: DataFrame) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test on per-unit value
    totals under the deterministic md5 50/50 split — the
    distribution-free companion to :func:`ab_welch_ttest`: Welch
    compares MEANS and inherits their outlier sensitivity; U asks
    "does a random treatment unit outrank a random control unit",
    which one whale cannot saturate. Also reports the rank-biserial
    effect size r = 2·U_t/(n_c·n_t) − 1 (the probability-of-
    superiority rescaled to [−1, 1]).

    Exactness: per-unit totals quantize to 2^20 fx (the Welch
    pipeline); ranking happens on the DISTINCT-value frame with
    midranks held as EXACT integers at 2× scale (midrank2 = 2·#less +
    #equal + 1 — never a .5), accumulated through ONE
    :func:`~kinesis_stream_spark.operators.skew.distributed_cumsums`
    range exchange. The rank sum, U (at 2× scale), the tie-correction
    term Σ(t³ − t), and every count are DECIMAL(38,0)-exact; the
    normal approximation

        z = (U_t − n_c·n_t/2) / √( n_c·n_t/12 · (n+1 − Σ(t³−t)/(n(n−1))) )

    is a pinned double chain (string-routed casts, one IEEE sqrt).
    Degenerate splits (an empty arm, or σ = 0 — all values tied)
    yield NULL z by contract; NULL unit ids are excluded; units with
    only NULL values total 0 (absence is signal, the Welch rule).

    Output: ONE row (n_control, n_treatment, u_control, u_treatment,
    rank_biserial, z_mw) — U's as doubles (ties make them
    half-integral).

    Scale shape: one combinable per-unit aggregate, one combinable
    value-count aggregate, the prefix sum's range exchange, then a
    values→1-row reduction. Nothing unit- or corpus-sized ever sits
    in one partition."""
    from kinesis_stream_spark.operators.skew import distributed_cumsums

    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    per_unit = _per_unit_fx(events)
    vals = per_unit.groupBy("xfx").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.count(F.lit(1)).cast("long").alias("ct"),
    )
    cum = distributed_cumsums(vals, [F.col("xfx")], [("ct", "cum_all")])
    ranked = cum.select(
        "c0",
        "ct",
        # midrank2 = 2*(# smaller) + (# equal) + 1 — exact integer
        (
            (F.col("cum_all") - F.col("ct")) * 2 + F.col("ct") + 1
        ).alias("mr2"),
        ((F.col("ct").cast(d19) * F.col("ct") * F.col("ct")).cast(d38)
         - F.col("ct").cast(d38)).alias("tie_term"),
    )
    agg = ranked.agg(
        F.coalesce(F.sum("c0"), F.lit(0)).cast("long").alias("n_c"),
        F.coalesce(F.sum(F.col("ct") - F.col("c0")), F.lit(0))
        .cast("long")
        .alias("n_t"),
        F.coalesce(
            F.sum((F.col("c0").cast(d19) * F.col("mr2")).cast(d38)),
            F.lit(0).cast(d38),
        )
        .cast(d38)
        .alias("r0_2"),
        F.coalesce(F.sum("tie_term"), F.lit(0).cast(d38))
        .cast(d38)
        .alias("ties"),
    )
    # 2·U_c = R_c·2 − n_c(n_c+1) (scipy convention: U_arm counts the
    # pairs that arm WINS); U_c + U_t = n_c·n_t
    u0_2 = F.expr(
        "cast(r0_2 - cast(n_c as decimal(38,0)) * (n_c + 1)"
        " as decimal(38,0))"
    )
    withu = agg.select(
        "n_c",
        "n_t",
        "ties",
        u0_2.alias("u0_2"),
        F.expr(
            "cast(2 * cast(n_c as decimal(38,0)) * n_t as decimal(38,0))"
        ).alias("nn2"),
    )
    u0 = F.expr("cast(cast(u0_2 as string) as double)") / F.lit(2.0)
    u1 = (
        F.expr("cast(cast(nn2 - u0_2 as string) as double)") / F.lit(2.0)
    )
    n = (F.col("n_c") + F.col("n_t")).cast("double")
    prod = F.expr("cast(cast(nn2 as string) as double)") / F.lit(2.0)
    ties_d = F.expr("cast(cast(ties as string) as double)")
    var = (
        prod
        / F.lit(12.0)
        * (n + F.lit(1.0) - ties_d / (n * (n - F.lit(1.0))))
    )
    scorable = (F.col("n_c") > 0) & (F.col("n_t") > 0) & (n > 1)
    z = F.when(
        scorable & (var > 0),
        (u1 - prod / F.lit(2.0)) / F.sqrt(var),
    ).otherwise(F.lit(None).cast("double"))
    rb = F.when(
        (F.col("n_c") > 0) & (F.col("n_t") > 0),
        u1 * F.lit(2.0) / prod - F.lit(1.0),
    ).otherwise(F.lit(None).cast("double"))
    return withu.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        u0.alias("u_control"),
        u1.alias("u_treatment"),
        rb.alias("rank_biserial"),
        z.alias("z_mw"),
    )


def sql_ab_mann_whitney() -> str:
    """DuckDB oracle twin of :func:`ab_mann_whitney`."""
    return f"""
    WITH per_unit AS ({_sql_per_unit_fx()}),
    vals AS (
      SELECT xfx,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(COUNT(*) AS BIGINT) AS ct
      FROM per_unit GROUP BY 1),
    ranked AS (
      SELECT c0, ct,
             (SUM(ct) OVER (ORDER BY xfx ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) - ct) * 2
               + ct + 1 AS mr2,
             CAST(ct AS HUGEINT) * ct * ct - ct AS tie_term
      FROM vals),
    agg AS (
      SELECT COALESCE(CAST(SUM(c0) AS BIGINT), 0) AS n_c,
             COALESCE(CAST(SUM(ct - c0) AS BIGINT), 0) AS n_t,
             COALESCE(CAST(SUM(CAST(c0 AS HUGEINT) * mr2) AS HUGEINT), 0)
               AS r0_2,
             COALESCE(CAST(SUM(tie_term) AS HUGEINT), 0) AS ties
      FROM ranked),
    withu AS (
      SELECT n_c, n_t, ties,
             CAST(r0_2 - CAST(n_c AS HUGEINT) * (n_c + 1) AS HUGEINT)
               AS u0_2,
             CAST(2 * CAST(n_c AS HUGEINT) * n_t AS HUGEINT) AS nn2
      FROM agg)
    SELECT n_c AS n_control, n_t AS n_treatment,
           CAST(CAST(u0_2 AS VARCHAR) AS DOUBLE) / 2.0 AS u_control,
           CAST(CAST(nn2 - u0_2 AS VARCHAR) AS DOUBLE) / 2.0
             AS u_treatment,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             (CAST(CAST(nn2 - u0_2 AS VARCHAR) AS DOUBLE) / 2.0) * 2.0
             / (CAST(CAST(nn2 AS VARCHAR) AS DOUBLE) / 2.0) - 1.0 END
             AS rank_biserial,
           CASE WHEN n_c > 0 AND n_t > 0 AND n_c + n_t > 1
                     AND (CAST(CAST(nn2 AS VARCHAR) AS DOUBLE) / 2.0)
                         / 12.0
                         * (CAST(n_c + n_t AS DOUBLE) + 1.0
                            - CAST(CAST(ties AS VARCHAR) AS DOUBLE)
                              / (CAST(n_c + n_t AS DOUBLE)
                                 * (CAST(n_c + n_t AS DOUBLE) - 1.0)))
                         > 0
                THEN (CAST(CAST(nn2 - u0_2 AS VARCHAR) AS DOUBLE) / 2.0
                      - (CAST(CAST(nn2 AS VARCHAR) AS DOUBLE) / 2.0)
                        / 2.0)
                     / SQRT((CAST(CAST(nn2 AS VARCHAR) AS DOUBLE) / 2.0)
                            / 12.0
                            * (CAST(n_c + n_t AS DOUBLE) + 1.0
                               - CAST(CAST(ties AS VARCHAR) AS DOUBLE)
                                 / (CAST(n_c + n_t AS DOUBLE)
                                    * (CAST(n_c + n_t AS DOUBLE)
                                       - 1.0)))) END AS z_mw
    FROM withu
    """


def ab_delta_ratio(events: DataFrame) -> DataFrame:
    """Delta-method z-test on a RATIO metric (revenue per event) under
    the same deterministic md5 50/50 split as the other A/B tests —
    the missing readout next to the z-test (conversion) and Welch
    (per-unit means): most business metrics are ratios of two sums
    (revenue/session, clicks/impression) whose denominator is itself
    random, so Var(X̄/Ȳ) must charge the covariance; treating r̂ as a
    per-unit mean understates (or overstates) the variance whenever
    numerator and denominator correlate — the standard correction is
    the delta method (Deng, Knoblich & Lu, KDD 2018):

        Var(X̄/Ȳ) ≈ (s²_x − 2·r·s_xy + r²·s²_y) / (n·ȳ²)

    Per unit: x = exact-decimal value total of ``'purchase'``
    events (2^20 fx), y = total event count; units with no numerator
    events carry x = 0 (absence is signal, the Welch rule); NULL
    units are excluded. The five arm moments (Σx, Σy, Σx², Σy², Σxy)
    accumulate as DECIMAL(38,0); r, the centered second moments, and
    z are a pinned double chain (VARCHAR-routed casts, IEEE divides,
    one sqrt). The fx scale cancels in z (both arms share it);
    reported ratios divide the scale back out.

    Output: ONE row (n_control, n_treatment, ratio_control,
    ratio_treatment, ratio_lift, z_delta). NULL ratios/z when an arm
    is empty, has n < 2, or has a zero denominator sum; NULL z when
    both delta variances collapse to 0 (x exactly proportional to y
    in each arm).

    Scale shape: one map-side-combinable per-unit aggregate, one
    combinable 2×5-moment arm reduction, a 2-row pivot to one row —
    nothing unit-sized leaves its partition after the first shuffle."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    per_unit = (
        events.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("unit"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).cast("decimal(27,6)")
                ),
                F.lit(0).cast("decimal(27,6)"),
            ).alias("_x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
        .select(
            F.floor(F.col("_x").cast("double") * F.lit(float(WELCH_SCALE)))
            .cast("long")
            .alias("x"),
            "y",
            (md5_int64(F.col("unit").cast("string")) % 2).alias("variant"),
        )
    )
    arms = per_unit.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("x").cast(d19) * F.col("x").cast(d19)).cast(d38))
        .cast(d38)
        .alias("sxx"),
        F.sum((F.col("y").cast(d19) * F.col("y").cast(d19)).cast(d38))
        .cast(d38)
        .alias("syy"),
        F.sum((F.col("x").cast(d19) * F.col("y").cast(d19)).cast(d38))
        .cast(d38)
        .alias("sxy"),
    )
    # exact centered second moments, THEN the pinned double chain
    n_d38 = F.col("n").cast(d38)
    a = (n_d38 * F.col("sxx") - F.col("sx") * F.col("sx")).alias("a")
    b = (n_d38 * F.col("syy") - F.col("sy") * F.col("sy")).alias("b")
    c = (n_d38 * F.col("sxy") - F.col("sx") * F.col("sy")).alias("c")
    moments = arms.select("variant", "n", "sx", "sy", a, b, c)

    def _s(col: str) -> Column:
        return F.expr(f"cast(cast({col} as string) as double)")

    n_d = F.col("n").cast("double")
    scorable = (F.col("n") >= 2) & (F.col("sy") > 0)
    r = _s("sx") / _s("sy")
    denom = n_d * (n_d - F.lit(1.0))
    ybar = _s("sy") / n_d
    var_r = (
        (_s("a") / denom - F.lit(2.0) * r * (_s("c") / denom)
         + r * r * (_s("b") / denom))
        / (ybar * ybar)
        / n_d
    )
    scored = moments.select(
        "variant",
        "n",
        F.when(scorable, r / F.lit(float(WELCH_SCALE)))
        .otherwise(F.lit(None).cast("double"))
        .alias("ratio"),
        F.when(scorable, r).otherwise(F.lit(None).cast("double")).alias("rfx"),
        F.when(scorable, var_r)
        .otherwise(F.lit(None).cast("double"))
        .alias("var_r"),
    )
    # conditional 2-rows→1-row pivot (the ab_welch/anova shape): the
    # operator must emit its ONE row even when every unit hashed to a
    # single arm (the missing arm reads n = 0, NULL ratio) — a
    # filter + cross-join pivot would emit ZERO rows there
    def _arm(v: int, col: str):
        return F.max(F.when(F.col("variant") == v, F.col(col)))

    both = scored.agg(
        F.coalesce(_arm(0, "n"), F.lit(0)).cast("long").alias("n_control"),
        F.coalesce(_arm(1, "n"), F.lit(0)).cast("long").alias("n_treatment"),
        _arm(0, "ratio").alias("ratio_control"),
        _arm(1, "ratio").alias("ratio_treatment"),
        _arm(0, "rfx").alias("rfx_c"),
        _arm(1, "rfx").alias("rfx_t"),
        _arm(0, "var_r").alias("var_c"),
        _arm(1, "var_r").alias("var_t"),
    )
    z = F.when(
        F.col("rfx_c").isNotNull()
        & F.col("rfx_t").isNotNull()
        & (F.col("var_c") + F.col("var_t") > 0),
        (F.col("rfx_t") - F.col("rfx_c"))
        / F.sqrt(F.col("var_c") + F.col("var_t")),
    ).otherwise(F.lit(None).cast("double"))
    return both.select(
        "n_control",
        "n_treatment",
        "ratio_control",
        "ratio_treatment",
        (F.col("ratio_treatment") - F.col("ratio_control")).alias(
            "ratio_lift"
        ),
        z.alias("z_delta"),
    )


def sql_ab_delta_ratio() -> str:
    """DuckDB oracle twin of :func:`ab_delta_ratio` — identical split,
    fx quantization, HUGEINT moments, VARCHAR-routed pinned finals."""
    s = float(WELCH_SCALE)
    return f"""
    WITH per_unit AS (
      SELECT CAST(FLOOR(CAST(COALESCE(SUM(CASE WHEN event_type
                     = 'purchase' THEN CAST(value
                     AS DECIMAL(27,6)) END), 0) AS DOUBLE) * {s!r})
               AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y,
             {sql_md5_int64("CAST(user_id AS VARCHAR)")} % 2 AS variant
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    arms AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM per_unit GROUP BY 1),
    moments AS (
      SELECT variant, n, sx, sy,
             CAST(n AS HUGEINT) * sxx - sx * sx AS a,
             CAST(n AS HUGEINT) * syy - sy * sy AS b,
             CAST(n AS HUGEINT) * sxy - sx * sy AS c
      FROM arms),
    scored AS (
      SELECT variant, n,
             CASE WHEN n >= 2 AND sy > 0 THEN
               (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                / CAST(CAST(sy AS VARCHAR) AS DOUBLE)) / {s!r} END AS ratio,
             CASE WHEN n >= 2 AND sy > 0 THEN
               CAST(CAST(sx AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sy AS VARCHAR) AS DOUBLE) END AS rfx,
             CASE WHEN n >= 2 AND sy > 0 THEN
               (CAST(CAST(a AS VARCHAR) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                - 2.0 * (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                         / CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                      * (CAST(CAST(c AS VARCHAR) AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                + (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                  * (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                  * (CAST(CAST(b AS VARCHAR) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
               / ((CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
               / CAST(n AS DOUBLE) END AS var_r
      FROM moments),
    pivoted AS (
      SELECT COALESCE(MAX(CASE WHEN variant = 0 THEN n END), 0)
               AS n_control,
             COALESCE(MAX(CASE WHEN variant = 1 THEN n END), 0)
               AS n_treatment,
             MAX(CASE WHEN variant = 0 THEN ratio END) AS ratio_control,
             MAX(CASE WHEN variant = 1 THEN ratio END) AS ratio_treatment,
             MAX(CASE WHEN variant = 0 THEN rfx END) AS rfx_c,
             MAX(CASE WHEN variant = 1 THEN rfx END) AS rfx_t,
             MAX(CASE WHEN variant = 0 THEN var_r END) AS var_c,
             MAX(CASE WHEN variant = 1 THEN var_r END) AS var_t
      FROM scored)
    SELECT n_control, n_treatment, ratio_control, ratio_treatment,
           ratio_treatment - ratio_control AS ratio_lift,
           CASE WHEN rfx_c IS NOT NULL AND rfx_t IS NOT NULL
                     AND var_c + var_t > 0
                THEN (rfx_t - rfx_c) / SQRT(var_c + var_t) END AS z_delta
    FROM pivoted
    """


def ab_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate that
    must pass BEFORE any A/B readout is trusted (Fabijan et al.,
    "Diagnosing Sample Ratio Mismatch", KDD 2019): under the
    deterministic md5 50/50 split (the family convention shared with
    the z/Welch/Mann-Whitney/delta tests — ONE split definition, so
    the health check audits exactly the assignment the readouts use),
    the UNIT counts per arm follow Binomial(N, 1/2), and a χ²(1)
    goodness-of-fit statistic against the 1:1 expectation

        χ² = (n_c − n_t)² / (n_c + n_t)

    flags an implementation bug (redirect loss, bot filtering skew,
    logging drop) when it exceeds the 95% critical value 3.841. The
    closed form is the 2-cell Pearson χ² for equal expectations —
    exact integer numerator (DECIMAL(38,0) — counts can be 10^10 at
    100 TB and the squared difference must not overflow BIGINT),
    VARCHAR-routed to double, ONE pinned divide; no per-arm float
    sums whose order could differ.

    The unit of analysis is the UNIT (distinct non-NULL ids), not the
    event — event-weighted counts would confound traffic imbalance
    with assignment imbalance.

    Output: ONE row (n_control, n_treatment, n_units, imbalance_ppm =
    ⌊|n_c−n_t|·10⁶ / N⌋, chi2_stat, srm_detected). Zero units yield
    NULL statistic/flag by contract (no experiment to audit).

    Scale shape: one DISTINCT-unit pass (map-side combinable
    aggregate on the unit key), then a 2-value fold on one row —
    nothing else."""
    units = (
        events.where(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("unit"))
        .distinct()
        .select((md5_int64(F.col("unit").cast("string")) % 2).alias("variant"))
    )
    d38 = "decimal(38,0)"
    mom = units.groupBy().agg(
        F.coalesce(F.sum(F.when(F.col("variant") == 0, 1)), F.lit(0))
        .cast("long")
        .alias("n_control"),
        F.coalesce(F.sum(F.when(F.col("variant") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("n_treatment"),
    )
    diff = F.col("n_control").cast(d38) - F.col("n_treatment").cast(d38)
    n = F.col("n_control") + F.col("n_treatment")
    chi2 = F.when(
        n > 0,
        (diff * diff).cast(d38).cast("string").cast("double")
        / n.cast("double"),
    )
    return mom.select(
        "n_control",
        "n_treatment",
        n.cast("long").alias("n_units"),
        F.when(n > 0, F.expr(
            "abs(n_control - n_treatment) * 1000000"
            " div (n_control + n_treatment)"
        )).alias("imbalance_ppm"),
        chi2.alias("chi2_stat"),
        F.when(n > 0, chi2 > F.lit(3.841)).alias("srm_detected"),
    )


def sql_ab_srm_check() -> str:
    """DuckDB oracle twin of :func:`ab_srm_check` — identical split,
    integer numerator, and pinned divide."""
    h = sql_md5_int64("CAST(unit AS VARCHAR)")
    return f"""
    WITH units AS (
      SELECT DISTINCT user_id AS unit FROM events
      WHERE user_id IS NOT NULL),
    arms AS (
      SELECT
        COALESCE(CAST(SUM(CASE WHEN {h} % 2 = 0 THEN 1 END) AS BIGINT), 0)
          AS n_control,
        COALESCE(CAST(SUM(CASE WHEN {h} % 2 = 1 THEN 1 END) AS BIGINT), 0)
          AS n_treatment
      FROM units),
    stat AS (
      SELECT n_control, n_treatment,
             CAST(n_control + n_treatment AS BIGINT) AS n_units,
             CASE WHEN n_control + n_treatment > 0 THEN
               CAST(CAST((CAST(n_control AS HUGEINT) - n_treatment)
                    * (CAST(n_control AS HUGEINT) - n_treatment)
                    AS VARCHAR) AS DOUBLE)
               / CAST(n_control + n_treatment AS DOUBLE)
             END AS chi2_stat
      FROM arms)
    SELECT n_control, n_treatment, n_units,
           CASE WHEN n_units > 0 THEN
             CAST(ABS(n_control - n_treatment) * 1000000 // n_units
                  AS BIGINT) END AS imbalance_ppm,
           chi2_stat,
           CASE WHEN n_units > 0 THEN chi2_stat > 3.841 END AS srm_detected
    FROM stat
    """


def ab_cuped(events: DataFrame, *, split_us: int = 0) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013): adjust each unit's experiment-period metric Y by its
    pre-period covariate X,

        Ycv_i = Y_i − θ·(X_i − X̄),   θ = cov(X, Y) / var(X) (pooled)

    which preserves the treatment effect (assignment is independent
    of X) while removing the variance X explains — the industry-
    standard way to reach significance with less traffic. Same
    deterministic md5 50/50 unit split as the rest of the A/B family.

    X = the unit's exact DECIMAL value total strictly BEFORE
    ``split_us`` (epoch µs), Y = its total at-or-after; units missing
    a side total 0 there (absence of spend is signal — the Welch
    convention), NULL unit ids and NULL timestamps are excluded.

    Exactness: per-unit totals clamp to ±``FX_V_CAP`` (the sampling.py
    W_MAX convention — no cast ever sees an out-of-range fx product,
    so neither engine reaches its overflow edge) and
    quantize to 2^20 fx BIGINTs; the five
    arm moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    DECIMAL(38,0); every centered second moment is the exact integer
    identity n·Σab − Σa·Σb, VARCHAR-routed to double; θ, the adjusted
    means/variances, and

        z = (m̄cv_t − m̄cv_c) / √(s²cv_c/n_c + s²cv_t/n_t)

    are pinned IEEE chains (the fx scale cancels in θ and z; the
    REPORTED means divide by 2^20 once). Contracts: pooled var(X) = 0
    ⇒ θ = 0 (no covariate signal — CUPED degenerates to the plain
    difference, stated not hidden); an arm with < 2 units ⇒ NULL
    z/variances; pooled var(Y) = 0 ⇒ NULL variance-reduction ratio.

    Output: ONE row (n_control, n_treatment, theta, mean_control_cv,
    mean_treatment_cv, z_stat, var_reduction_ppm =
    ⌊10⁶·var(Ycv)/var(Y)⌋ pooled — e.g. 600000 means CUPED needs 40%
    less traffic for the same power).

    Scale shape: one combinable per-unit conditional aggregate over
    the corpus, a units→2-row moment reduction, a 1-row fold. No
    window, no join, no skew surface — Welch's shape exactly."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    s = float(WELCH_SCALE)
    per = (
        events.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy(F.col("user_id").alias("unit"))
        .agg(
            *[
                F.floor(
                    F.least(
                        F.greatest(
                            F.coalesce(
                                F.sum(
                                    F.when(cond, F.col("value")).cast("decimal(27,6)")
                                ),
                                F.lit(0).cast("decimal(27,6)"),
                            ).cast("double"),
                            F.lit(-FX_V_CAP),
                        ),
                        F.lit(FX_V_CAP),
                    )
                    * F.lit(s)
                )
                .cast("long")
                .alias(alias)
                for alias, cond in (
                    (
                        "xfx",
                        F.expr(
                            "unix_micros(cast(ts as timestamp))"
                        ) < F.lit(int(split_us)),
                    ),
                    (
                        "yfx",
                        F.expr(
                            "unix_micros(cast(ts as timestamp))"
                        ) >= F.lit(int(split_us)),
                    ),
                )
            ],
        )
        .select(
            "xfx",
            "yfx",
            (md5_int64(F.col("unit").cast("string")) % 2).alias("variant"),
        )
    )
    aggs = []
    for v, tag in ((0, "c"), (1, "t")):
        arm = F.col("variant") == v
        aggs.append(
            F.coalesce(F.sum(F.when(arm, 1)), F.lit(0))
            .cast("long")
            .alias(f"n_{tag}")
        )
        for mname, expr in (
            ("sx", F.col("xfx").cast(d38)),
            ("sy", F.col("yfx").cast(d38)),
            (
                "sxy",
                (F.col("xfx").cast(d19) * F.col("yfx").cast(d19)).cast(d38),
            ),
            (
                "sxx",
                (F.col("xfx").cast(d19) * F.col("xfx").cast(d19)).cast(d38),
            ),
            (
                "syy",
                (F.col("yfx").cast(d19) * F.col("yfx").cast(d19)).cast(d38),
            ),
        ):
            aggs.append(
                F.coalesce(F.sum(F.when(arm, expr)), F.lit(0).cast(d38))
                .cast(d38)
                .alias(f"{mname}_{tag}")
            )
    mom = per.groupBy().agg(*aggs)

    def dbl(expr: str):
        return F.expr(f"cast(cast({expr} as string) as double)")

    pooled = {
        "N": "(n_c + n_t)",
        "SX": "(sx_c + sx_t)",
        "SY": "(sy_c + sy_t)",
        "SXY": "(sxy_c + sxy_t)",
        "SXX": "(sxx_c + sxx_t)",
        "SYY": "(syy_c + syy_t)",
    }
    N, SX, SY = pooled["N"], pooled["SX"], pooled["SY"]
    SXY, SXX, SYY = pooled["SXY"], pooled["SXX"], pooled["SYY"]
    cN = f"cast({N} as decimal(38,0))"
    sxx_p = dbl(f"{cN} * {SXX} - {SX} * {SX}")
    sxy_p = dbl(f"{cN} * {SXY} - {SX} * {SY}")
    syy_p = dbl(f"{cN} * {SYY} - {SY} * {SY}")
    theta = F.when(sxx_p > 0, sxy_p / sxx_p).otherwise(F.lit(0.0))
    stage1 = mom.select(
        "*",
        theta.alias("theta"),
        F.when(
            F.expr(N) > 0, dbl(SX) / F.expr(f"cast({N} as double)")
        ).alias("xbar"),
        sxx_p.alias("_sxx_p"),
        sxy_p.alias("_sxy_p"),
        syy_p.alias("_syy_p"),
    )

    def arm(tag):
        n = F.col(f"n_{tag}")
        n_d = n.cast("double")
        mcv = F.when(
            n > 0,
            dbl(f"sy_{tag}") / n_d
            - F.col("theta") * (dbl(f"sx_{tag}") / n_d - F.col("xbar")),
        )
        cn = f"cast(n_{tag} as decimal(38,0))"
        scv = (
            dbl(f"{cn} * syy_{tag} - sy_{tag} * sy_{tag}")
            - F.lit(2.0)
            * F.col("theta")
            * dbl(f"{cn} * sxy_{tag} - sx_{tag} * sy_{tag}")
            + F.col("theta")
            * F.col("theta")
            * dbl(f"{cn} * sxx_{tag} - sx_{tag} * sx_{tag}")
        )
        vcv = F.when(n > 1, scv / (n_d * (n_d - F.lit(1.0))))
        return mcv, vcv

    mcv_c, vcv_c = arm("c")
    mcv_t, vcv_t = arm("t")
    stage2 = stage1.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        "theta",
        mcv_c.alias("_mcv_c"),
        mcv_t.alias("_mcv_t"),
        vcv_c.alias("_vcv_c"),
        vcv_t.alias("_vcv_t"),
        "_sxx_p",
        "_sxy_p",
        "_syy_p",
    )
    se2 = (
        F.col("_vcv_c") / F.col("n_control").cast("double")
        + F.col("_vcv_t") / F.col("n_treatment").cast("double")
    )
    scorable = (
        (F.col("n_control") > 1)
        & (F.col("n_treatment") > 1)
        & F.col("_vcv_c").isNotNull()
        & F.col("_vcv_t").isNotNull()
    )
    scv_p = (
        F.col("_syy_p")
        - F.lit(2.0) * F.col("theta") * F.col("_sxy_p")
        + F.col("theta") * F.col("theta") * F.col("_sxx_p")
    )
    return stage2.select(
        "n_control",
        "n_treatment",
        "theta",
        (F.col("_mcv_c") / F.lit(s)).alias("mean_control_cv"),
        (F.col("_mcv_t") / F.lit(s)).alias("mean_treatment_cv"),
        F.when(
            scorable & (se2 > 0),
            (F.col("_mcv_t") - F.col("_mcv_c")) / F.sqrt(se2),
        ).alias("z_stat"),
        F.when(
            F.col("_syy_p") > 0,
            F.floor(F.lit(1_000_000.0) * scv_p / F.col("_syy_p")).cast(
                "long"
            ),
        ).alias("var_reduction_ppm"),
    )


def sql_ab_cuped(*, table: str = "events", split_us: int = 0) -> str:
    """DuckDB oracle twin of :func:`ab_cuped` — identical split,
    conditional per-unit totals, HUGEINT moments, and pinned double
    chains (VARCHAR-routed casts, explicit multiplies, same
    expression order)."""
    s = float(WELCH_SCALE)
    h = sql_md5_int64("CAST(unit AS VARCHAR)")
    d = lambda e: f"CAST(CAST(({e}) AS VARCHAR) AS DOUBLE)"  # noqa: E731

    def m(v, expr, alias):
        return (
            f"COALESCE(CAST(SUM(CASE WHEN variant = {v} THEN {expr} END)"
            f" AS HUGEINT), 0) AS {alias}"
        )

    moments = ",\n        ".join(
        [
            f"COALESCE(CAST(SUM(CASE WHEN variant = {v} THEN 1 END)"
            f" AS BIGINT), 0) AS n_{tag},\n        "
            + ",\n        ".join(
                [
                    m(v, "CAST(xfx AS HUGEINT)", f"sx_{tag}"),
                    m(v, "CAST(yfx AS HUGEINT)", f"sy_{tag}"),
                    m(v, "CAST(xfx AS HUGEINT) * yfx", f"sxy_{tag}"),
                    m(v, "CAST(xfx AS HUGEINT) * xfx", f"sxx_{tag}"),
                    m(v, "CAST(yfx AS HUGEINT) * yfx", f"syy_{tag}"),
                ]
            )
            for v, tag in ((0, "c"), (1, "t"))
        ]
    )
    arm_cols = []
    for tag in ("c", "t"):
        cn = f"CAST(n_{tag} AS HUGEINT)"
        mcv = (
            f"CASE WHEN n_{tag} > 0 THEN {d(f'sy_{tag}')}"
            f" / CAST(n_{tag} AS DOUBLE)"
            f" - theta * ({d(f'sx_{tag}')} / CAST(n_{tag} AS DOUBLE)"
            " - xbar) END"
        )
        scv = (
            f"{d(f'{cn} * syy_{tag} - sy_{tag} * sy_{tag}')}"
            f" - 2.0 * theta * {d(f'{cn} * sxy_{tag} - sx_{tag} * sy_{tag}')}"
            " + theta * theta"
            f" * {d(f'{cn} * sxx_{tag} - sx_{tag} * sx_{tag}')}"
        )
        vcv = (
            f"CASE WHEN n_{tag} > 1 THEN ({scv})"
            f" / (CAST(n_{tag} AS DOUBLE) * (CAST(n_{tag} AS DOUBLE) - 1.0))"
            " END"
        )
        arm_cols.append(f"{mcv} AS _mcv_{tag}, {vcv} AS _vcv_{tag}")
    return f"""
    WITH per AS (
      SELECT
        CAST(FLOOR(LEAST(GREATEST(
                 CAST(COALESCE(SUM(CASE WHEN EPOCH_US(ts)
                 < {int(split_us)} THEN CAST(value AS DECIMAL(27,6))
                 END), 0) AS DOUBLE), {-FX_V_CAP!r}), {FX_V_CAP!r})
                 * {s!r}) AS BIGINT) AS xfx,
        CAST(FLOOR(LEAST(GREATEST(
                 CAST(COALESCE(SUM(CASE WHEN EPOCH_US(ts)
                 >= {int(split_us)} THEN CAST(value AS DECIMAL(27,6))
                 END), 0) AS DOUBLE), {-FX_V_CAP!r}), {FX_V_CAP!r})
                 * {s!r}) AS BIGINT) AS yfx,
        {h} % 2 AS variant
      FROM (SELECT user_id AS unit, ts, value FROM {table}
            WHERE user_id IS NOT NULL AND ts IS NOT NULL)
      GROUP BY unit),
    mom AS (
      SELECT
        {moments}
      FROM per),
    pool AS (
      SELECT *,
        CASE WHEN {d('CAST(n_c + n_t AS HUGEINT) * (sxx_c + sxx_t)'
                     ' - (sx_c + sx_t) * (sx_c + sx_t)')} > 0
             THEN {d('CAST(n_c + n_t AS HUGEINT) * (sxy_c + sxy_t)'
                     ' - (sx_c + sx_t) * (sy_c + sy_t)')}
                  / {d('CAST(n_c + n_t AS HUGEINT) * (sxx_c + sxx_t)'
                       ' - (sx_c + sx_t) * (sx_c + sx_t)')}
             ELSE 0.0 END AS theta,
        CASE WHEN n_c + n_t > 0
             THEN {d('sx_c + sx_t')} / CAST(n_c + n_t AS DOUBLE) END AS xbar,
        {d('CAST(n_c + n_t AS HUGEINT) * (sxx_c + sxx_t)'
           ' - (sx_c + sx_t) * (sx_c + sx_t)')} AS _sxx_p,
        {d('CAST(n_c + n_t AS HUGEINT) * (sxy_c + sxy_t)'
           ' - (sx_c + sx_t) * (sy_c + sy_t)')} AS _sxy_p,
        {d('CAST(n_c + n_t AS HUGEINT) * (syy_c + syy_t)'
           ' - (sy_c + sy_t) * (sy_c + sy_t)')} AS _syy_p
      FROM mom),
    arms AS (
      SELECT *, {', '.join(arm_cols)}
      FROM pool)
    SELECT
      n_c AS n_control, n_t AS n_treatment, theta,
      _mcv_c / {s!r} AS mean_control_cv,
      _mcv_t / {s!r} AS mean_treatment_cv,
      CASE WHEN n_c > 1 AND n_t > 1 AND _vcv_c IS NOT NULL
                AND _vcv_t IS NOT NULL
                AND _vcv_c / CAST(n_c AS DOUBLE)
                    + _vcv_t / CAST(n_t AS DOUBLE) > 0
           THEN (_mcv_t - _mcv_c)
                / SQRT(_vcv_c / CAST(n_c AS DOUBLE)
                       + _vcv_t / CAST(n_t AS DOUBLE)) END AS z_stat,
      CASE WHEN _syy_p > 0 THEN
        CAST(FLOOR(1000000.0 * (_syy_p - 2.0 * theta * _sxy_p
                   + theta * theta * _sxx_p) / _syy_p) AS BIGINT)
      END AS var_reduction_ppm
    FROM arms
    """


#: Poisson(1) inverse-CDF thresholds on the 60-bit hash scale:
#: a draw u ∈ [0, 2^60) maps to weight w = #{k : u ≥ T_k}, k = 0..7
#: (weights cap at 8 — tail mass 1.1e-7, capped identically on both
#: engines). The constants are Python-float CDF values floored onto
#: the integer scale ONCE here and embedded as literals in both
#: engines, so the draw→weight map is bit-identical by construction.
import math as _math

POISSON_T = tuple(
    min(
        _math.floor(
            (sum(1.0 / _math.factorial(i) for i in range(k + 1)) / _math.e)
            * (1 << 60)
        ),
        (1 << 60) - 1,
    )
    for k in range(8)
)


def bootstrap_ci(
    df: DataFrame,
    *,
    b_replicates: int = 64,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Poisson-bootstrap percentile CI for the mean — the
    distribution-free uncertainty readout for ANY metric (Efron 1979;
    the Poisson(1) resampling form is the standard distributed
    variant — Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012 — because it needs no global n at draw
    time: each row independently draws a Poisson(1) replication count
    per replicate, so the whole resample is one map-side expression).

    Determinism: the per-(row, replicate) draw is the md5 hash of
    ``'b|id'`` (the engine-wide seeded-hash convention), mapped
    through the fixed integer thresholds ``POISSON_T`` — re-runs,
    retries, and the oracle produce identical replicates. Replicate
    means are ONE pinned divide over exact integer sums; the CI is
    the nearest-rank order statistic over the B means — lo rank
    ⌊α/2·(B−1)⌋+1, hi its mirror — never an interpolated percentile
    (two engines interpolating is two roundings).

    NULL ids/values are excluded by contract (no identity to hash /
    nothing to resample); values clamp to ±``FX_V_CAP`` before the fx
    floor on both engines (ADVICE r11 — the sampling.py W_MAX
    convention: no cast ever sees an out-of-range fx product, so
    neither engine reaches its overflow edge). Output: ONE row
    (n_rows, b_replicates,
    mean_value — the full-data mean of the SAME 2^20-fx-quantized
    variable the replicates resample, from an exact integer sum —
    ci_lo, ci_hi). Empty input: one row, n_rows = 0, NULL mean/CI.

    Scale shape: the ×B explode is map-side (sequence + explode feed
    straight into a partial aggregate — each partition emits ≤ B
    rows), ONE exchange carries B partial rows per partition, the
    order statistic sorts a B-length array on one row. Replicate sums
    accumulate as DECIMAL(38,0) (BIGINT would overflow near 10^19 fx
    at 100 TB); B bounds memory, not the corpus."""
    if b_replicates < 4:
        raise ValueError(f"b_replicates must be >= 4, got {b_replicates}")
    if not 0 < alpha_ppm < 1_000_000:
        raise ValueError(f"alpha_ppm must be in (0, 1e6), got {alpha_ppm}")
    b = int(b_replicates)
    lo_rank = (alpha_ppm * (b - 1)) // 2_000_000 + 1
    hi_rank = b - lo_rank + 1
    s = float(WELCH_SCALE)
    d38 = "decimal(38,0)"

    # spread (r13; guide §2.6/§6): the ×B explode and its 64 md5 draws
    # per row are the expensive MAP stage, and a single-row-group
    # parquet scan runs it all in ONE task — measured 5.9 s single-core
    # for the md5 pass at sf0.1 vs 0.4 s spread across the cluster. A
    # well-partitioned input at real scale makes this a no-op.
    from kinesis_stream_spark.sources.batch import spread

    rows = spread(
        df.where(F.col("event_id").isNotNull() & F.col("value").isNotNull()),
        "event_id",
    ).select(
        F.col("event_id").cast("string").alias("_id"),
        F.floor(
            F.least(
                F.greatest(F.col("value").cast("double"), F.lit(-FX_V_CAP)),
                F.lit(FX_V_CAP),
            )
            * F.lit(s)
        )
        .cast("long")
        .alias("xfx"),
    )
    repl = rows.select(
        "_id",
        "xfx",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("b"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("b").cast("string"), F.lit("|"), F.col("_id"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = None
    for t in POISSON_T:
        term = (u >= F.lit(t)).cast("int")
        w = term if w is None else w + term
    # The full-data (n_rows, Σxfx) ride the SAME aggregate (r13): every
    # replicate group b contains each surviving input row exactly once
    # (explode emits b = 0..B−1 per row), so per-group count = n_rows
    # and per-group Σxfx = the full-data sum, exactly, in every group —
    # the corpus scans ONCE instead of paying a second base-mean pass
    # (guide §2.4). The B-row result is checkpointed because it feeds
    # two branches (means → summary, base) that would otherwise each
    # re-run the ×B explode + 64 md5 draws.
    per_b = pin(
        repl.select("b", "xfx", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_b"),
            # widen xfx BEFORE the multiply: w·xfx in 64-bit would wrap
            # for xfx > 2^63/8 where the oracle's HUGEINT stays exact
            F.sum(F.col("xfx").cast(d38) * F.col("w"))
            .cast(d38)
            .alias("s_b"),
            F.count(F.lit(1)).cast("long").alias("c_b"),
            F.sum(F.col("xfx").cast(d38)).cast(d38).alias("sx_b"),
        )
    )
    means = per_b.select(
        F.when(
            F.col("n_b") > 0,
            F.expr("cast(cast(s_b as string) as double)")
            / F.col("n_b").cast("double")
            / F.lit(s),
        ).alias("m")
    ).where(F.col("m").isNotNull())
    summary = means.groupBy().agg(
        F.sort_array(F.collect_list("m")).alias("ms")
    )
    # full-data mean of the SAME fx-quantized variable the replicates
    # resample: exact DECIMAL(38,0) Σxfx, VARCHAR-routed, two pinned
    # divides (never a dense-double→DECIMAL cast — tie semantics).
    # Derived from the checkpointed replicate aggregate — every group
    # carries the identical (c_b, sx_b) = (n_rows, Σxfx), so MAX just
    # picks the shared value; empty input ⇒ empty per_b ⇒ n_rows 0,
    # NULL mean, exactly the old two-scan form's contract.
    base = per_b.groupBy().agg(
        F.coalesce(F.max("c_b"), F.lit(0)).cast("long").alias("n_rows"),
        F.when(
            F.coalesce(F.max("c_b"), F.lit(0)) > 0,
            F.expr("cast(cast(max(sx_b) as string) as double)")
            / F.max("c_b").cast("double")
            / F.lit(s),
        ).alias("mean_value"),
    )
    # try_element_at, not element_at: replicates whose total weight is
    # 0 (tiny inputs) produce no mean, so the rank can exceed the list
    # — NULL CI then (honest undersampling), matching DuckDB's
    # out-of-range list index semantics instead of raising
    return base.crossJoin(F.broadcast(summary)).select(
        "n_rows",
        F.lit(b).cast("long").alias("b_replicates"),
        "mean_value",
        F.try_element_at(F.col("ms"), F.lit(lo_rank)).alias("ci_lo"),
        F.try_element_at(F.col("ms"), F.lit(hi_rank)).alias("ci_hi"),
    )


def sql_bootstrap_ci(
    *,
    table: str = "events",
    b_replicates: int = 64,
    alpha_ppm: int = 50_000,
) -> str:
    """DuckDB oracle twin of :func:`bootstrap_ci` — identical hash
    draws, threshold ladder, replicate sums, and nearest-rank
    selection."""
    b = int(b_replicates)
    lo_rank = (alpha_ppm * (b - 1)) // 2_000_000 + 1
    hi_rank = b - lo_rank + 1
    s = float(WELCH_SCALE)
    u = (
        "CAST(('0x' || SUBSTR(MD5(CAST(b AS VARCHAR) || '|' || _id), 1, 15))"
        " AS BIGINT)"
    )
    w = " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in POISSON_T
    )
    return f"""
    WITH rows_t AS (
      SELECT CAST(event_id AS VARCHAR) AS _id,
             CAST(FLOOR(LEAST(GREATEST(CAST(value AS DOUBLE),
                  {-FX_V_CAP!r}), {FX_V_CAP!r}) * {s!r}) AS BIGINT) AS xfx
      FROM {table}
      WHERE event_id IS NOT NULL AND value IS NOT NULL),
    repl AS (
      SELECT _id, xfx, b, ({w}) AS w
      FROM rows_t, (SELECT UNNEST(RANGE(0, {b})) AS b)),
    per_b AS (
      SELECT b, CAST(SUM(w) AS BIGINT) AS n_b,
             CAST(SUM(CAST(xfx AS HUGEINT) * w) AS HUGEINT) AS s_b
      FROM repl GROUP BY b),
    means AS (
      SELECT CAST(CAST(s_b AS VARCHAR) AS DOUBLE)
             / CAST(n_b AS DOUBLE) / {s!r} AS m
      FROM per_b WHERE n_b > 0),
    summary AS (SELECT LIST(m ORDER BY m) AS ms FROM means),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CASE WHEN COUNT(*) > 0 THEN
               CAST(CAST(SUM(CAST(xfx AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / {s!r}
             END AS mean_value
      FROM rows_t)
    SELECT n_rows, CAST({b} AS BIGINT) AS b_replicates, mean_value,
           ms[{lo_rank}] AS ci_lo, ms[{hi_rank}] AS ci_hi
    FROM base CROSS JOIN summary
    """
