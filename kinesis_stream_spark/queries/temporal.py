"""Temporal query inventory (events table): time-grid gap fill and
SCD2 interval compaction. Oracles replay the identical integer-bucket
algorithm in DuckDB (EPOCH_US floor-division, struct-max tiebreaks,
gaps-and-islands run ids) — parity validates the computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.temporal import (
    DAY_US,
    HOUR_US,
    EWMA_SCALE,
    cusum,
    ewma,
    holt,
    peak_concurrency,
    top_paths,
    gap_fill_forward,
    linear_trend,
    mann_kendall,
    scd2_compact,
    seasonal_profile,
    sql_linear_trend,
    sql_seasonal_profile,
    sql_survival_curve,
    survival_curve,
    active_user_windows,
    sql_active_user_windows,
    lead_lag_correlation,
    ohlc_bars,
    sql_lead_lag_correlation,
    sql_ohlc_bars,
    seasonal_residual_outliers,
    sql_seasonal_residual_outliers,
    sql_strict_funnel,
    strict_funnel,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


@_q(
    "events_gap_fill_hourly",
    f"""
    WITH occ AS (
      SELECT event_type AS key, EPOCH_US(ts) // {HOUR_US} AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS bucket_sum
      FROM events GROUP BY 1, 2),
    spans AS (SELECT key, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM occ GROUP BY key),
    grid AS (SELECT key, t.bucket FROM spans, UNNEST(RANGE(b0, b1 + 1)) AS t(bucket)),
    j AS (SELECT g.key, g.bucket, o.n_events, o.bucket_sum
          FROM grid g LEFT JOIN occ o USING (key, bucket))
    SELECT key, bucket,
           COALESCE(n_events, 0) AS n_events,
           n_events IS NULL AS is_gap,
           LAST_VALUE(bucket_sum IGNORE NULLS) OVER (
             PARTITION BY key ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
    FROM j
    """,
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per event type with forward-filled sums — the
    resample+ffill regularization a feature pipeline runs before
    cutting training windows. See operators/temporal.py for the scale
    shape (collapse-first, per-key sequence grid, keyed fill window)."""
    ev = load_table(spark, sf_dir, "events")
    return gap_fill_forward(ev)


@_q("events_linear_interpolation")
def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per event type with LINEARLY interpolated
    gap sums — the `interpolate()` gap-fill policy next to LOCF
    (right for rate-like series where a carried-forward plateau lies).
    Pinned double interpolation chain between struct-carried observed
    neighbors; see operators/temporal.py:linear_interpolation."""
    from kinesis_stream_spark.operators.temporal import linear_interpolation

    ev = load_table(spark, sf_dir, "events")
    return linear_interpolation(ev)


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_linear_interpolation,
)

ORACLE["events_linear_interpolation"] = sql_linear_interpolation()


@_q(
    "events_scd2_status_history",
    f"""
    WITH snap AS (
      SELECT user_id AS key, EPOCH_US(ts) // {DAY_US} AS day,
             (MAX({{'us': EPOCH_US(ts), 'status': event_type}})).status AS status
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    runs AS (
      SELECT key, day, status,
             CASE WHEN LAG(status) OVER w IS NULL
                    OR LAG(status) OVER w <> status THEN 1 ELSE 0 END AS run_start
      FROM snap WINDOW w AS (PARTITION BY key ORDER BY day)),
    r2 AS (
      SELECT key, day, status,
             SUM(run_start) OVER (PARTITION BY key ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM runs),
    iv AS (SELECT key, run_id, status, MIN(day) AS valid_from,
                  COUNT(*) AS n_days
           FROM r2 GROUP BY 1, 2, 3)
    SELECT key, status, valid_from,
           LEAD(valid_from) OVER (PARTITION BY key ORDER BY valid_from) AS valid_to,
           n_days,
           LEAD(valid_from) OVER (PARTITION BY key ORDER BY valid_from) IS NULL
             AS is_current
    FROM iv
    """,
)
def events_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from daily last-status snapshots:
    effective-dated [valid_from, valid_to) intervals per user with an
    is_current marker. Day indexes are integer epoch-days; the
    within-day "last" is a struct max with the timestamp as primary and
    status string as tiebreak (deterministic under exact-tie
    timestamps on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_compact(ev)


@_q(
    "events_multires_rollup",
    f"""
    WITH base AS (
      SELECT event_type AS key,
             EPOCH_US(ts) // {DAY_US} AS day,
             EPOCH_US(ts) // {HOUR_US} AS hour,
             value AS v
      FROM events)
    SELECT key, day, hour,
           CASE WHEN GROUPING(day) = 1 THEN 'key_total'
                WHEN GROUPING(hour) = 1 THEN 'day'
                ELSE 'hour' END AS grain,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS value_sum
    FROM base
    GROUP BY ROLLUP (key, day, hour)
    HAVING GROUPING(key) = 0
    """,
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate-style rollup: hour, day, and key-total
    grains of the events stream from one scan (single Expand + hash
    aggregate). Buckets are integer epoch indexes; sums are exact
    DECIMAL accumulation on both engines."""
    from kinesis_stream_spark.operators.temporal import multires_rollup

    return multires_rollup(load_table(spark, sf_dir, "events"))


@_q(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, QUANTILE_CONT(ABS(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type) GROUP BY 1),
    stats AS (SELECT med.event_type, med.med, dev.mad
              FROM med JOIN dev USING (event_type))
    SELECT e.event_id, e.event_type, e.value, s.med, s.mad,
           (e.value - s.med) / s.mad AS mad_score
    FROM events e JOIN stats s USING (event_type)
    WHERE s.mad > 0 AND ABS(e.value - s.med) > 3.0 * s.mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outliers (|x − median| > 3·MAD). The oracle
    replays both exact-percentile passes and the flagging rule, pinning
    the flagged set and the per-row scores."""
    from kinesis_stream_spark.operators.temporal import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"))


@_q(
    "events_transition_matrix",
    """
    WITH steps AS (
      SELECT LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id NULLS LAST
             ) AS from_state,
             event_type AS to_state
      FROM events WHERE ts IS NOT NULL),
    counts AS (
      SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM steps WHERE from_state IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_state, to_state, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY from_state) AS prob
    FROM counts
    ORDER BY from_state, to_state
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Markov transition matrix over per-user event sequences:
    (from_state, to_state) counts + row-normalized probabilities. The
    oracle replays the (epoch-micros, event_id)-ordered lag chain and
    the normalizing divide."""
    from kinesis_stream_spark.operators.temporal import transition_matrix

    return transition_matrix(load_table(spark, sf_dir, "events")).orderBy(
        "from_state", "to_state"
    )


@_q(
    "events_winsorized_stats",
    """
    WITH bounds AS (
      SELECT event_type, QUANTILE_CONT(value, 0.05) AS lo,
             QUANTILE_CONT(value, 0.95) AS hi
      FROM events GROUP BY 1),
    c AS (
      SELECT e.event_type, e.value AS v,
             CASE WHEN e.value IS NULL THEN NULL
                  ELSE LEAST(GREATEST(e.value, b.lo), b.hi) END AS wv,
             CAST(e.value < b.lo AS BIGINT) AS is_low,
             CAST(e.value > b.hi AS BIGINT) AS is_high,
             b.lo, b.hi
      FROM events e JOIN bounds b USING (event_type))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_low) AS BIGINT) AS n_clamped_low,
           CAST(SUM(is_high) AS BIGINT) AS n_clamped_high,
           MIN(lo) AS p_low, MIN(hi) AS p_high,
           CAST(SUM(CAST(wv AS DECIMAL(27,6))) AS DOUBLE) AS w_sum,
           CASE WHEN COUNT(v) > 0
                THEN CAST(SUM(CAST(wv AS DECIMAL(27,6))) AS DOUBLE) / COUNT(v)
           END AS w_mean
    FROM c GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization report: exact p05/p95 bounds, clamp
    counts on each side, and the winsorized sum/mean under exact-decimal
    accumulation. The oracle replays the percentile fit, the NULL-gated
    clamp, and the decimal sums."""
    from kinesis_stream_spark.operators.temporal import winsorize_stats

    return winsorize_stats(load_table(spark, sf_dir, "events")).orderBy("event_type")


@_q(
    "events_user_diversity",
    """
    WITH pc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1, 2),
    agg AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_categories,
             CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS ss
      FROM pc GROUP BY 1)
    SELECT user_id, n_events, n_categories,
           CAST(ss AS VARCHAR) AS sum_sq,
           CAST(ss AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS simpson,
           1.0 - CAST(ss AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS diversity
    FROM agg
    ORDER BY user_id
    """,
)
def events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Simpson diversity over event types: Σc_i²/n² collision
    probability and its 1−x complement — the log-free entropy stand-in
    for behavioral profiling. Integer counts, exact-DECIMAL Σc², two
    IEEE divides; the oracle replays both aggregate levels."""
    from kinesis_stream_spark.operators.temporal import simpson_diversity

    return simpson_diversity(load_table(spark, sf_dir, "events")).orderBy(
        "user_id"
    )


@_q(
    "events_mann_kendall_trend",
    f"""
    WITH daily AS (
      -- the sum stays DECIMAL (no double cast): S only compares, and
      -- sums differing past double precision must still sign
      SELECT user_id AS key, EPOCH_US(ts) // {DAY_US} AS bucket,
             SUM(CAST(value AS DECIMAL(27,6))) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    pairs AS (
      SELECT a.key,
             CASE WHEN b.v > a.v THEN 1
                  WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON a.key = b.key AND a.bucket < b.bucket),
    stats AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     CAST(SUM(sgn) AS BIGINT) AS s_stat
              FROM pairs GROUP BY 1),
    per AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_periods
            FROM daily GROUP BY 1)
    SELECT p.key, p.n_periods,
           COALESCE(s.n_pairs, 0) AS n_pairs,
           COALESCE(s.s_stat, 0) AS s_stat,
           CASE WHEN COALESCE(s.s_stat, 0) > 0 THEN 'increasing'
                WHEN COALESCE(s.s_stat, 0) < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend
    FROM per p LEFT JOIN stats s USING (key)
    ORDER BY p.key
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Mann-Kendall monotone-trend statistic over daily value
    sums — S = pairwise sign sum, comparison-only arithmetic on exact
    decimal period sums (operator docstring for the P-bounded pair-join
    scale shape)."""
    ev = load_table(spark, sf_dir, "events")
    return mann_kendall(ev).orderBy("key")


@_q(
    "events_ewma_daily",
    f"""
    WITH daily AS (
      SELECT user_id AS key, EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    fx AS (SELECT key, bucket,
                  CAST(FLOOR(v * {float(EWMA_SCALE)!r}) AS BIGINT) AS vfx
           FROM daily),
    arr AS (SELECT key, LIST(vfx ORDER BY bucket) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_periods
            FROM fx GROUP BY key),
    folded AS (
      SELECT key, n_periods,
             LIST_REDUCE(s, (acc, x) ->
               CAST(FLOOR((3 * acc + x) / 4.0) AS BIGINT)) AS ewma_fx
      FROM arr)
    SELECT key, n_periods, ewma_fx,
           CAST(ewma_fx AS DOUBLE) / {EWMA_SCALE} AS ewma
    FROM folded
    ORDER BY key
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = 1/4) of daily value sums in exact 2^20 fixed
    point — transcendental-free smoothing whose integer fold replays
    bit-identically in the oracle (operator docstring for the
    bounded-period scale shape)."""
    ev = load_table(spark, sf_dir, "events")
    return ewma(ev).orderBy("key")


@_q(
    "events_cusum_drift",
    f"""
    WITH daily AS (
      SELECT user_id AS key, EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    fx AS (SELECT key, bucket,
                  CAST(FLOOR(v * {float(EWMA_SCALE)!r}) AS BIGINT) AS vfx
           FROM daily),
    center AS (
      SELECT key,
             CAST(FLOOR(CAST(SUM(vfx) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mu_fx
      FROM fx GROUP BY key),
    sc AS (
      SELECT f.key,
             CAST(FLOOR(CAST(SUM(ABS(f.vfx - c.mu_fx)) AS DOUBLE)
                        / COUNT(*)) AS BIGINT) AS mad_fx
      FROM fx f JOIN center c USING (key) GROUP BY f.key),
    arr AS (SELECT key, LIST(vfx ORDER BY bucket) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_periods
            FROM fx GROUP BY key),
    folded AS (
      SELECT a.key, a.n_periods, c.mu_fx, s.mad_fx,
             LIST_REDUCE(
               LIST_PREPEND([CAST(0 AS BIGINT), 0, 0, 0, 0]::BIGINT[],
                            LIST_TRANSFORM(a.s, v -> [v])),
               (acc, x) -> [
                 GREATEST(CAST(0 AS BIGINT),
                          acc[1] + (x[1] - c.mu_fx
                                    - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT))),
                 GREATEST(CAST(0 AS BIGINT),
                          acc[2] + (c.mu_fx - x[1]
                                    - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT))),
                 acc[3] + CASE WHEN
                   GREATEST(CAST(0 AS BIGINT),
                            acc[1] + (x[1] - c.mu_fx
                                      - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT)))
                     > 4 * s.mad_fx
                   OR GREATEST(CAST(0 AS BIGINT),
                               acc[2] + (c.mu_fx - x[1]
                                         - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT)))
                     > 4 * s.mad_fx
                   THEN 1 ELSE 0 END,
                 GREATEST(acc[4],
                          GREATEST(CAST(0 AS BIGINT),
                                   acc[1] + (x[1] - c.mu_fx
                                             - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT)))),
                 GREATEST(acc[5],
                          GREATEST(CAST(0 AS BIGINT),
                                   acc[2] + (c.mu_fx - x[1]
                                             - CAST(FLOOR(s.mad_fx / 2.0) AS BIGINT))))
               ]) AS st
      FROM arr a JOIN center c USING (key) JOIN sc s USING (key))
    SELECT key, n_periods, mu_fx, mad_fx,
           st[1] AS cusum_pos_fx, st[2] AS cusum_neg_fx,
           st[3] AS n_alarms, st[4] AS max_pos_fx, st[5] AS max_neg_fx
    FROM folded
    ORDER BY key
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM drift/changepoint summary of daily
    value sums — integer fixed-point fold with per-key floor-mean
    center and mean-absolute-deviation scale, k = ⌊MAD/2⌋ allowance
    and h = 4·MAD alarm threshold (operator docstring for the
    exactness chain and bounded-fold scale shape)."""
    ev = load_table(spark, sf_dir, "events")
    return cusum(ev).orderBy("key")


@_q(
    "events_holt_forecast",
    f"""
    WITH daily AS (
      SELECT user_id AS key, EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    fx AS (SELECT key, bucket,
                  CAST(FLOOR(v * {float(EWMA_SCALE)!r}) AS BIGINT) AS vfx
           FROM daily),
    arr AS (SELECT key, LIST(vfx ORDER BY bucket) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_periods
            FROM fx GROUP BY key),
    folded AS (
      SELECT key, n_periods,
             LIST_REDUCE(
               LIST_PREPEND([s[1], CAST(0 AS BIGINT)]::BIGINT[],
                            LIST_TRANSFORM(s[2:], v -> [v])),
               (acc, x) -> [
                 CAST(FLOOR((x[1] + 3 * (acc[1] + acc[2])) / 4.0) AS BIGINT),
                 CAST(FLOOR((
                   (CAST(FLOOR((x[1] + 3 * (acc[1] + acc[2])) / 4.0) AS BIGINT)
                    - acc[1]) + 3 * acc[2]) / 4.0) AS BIGINT)
               ]) AS st
      FROM arr)
    SELECT key, n_periods,
           st[1] AS level_fx, st[2] AS trend_fx,
           st[1] + st[2] AS forecast_fx,
           CAST(st[1] AS DOUBLE) / {EWMA_SCALE} AS level,
           CAST(st[2] AS DOUBLE) / {EWMA_SCALE} AS trend,
           CAST(st[1] + st[2] AS DOUBLE) / {EWMA_SCALE} AS forecast
    FROM folded
    ORDER BY key
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear (level + trend) smoothing of daily value
    sums with the one-step forecast, in exact 2^20 fixed point — the
    trend-aware EWMA whose 2-state integer fold replays bit-identically
    in the oracle (operator docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return holt(ev).orderBy("key")


_SESSION_US = 15 * 60 * 1_000_000


@_q(
    "events_peak_concurrency",
    f"""
    WITH pts AS (
      SELECT event_type AS key, EPOCH_US(ts) AS t, 1 AS delta
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT event_type AS key, EPOCH_US(ts) + {_SESSION_US} AS t, -1 AS delta
      FROM events WHERE ts IS NOT NULL),
    sweep AS (
      SELECT key, t,
             SUM(delta) OVER (PARTITION BY key ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
      FROM pts),
    run AS (
      SELECT key, t, open_now,
             MAX(open_now) OVER (PARTITION BY key) AS key_max
      FROM sweep)
    SELECT key,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_events,
           CAST(MAX(open_now) AS BIGINT) AS peak_concurrency,
           CAST(MIN(CASE WHEN open_now = key_max THEN t END) AS BIGINT)
             AS peak_at_us
    FROM run
    GROUP BY key
    ORDER BY key
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 15-minute sessions per event type via the
    sweep line (close-before-open tie rule): maximum simultaneously
    open intervals and the earliest instant the peak is reached —
    the capacity-planning query a self-join answers quadratically
    (operator docstring for the determinism argument)."""
    ev = load_table(spark, sf_dir, "events")
    return peak_concurrency(ev, duration_us=_SESSION_US).orderBy("key")


@_q(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT user_id AS key, event_type,
             LAG(event_type, 1) OVER w AS s1,
             LAG(event_type, 2) OVER w AS s2
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY EPOCH_US(ts), event_id NULLS LAST)),
    grams AS (
      SELECT key, s2 || ' > ' || s1 || ' > ' || event_type AS path
      FROM seq WHERE s2 IS NOT NULL)
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT key) AS BIGINT) AS n_users
    FROM grams
    GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths over per-user event streams
    (the transition matrix generalized to full n-gram paths), with
    the deterministic (epoch-micros, event-id) ordering contract and
    (count desc, path) tie-break (operator docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return top_paths(ev, depth=3, k=20)


@_q("events_linear_trend", sql_linear_trend() + " ORDER BY key")
def events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS linear trend (slope/intercept/one-step forecast)
    of daily value sums — closed-form regression in exact DECIMAL(38,0)
    moments with pinned-order final divides (operator docstring for
    the grid-bounded centering and the combinable moment shape)."""
    ev = load_table(spark, sf_dir, "events")
    return linear_trend(ev).orderBy("key")


@_q(
    "events_seasonal_profile",
    sql_seasonal_profile() + " ORDER BY key, dow_slot",
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type day-of-week seasonality profile with seasonal
    indexes — epoch-day modulo slots (convention-free across engines),
    exact-decimal slot sums, one combinable corpus pass (operator
    docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return seasonal_profile(ev).orderBy("key", "dow_slot")


@_q("events_survival_curve", sql_survival_curve() + " ORDER BY t")
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of user lifetimes (first→last event day),
    censoring units still active in the corpus's final day — per
    distinct lifetime: at-risk, deaths, censored, and the exact 2^30
    fixed-point survival fold (operator docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return survival_curve(ev).orderBy("t")


@_q(
    "events_active_user_windows",
    sql_active_user_windows() + " ORDER BY day",
)
def events_active_user_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling distinct actives per day — DAU, trailing-7-day
    WAU via the contribution-explode identity (NO count-distinct
    window function), and integer-ppm stickiness (operator
    docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return active_user_windows(ev, window_days=7).orderBy("day")


@_q(
    "events_lead_lag_correlation",
    sql_lead_lag_correlation(type_a="click", type_b="purchase")
    + " ORDER BY lag",
)
def events_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the click and purchase daily
    value series at lags -2..+2 — exact DECIMAL(38,0) moments over the
    aligned grid-bounded series, pinned sqrt/divide finals (operator
    docstring); a positive-lag peak means clicks lead purchases."""
    ev = load_table(spark, sf_dir, "events")
    return lead_lag_correlation(
        ev, type_a="click", type_b="purchase", max_lag=2
    ).orderBy("lag")


_FUNNEL_STEPS = ["signup", "view", "purchase"]


@_q(
    "events_strict_funnel",
    sql_strict_funnel(steps=_FUNNEL_STEPS)
    + " ORDER BY step_idx",
)
def events_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered signup→view→purchase funnel with a one-day
    per-step budget and earliest-completion semantics — per step:
    cohort size and integer-ppm conversion against step 1 (operator
    docstring for the unit-sized join chain)."""
    ev = load_table(spark, sf_dir, "events")
    return strict_funnel(ev, _FUNNEL_STEPS).orderBy(
        "step_idx"
    )


@_q("events_ohlc_daily", sql_ohlc_bars() + " ORDER BY key, bucket")
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candlesticks per event type: open/high/low/close via
    struct extrema with (epoch, id) tiebreaks, exact-decimal volume —
    ONE combinable aggregate, no window (operator docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev).orderBy("key", "bucket")


@_q(
    "events_seasonal_outliers",
    sql_seasonal_residual_outliers() + " ORDER BY event_id",
)
def events_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted robust outliers: weekday-slot baselines
    subtracted, then |residual − median| > 3·MAD per event type — the
    calendar-aware upgrade of events_mad_outliers (operator
    docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return seasonal_residual_outliers(ev).orderBy("event_id")


@_q(
    "events_time_weighted_avg",
    None,  # assigned below: sql twin lives next to the operator
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type LOCF time-weighted average (the TSDB time_weight
    operator): Σ v·Δt in exact DECIMAL(38,6), the observed span in
    integer microseconds, one final IEEE divide. The plain AVG
    overweights chatty periods; TWA weights by holding time (operator
    docstring for the exactness chain and the VARCHAR-routed DuckDB
    casts)."""
    from kinesis_stream_spark.operators.temporal import time_weighted_avg

    return time_weighted_avg(load_table(spark, sf_dir, "events")).orderBy(
        "key"
    )


@_q(
    "events_state_durations",
    None,  # assigned below
)
def events_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state totals (the TSDB state_agg operator): each user's
    event stream as an LOCF state machine; per state, closed-interval
    dwell time in integer microseconds, interval counts, and the
    integer-ppm share of all observed dwell time. Last-event intervals
    are censored out by contract."""
    from kinesis_stream_spark.operators.temporal import state_durations

    return state_durations(load_table(spark, sf_dir, "events")).orderBy(
        "state"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_state_durations,
    sql_time_weighted_avg,
)

ORACLE["events_time_weighted_avg"] = (
    sql_time_weighted_avg() + " ORDER BY key"
)
ORACLE["events_state_durations"] = (
    sql_state_durations() + " ORDER BY state"
)


@_q("events_touch_attribution", None)  # assigned below
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: purchases
    credited to the user's earliest and latest non-purchase touch
    inside a 7-day lookback, aggregated per touch type with
    exact-decimal credited value (operator docstring in
    operators/attribution.py for the bounded-join scale shape)."""
    from kinesis_stream_spark.operators.attribution import first_last_touch

    return first_last_touch(load_table(spark, sf_dir, "events")).orderBy(
        "touch_type"
    )


from kinesis_stream_spark.operators.attribution import (  # noqa: E402
    sql_first_last_touch,
)

ORACLE["events_touch_attribution"] = (
    sql_first_last_touch() + " ORDER BY touch_type"
)


@_q("events_autocorrelation", None)  # assigned below
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ACF at lags 1-3 over daily value sums — the
    persistence/seasonality screen beside the lead-lag
    cross-correlation, same fixed-point moment discipline (operator
    docstring)."""
    from kinesis_stream_spark.operators.temporal import autocorrelation

    return autocorrelation(load_table(spark, sf_dir, "events")).orderBy(
        "key", "lag"
    )


@_q("events_burstiness", None)  # assigned below
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival burstiness B = (σ−μ)/(σ+μ) and CV
    — the arrival-process anomaly screen (metronome-regular scrapers
    score B ≈ −1); exact HUGEINT/DECIMAL38 moments, VARCHAR-routed
    finals (operator docstring)."""
    from kinesis_stream_spark.operators.temporal import (
        interarrival_burstiness,
    )

    return interarrival_burstiness(
        load_table(spark, sf_dir, "events")
    ).orderBy("key")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_autocorrelation,
    sql_interarrival_burstiness,
)

ORACLE["events_autocorrelation"] = (
    sql_autocorrelation() + " ORDER BY key, lag"
)
ORACLE["events_burstiness"] = (
    sql_interarrival_burstiness() + " ORDER BY key"
)


@_q(
    "integrity_sequence_gaps",
    """
    WITH ids AS (
      SELECT event_id AS id FROM events WHERE event_type <> 'error'),
    g AS (SELECT MIN(id) AS gmin, MAX(id) AS gmax FROM ids),
    buckets AS (
      SELECT id // 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS actual_n,
             MIN(id) AS first_id, MAX(id) AS last_id
      FROM ids GROUP BY 1)
    SELECT b.bucket, b.first_id, b.last_id, b.actual_n,
           LEAST((b.bucket + 1) * 256 - 1, g.gmax)
             - GREATEST(b.bucket * 256, g.gmin) + 1 AS expected_n,
           LEAST((b.bucket + 1) * 256 - 1, g.gmax)
             - GREATEST(b.bucket * 256, g.gmin) + 1 - b.actual_n
             AS missing_n
    FROM buckets b CROSS JOIN g
    ORDER BY bucket
    """,
)
def integrity_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity audit WITHOUT a global sort: bucket the id
    space (id div 256), compare each bucket's actual id count against
    the bucket's expected span inside [global min, global max] — the
    ingestion-loss detector for sequence-numbered streams (which ids
    never landed, per bucket), shaped as one combinable aggregate plus
    a one-row broadcast instead of the textbook lag-over-everything
    window (a partition-less window serializes at 100 TB; this
    doesn't). Run here on the ids surviving an event_type filter, so
    the missing counts are non-trivial on both engines."""
    ids = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") != "error")
        .select(F.col("event_id").alias("id"))
    )
    g = ids.agg(
        F.min("id").alias("gmin"), F.max("id").alias("gmax")
    )
    buckets = ids.groupBy(
        F.expr("id div 256").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("actual_n"),
        F.min("id").alias("first_id"),
        F.max("id").alias("last_id"),
    )
    expected = (
        F.least((F.col("bucket") + 1) * 256 - 1, F.col("gmax"))
        - F.greatest(F.col("bucket") * 256, F.col("gmin"))
        + 1
    )
    return (
        buckets.join(F.broadcast(g))
        .select(
            "bucket",
            "first_id",
            "last_id",
            "actual_n",
            expected.alias("expected_n"),
            (expected - F.col("actual_n")).alias("missing_n"),
        )
        .orderBy("bucket")
    )


@_q(
    "events_daily_percentile_bands",
    f"""
    SELECT event_type AS key, EPOCH_US(ts) // {DAY_US} AS day,
           CAST(COUNT(value) AS BIGINT) AS n,
           QUANTILE_CONT(value, 0.5) AS p50,
           QUANTILE_CONT(value, 0.9) AS p90,
           QUANTILE_CONT(value, 0.99) AS p99
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY key, day
    """,
)
def events_daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) exact percentile bands (p50/p90/p99) — the
    latency-dashboard aggregate, one grouped percentile pass; the
    interpolation parity between Spark percentile and DuckDB
    QUANTILE_CONT is pinned by the relational percentile oracles. At
    100 TB the approx_percentile swap applies (the *_approx family's
    documented contract); NULL timestamps are excluded by the family
    convention."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    from kinesis_stream_spark.operators.temporal import _bucket

    return (
        ev.groupBy(
            F.col("event_type").alias("key"),
            _bucket("ts", DAY_US).alias("day"),
        )
        .agg(
            F.count("value").alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy("key", "day")
    )


@_q("events_rfm_segments", None)  # assigned below
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM segmentation over purchases: recency/frequency/
    monetary plus 1-5 quintile scores from broadcast exact-percentile
    boundaries (threshold compares, not a global-sort ntile — operator
    docstring)."""
    from kinesis_stream_spark.operators.temporal import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "events")).orderBy(
        "user_id"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_rfm_segments,
)

ORACLE["events_rfm_segments"] = sql_rfm_segments() + " ORDER BY user_id"


@_q("events_conversion_lag", None)  # assigned below
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert histogram: hours from first in-window touch to
    purchase, plus the organic bucket (-1, no in-window touch) — the
    funnel-velocity readout sharing attribution's single value-RANGE
    window (operators/attribution.py); the oracle replays the
    independent join formulation."""
    from kinesis_stream_spark.operators.attribution import (
        conversion_lag_histogram,
    )

    return conversion_lag_histogram(
        load_table(spark, sf_dir, "events")
    ).orderBy("lag_bucket")


from kinesis_stream_spark.operators.attribution import (  # noqa: E402
    sql_conversion_lag_histogram,
)

ORACLE["events_conversion_lag"] = (
    sql_conversion_lag_histogram() + " ORDER BY lag_bucket"
)


@_q("events_theil_sen_trend", None)  # assigned below
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Theil-Sen robust slope over daily value sums —
    the median-of-pairwise-slopes trend that shrugs off the corrupted
    day OLS (events_linear_trend) chases; fx-encoded period sums,
    pair slopes as single pinned IEEE divides, order-statistic median
    (operator docstring for the grid-bounded pair-frame shape)."""
    from kinesis_stream_spark.operators.temporal import theil_sen_trend

    return theil_sen_trend(load_table(spark, sf_dir, "events")).orderBy(
        "key"
    )


@_q("events_mix_shift", None)  # assigned below
def events_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-mix drift between the observed span's halves — the
    integer-exact ingredients of a PSI drift alarm (per-type ppm share
    of each half, delta, relative-rate ratio), midpoint split so
    volume spikes surface as drift instead of moving the boundary
    (operator docstring for why the ln(p/q) term stays out of the
    cross-engine surface)."""
    from kinesis_stream_spark.operators.temporal import mix_shift

    return mix_shift(load_table(spark, sf_dir, "events")).orderBy("key")


_MARKOV_ITERS = 5


@_q("events_markov_stationary", None)  # assigned below
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral transition chain —
    5 integer power-iteration rounds (2^40 fixed point, PageRank's
    floor-division mass discipline) over the per-user lag-chain
    transition counts; the steady-state event mix next to the observed
    one (operator docstring; oracle unrolls the identical rounds)."""
    from kinesis_stream_spark.operators.temporal import markov_stationary

    return markov_stationary(
        load_table(spark, sf_dir, "events"), iterations=_MARKOV_ITERS
    ).orderBy("state")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_markov_stationary,
    sql_mix_shift,
    sql_theil_sen_trend,
)

ORACLE["events_theil_sen_trend"] = sql_theil_sen_trend() + " ORDER BY key"
ORACLE["events_mix_shift"] = sql_mix_shift() + " ORDER BY key"
ORACLE["events_markov_stationary"] = (
    sql_markov_stationary(iterations=_MARKOV_ITERS) + " ORDER BY state"
)


@_q("events_changepoint", None)  # assigned below
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type single changepoint (binary segmentation) over
    daily value sums: the split maximizing the between-segment
    contrast, with before/after means — CUSUM alarms the drift, this
    names the day; exact fx prefix sums, one pinned IEEE score chain,
    deterministic argmax (operator docstring)."""
    from kinesis_stream_spark.operators.temporal import changepoint

    return changepoint(load_table(spark, sf_dir, "events")).orderBy("key")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_changepoint,
)

ORACLE["events_changepoint"] = sql_changepoint() + " ORDER BY key"


@_q("events_anomaly_episodes", None)  # assigned below
def events_anomaly_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type anomaly episodes: maximal consecutive-day runs
    whose value sum exceeds 1.5× the key's mean day, as incident rows
    (start, end, duration, peak) — the point detectors stitched into
    what actually gets paged; integer cross-multiplied threshold,
    bucket−rank islands (operator docstring)."""
    from kinesis_stream_spark.operators.temporal import anomaly_episodes

    return anomaly_episodes(load_table(spark, sf_dir, "events")).orderBy(
        "key", "start_bucket"
    )


@_q("events_cohort_ltv", None)  # assigned below
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort LTV triangle over purchases: per (first-purchase
    week, age) the active buyers, exact micro-unit revenue, and the
    running cumulative a payback analysis reads — integer end to end,
    cohort-partitioned window on the grid frame (operator
    docstring)."""
    from kinesis_stream_spark.operators.temporal import cohort_ltv

    return cohort_ltv(load_table(spark, sf_dir, "events")).orderBy(
        "cohort_week", "age_weeks"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_anomaly_episodes,
    sql_cohort_ltv,
)

ORACLE["events_anomaly_episodes"] = (
    sql_anomaly_episodes() + " ORDER BY key, start_bucket"
)
ORACLE["events_cohort_ltv"] = (
    sql_cohort_ltv() + " ORDER BY cohort_week, age_weeks"
)


@_q("events_session_stats", None)  # assigned below
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session rollup from 30-minute idle-gap sessionization:
    session/bounce counts, integer-ppm bounce rate, events per
    session, exact closed durations — the batch twin of the streaming
    session window, one entity shuffle powering both lag windows
    (operator docstring)."""
    from kinesis_stream_spark.operators.temporal import session_stats

    return session_stats(load_table(spark, sf_dir, "events")).orderBy("day")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_session_stats,
)

ORACLE["events_session_stats"] = sql_session_stats() + " ORDER BY day"


@_q("events_rolling_regression", None)  # assigned below
def events_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rolling 7-day OLS slope at every occupied day —
    the time-local trend feature beside the whole-history
    events_linear_trend: exact fx window moments, closed-form slope,
    true grid offsets so gaps don't flatten the trend
    (operators/temporal.py)."""
    from kinesis_stream_spark.operators.temporal import rolling_regression

    return rolling_regression(load_table(spark, sf_dir, "events")).orderBy(
        "key", "bucket"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_rolling_regression,
)

ORACLE["events_rolling_regression"] = (
    sql_rolling_regression() + " ORDER BY key, bucket"
)


@_q("events_growth_accounting", None)  # assigned below
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new/retained/resurrected/churned user decomposition with
    a 7-day dormancy rule — the growth-accounting dashboard staple:
    one distinct activity pass, one unit-partitioned window serving
    min/lag/lead at once, churn asserted only inside the corpus
    horizon (operators/temporal.py)."""
    from kinesis_stream_spark.operators.temporal import growth_accounting

    return growth_accounting(load_table(spark, sf_dir, "events")).orderBy(
        "day", "status"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_growth_accounting,
)

ORACLE["events_growth_accounting"] = (
    sql_growth_accounting() + " ORDER BY day, status"
)


@_q("events_runs_test", None)  # assigned below
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type — is the sequence of
    daily rises and falls random at all (streaky regimes score low,
    oscillation scores high), the randomness audit beside the
    Mann-Kendall trend: exact sign/run counts, pinned z chain
    (operators/temporal.py)."""
    from kinesis_stream_spark.operators.temporal import runs_test

    return runs_test(load_table(spark, sf_dir, "events")).orderBy("key")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_runs_test,
)

ORACLE["events_runs_test"] = sql_runs_test() + " ORDER BY key"


@_q("join_asof_error_before_purchase", None)  # assigned below
def join_asof_error_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time enrichment via the first-class AS-OF join: each
    purchase event picks the user's most recent 'error' event at or
    before it, within a 6-hour tolerance, left-outer (purchases with
    no recent error keep NULLs) — the union-window single-exchange
    plan, not a candidate-pair join
    (operators/asof.py:asof_join)."""
    from kinesis_stream_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        purchases,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        right_vals=("value",),
        direction="backward",
        tolerance_us=6 * 3600 * 1_000_000,
    ).orderBy("event_id")


from kinesis_stream_spark.operators.asof import sql_asof_join  # noqa: E402

ORACLE["join_asof_error_before_purchase"] = (
    sql_asof_join(
        left_sql=(
            "SELECT event_id, user_id, ts FROM events"
            " WHERE event_type = 'purchase'"
        ),
        right_sql=(
            "SELECT user_id, event_id, ts, value FROM events"
            " WHERE event_type = 'error'"
        ),
        on="user_id",
        left_id="event_id",
        left_cols=("event_id", "user_id", "ts"),
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        right_vals=("value",),
        direction="backward",
        tolerance_us=6 * 3600 * 1_000_000,
    )
    + " ORDER BY event_id"
)


@_q("join_asof_next_purchase_after_error", None)  # assigned below
def join_asof_next_purchase_after_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD-direction as-of join under the oracle (VERDICT r11
    item 5 — the backward registration left the forward/tolerance
    path pytest-only): each error event picks the user's NEXT
    purchase at or after it, within a 24-hour tolerance — the
    time-to-recovery readout. Same union-window single-exchange
    plan; only the timeline walk direction flips
    (operators/asof.py:asof_join)."""
    from kinesis_stream_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(
        errors,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        right_vals=("value",),
        direction="forward",
        tolerance_us=24 * 3600 * 1_000_000,
    ).orderBy("event_id")


ORACLE["join_asof_next_purchase_after_error"] = (
    sql_asof_join(
        left_sql=(
            "SELECT event_id, user_id, ts FROM events"
            " WHERE event_type = 'error'"
        ),
        right_sql=(
            "SELECT user_id, event_id, ts, value FROM events"
            " WHERE event_type = 'purchase'"
        ),
        on="user_id",
        left_id="event_id",
        left_cols=("event_id", "user_id", "ts"),
        left_ts="ts",
        right_ts="ts",
        right_id="event_id",
        right_vals=("value",),
        direction="forward",
        tolerance_us=24 * 3600 * 1_000_000,
    )
    + " ORDER BY event_id"
)


@_q("events_seasonal_naive_forecast", None)  # assigned below
def events_seasonal_naive_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type seasonal-naive (weekly) forecast skill: exact
    fx MAE of the v(t−7) baseline vs the v(t−1) naive, the integer
    MASE twin, and the next-day forecast — the baseline every
    seasonal model must beat
    (operators/temporal.py:seasonal_naive)."""
    from kinesis_stream_spark.operators.temporal import seasonal_naive

    ev = load_table(spark, sf_dir, "events")
    return seasonal_naive(ev, season=7).orderBy("key")


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_seasonal_naive,
)

ORACLE["events_seasonal_naive_forecast"] = (
    sql_seasonal_naive(season=7) + " ORDER BY key"
)


@_q("events_rolling_distinct", None)  # assigned below
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / trailing-7-day WAU / stickiness curve over the full
    observed day grid — the sliding COUNT DISTINCT engagement readout,
    computed as a bounded contribution explode (window × distinct
    pairs), never a per-day range self-join
    (operators/temporal.py:rolling_distinct)."""
    from kinesis_stream_spark.operators.temporal import rolling_distinct

    ev = load_table(spark, sf_dir, "events")
    return rolling_distinct(ev, window=7).orderBy(
        "day_bucket"
    )


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    sql_rolling_distinct,
)

ORACLE["events_rolling_distinct"] = (
    sql_rolling_distinct(window=7) + " ORDER BY day_bucket"
)
