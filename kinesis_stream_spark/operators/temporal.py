"""Temporal operators: time-grid gap fill, SCD2 interval compaction and
the per-key period-series family — smoothing, drift, trend,
changepoint, correlation and forecast-skill statistics (SURVEY.md §2.3
extension rows; no counterpart in the reference — kinesis-stream hands
decoded records to user code and the time-series shaping happens
downstream; these are that downstream, re-expressed declaratively).

**The input schema** is ``events``, read by name (the schema table in
:mod:`kinesis_stream_spark.operators`). The only names left as
parameters are ones a caller sets: the key column of
:func:`gap_fill_forward`, :func:`linear_interpolation` and
:func:`linear_trend` (and their twins), and the table of
:func:`sql_rolling_distinct` and :func:`sql_seasonal_naive`, which tests
point at a fixture table.

Every operator keys its computation on integer epoch indexes
(``EPOCH_US // unit``), not timestamps: integer floor-division is exact
and identical on every engine, while a float divide or an interval
comparison near a bucket boundary can round differently (see
``queries/_util.py`` on cross-engine float discipline).

**The period series** (:func:`_period_fx`) is what the series family
folds, fits and correlates — one tumbling-window aggregate per key:

- a period is one ``(key, bucket)`` cell, ``bucket`` the integer day
  index above (``EPOCH_US // DAY_US``);
- rows with a NULL timestamp are excluded (a NULL bucket has no
  position on the grid, and engines disagree on where NULLs sort — the
  oracles apply the same WHERE);
- the period value is the exact DECIMAL(27,6) sum of the cell's values
  (order-free, so any partitioning gives the same sum);
- ``vfx`` is that sum floored into 2^20 (:data:`EWMA_SCALE`)
  fixed-point BIGINT — one power-of-two double multiply (an exponent
  shift, no rounding), so every engine derives the same integers. A
  cell whose values are all NULL has a NULL ``vfx``.

From ``vfx`` on, each operator runs integer or DECIMAL arithmetic and
ends in pinned-order IEEE steps that its oracle twin replays.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.queries._util import DEC, dsum

#: microseconds per hour / per day
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def _micros() -> Column:
    """``ts`` as integer epoch microseconds."""
    return F.expr("unix_micros(cast(ts as timestamp))")


def _bucket(unit_us: int) -> Column:
    """Integer bucket index of ``ts`` (floor division of epoch
    microseconds — exact, tie-free)."""
    return F.expr(f"unix_micros(cast(ts as timestamp)) div {unit_us}")


#: fixed-point scale of the period series (2^20 fractional bits)
EWMA_SCALE = 1 << 20


def _period_fx(events: DataFrame, key_col: str) -> DataFrame:
    """The period series of the module docstring: ``(key, bucket, vfx)``,
    one row per occupied (key, bucket) cell. It is the one corpus-sized
    pass of the series family, a map-side-combinable aggregate, so
    everything downstream runs on a frame bounded by keys × buckets."""
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(
            F.col(key_col).alias("key"), _bucket(DAY_US).alias("bucket")
        )
        .agg(dsum("value", "v"))
        .select(
            "key",
            "bucket",
            F.floor(F.col("v") * F.lit(float(EWMA_SCALE))).cast("long").alias("vfx"),
        )
    )


def _period_lists(per: DataFrame) -> DataFrame:
    """``(key, s, n_periods)``: each key's periods as one bucket-sorted
    array ``s`` of (bucket, vfx) structs. The fold operators walk it
    inside one row; its length is bounded by the bucket grid, not by
    event count."""
    return (
        per.select("key", F.struct("bucket", "vfx").alias("p"))
        .groupBy("key")
        .agg(
            F.array_sort(F.collect_list("p")).alias("s"),
            F.count(F.lit(1)).alias("n_periods"),
        )
    )


def _first_and_rest() -> tuple[Column, Column]:
    """The first period's ``vfx`` of a :func:`_period_lists` array (the
    fold seed) and the array of the remaining ``vfx`` values."""
    rest = F.transform(F.slice(F.col("s"), 2, F.size("s") - 1), lambda x: x["vfx"])
    return F.element_at(F.col("s"), 1)["vfx"], rest


def _x_offsets(per: DataFrame) -> DataFrame:
    """``(key, bucket, x, yfx)``: the period series with x the bucket
    offset from the key's first occupied bucket (0-based, gaps kept).
    x is grid-sized, not epoch-sized, so products x·yfx fit BIGINT."""
    return per.select(
        "key",
        "bucket",
        (F.col("bucket") - F.min("bucket").over(Window.partitionBy("key")))
        .cast("long")
        .alias("x"),
        F.col("vfx").alias("yfx"),
    )


def _dense_grid(events: DataFrame, key_col: str) -> DataFrame:
    """``(key, bucket, n_events, bucket_sum)`` on each key's dense hour
    bucket range, from its first to its last occupied bucket. Empty buckets
    carry NULL ``n_events`` and ``bucket_sum``.

    The raw scan collapses FIRST (one shuffle on (key, bucket), partial
    aggregation map-side), so the grid join runs on ~|keys|×|buckets|
    rows, not on raw events. The grid is generated per key with
    ``sequence()``: no driver loop, no cross join."""
    occupied = (
        events.select(
            F.col(key_col).alias("key"),
            _bucket(HOUR_US).alias("bucket"),
            F.col("value").alias("v"),
        )
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("v"), "bucket_sum"))
    )
    spans = occupied.groupBy("key").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = spans.select(
        "key", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    return grid.join(occupied, ["key", "bucket"], "left")


def gap_fill_forward(events: DataFrame, *, key_col: str = "event_type") -> DataFrame:
    """Regularize an event stream onto a dense per-key time grid and
    forward-fill observation gaps — the resample + ffill step every
    time-series feature pipeline needs before windowed training data
    can be cut.

    Per key: aggregate raw events to one row per occupied hour bucket
    (count + exact-decimal sum), build the dense bucket range between
    the key's first and last occupied bucket, left-join the
    observations onto it, and carry the last observed sum forward
    across empty buckets (``last(..., ignorenulls)`` over an
    unbounded-preceding row frame).

    Scale shape: :func:`_dense_grid`'s, and the fill window partitions
    by key: parallel across keys, and at 100 TB a year of hourly
    buckets is ~9k rows per key — trivially in-memory per partition.
    Buckets are integer indexes; callers convert back to timestamps at
    the edge.
    """
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _dense_grid(events, key_col).select(
        F.col("key"),
        F.col("bucket"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("is_gap"),
        F.last("bucket_sum", ignorenulls=True).over(w).alias("filled_sum"),
    )


def scd2_compact(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) compaction: collapse a stream
    of per-key status observations into effective-dated intervals
    [valid_from, valid_to) with an ``is_current`` marker — the standard
    dimension-history build step.

    Two stages, both single-shuffle-on-key:

    1. snapshot: last status per (key, day-bucket), "last" = max
       (ts, tiebreak) within the bucket via ``max_by``-style struct max
       — deterministic under ties because the tiebreak column is part
       of the ordering.
    2. islands: gaps-and-islands over the day snapshots — a status run
       starts where ``lag(status)`` differs; run ids are the running
       sum of start flags; one groupBy collapses each run to its
       interval. ``valid_to`` is the next run's start day (NULL on the
       open current run).

    Both windows and the final groupBy partition by the same key, so
    after the first shuffle everything is narrow. Day buckets are
    integer epoch-day indexes (exact; see module docstring).
    """
    day = _bucket(DAY_US)
    # NULL timestamps carry no temporal meaning and (worse) sort
    # differently across engines (Spark NULLS FIRST vs DuckDB NULLS
    # LAST in ascending windows) — excluded by contract.
    snap = (
        events.where(F.col("ts").isNotNull()).select(
            F.col("user_id").alias("key"),
            day.alias("day"),
            F.struct(
                _micros().alias("us"),
                F.col("event_type").alias("status"),
            ).alias("obs"),
        )
        .groupBy("key", "day")
        .agg(F.max("obs").alias("obs"))
        .select("key", "day", F.col("obs.status").alias("status"))
    )
    wo = Window.partitionBy("key").orderBy("day")
    runs = snap.withColumn(
        "run_start",
        F.when(
            F.lag("status").over(wo).isNull()
            | (F.lag("status").over(wo) != F.col("status")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("run_start").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = runs.groupBy("key", "run_id", "status").agg(
        F.min("day").alias("valid_from"),
        F.max("day").alias("last_seen"),
        F.count(F.lit(1)).alias("n_days"),
    )
    wn = Window.partitionBy("key").orderBy("valid_from")
    return iv.select(
        F.col("key"),
        F.col("status"),
        F.col("valid_from"),
        F.lead("valid_from").over(wn).alias("valid_to"),
        F.col("n_days"),
        F.lead("valid_from").over(wn).isNull().alias("is_current"),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """Behavioral transition matrix: per-key event sequences in time
    order, folded into global (from_state → to_state) counts and
    transition probabilities — the Markov-chain summary behind funnel
    generalization, next-action modeling, and bot detection (a crawler's
    transition row looks nothing like a human's).

    Shape: one shuffle on the entity key for the ``lag`` window (the
    same partitioning every sessionizer here uses), then a hash
    aggregate on the (from, to) pair — the output is |states|² rows, so
    everything after the window is driver-trivial. Ordering is
    (epoch-micros, event id): the id tiebreak makes same-timestamp
    bursts deterministic on both engines, and its null placement is
    pinned explicitly (``asc_nulls_last`` ↔ ``NULLS LAST``) — Spark
    sorts NULLs first by default while DuckDB sorts them last, so a
    NULL id under a timestamp tie would otherwise silently diverge the
    lag chain. NULL timestamps are excluded by the same contract as
    every ordered temporal operator here (engines disagree on NULL sort
    placement); first-event rows (no predecessor) and rows whose
    predecessor state is NULL drop with the ``from_state IS NOT NULL``
    filter, identically in the oracle. ``prob`` is one IEEE divide of
    two exact integers.
    """
    w = Window.partitionBy("user_id").orderBy(
        _micros(),
        F.col("event_id").asc_nulls_last(),
    )
    steps = (
        events.where(F.col("ts").isNotNull())
        .select(
            F.lag("event_type").over(w).alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .where(F.col("from_state").isNotNull())
    )
    counts = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_from = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_from)
        ).alias("prob"),
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Multi-resolution time rollup (continuous-aggregate style): hour,
    day, and whole-range aggregates per key from ONE scan, via a rollup
    over (key, day, hour) on integer epoch buckets. Spark plans a single
    Expand + one hash aggregate — the map side emits partials for every
    grain, so the fact table is read once no matter how many grains the
    serving layer wants; at 100 TB that single-scan property IS the
    feature (three separate groupBys would be three scans + shuffles).

    ``grain`` labels each output row (hour/day/key-total); hour rows
    carry both day and hour buckets, day rows NULL the hour, key totals
    NULL both — standard rollup nesting, disambiguated by GROUPING().
    """
    day = _bucket(DAY_US)
    hour = _bucket(HOUR_US)
    base = events.select(
        F.col("event_type").alias("key"), day.alias("day"), hour.alias("hour"),
        F.col("value").alias("v"),
    )
    g = (
        base.rollup("key", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("v"), "value_sum"),
            F.grouping("key").alias("_gk"),
            F.grouping("day").alias("_gd"),
            F.grouping("hour").alias("_gh"),
        )
        # drop the grand-total row; keep key totals, day and hour grains
        .where(F.col("_gk") == 0)
    )
    return g.select(
        "key", "day", "hour",
        F.when(F.col("_gd") == 1, "key_total")
        .when(F.col("_gh") == 1, "day")
        .otherwise("hour")
        .alias("grain"),
        "n_events", "value_sum",
    )


def _pct(col: str, p: float):
    """Exact two-pass ``percentile`` aggregate for the outlier family —
    the oracle-replayable contract (DuckDB ``QUANTILE_CONT``)."""
    return F.expr(f"percentile({col}, {p!r})")


def winsorize_stats(events: DataFrame) -> DataFrame:
    """Per-key winsorization: clamp values into the exact
    [5%, 95%] percentile band and report, per key, how many rows
    clamped on each side plus the winsorized sum/mean — the standard
    robust-feature step before training on heavy-tailed metrics (one
    sensor glitch or whale user otherwise owns the feature's scale).

    Shape mirrors :func:`mad_outliers`: one exact-percentile aggregate
    per key, the tiny bounds frame broadcast back to the row scan
    (rows never shuffle), then one per-key aggregate with exact
    DECIMAL accumulation for the winsorized sum. NULL values pass
    through untouched:
    excluded from the percentile fit, the clamp counts, and the sums,
    identically on both engines.

    Cross-engine divergence surface (documented like the DECIMAL-cast
    tie note in ``queries/_util.py``): Spark's exact ``percentile`` and
    DuckDB's ``QUANTILE_CONT`` both interpolate at rank p·(n−1), but in
    separately-implemented double arithmetic — an adversarial value set
    can land the two interpolations one ulp apart, and a bound that
    differs in the last bit can flip a row's clamp decision and fail a
    bitwise parity compare. The driver corpus and fuzz sets don't sit
    on such edges (values are round decimals); a consumer needing
    bit-stable bounds across engines should quantize the fitted bounds
    through fixed-point (as the centroid math does via CENTROID_SCALE)
    before the clamp.
    """
    bounds = events.groupBy("event_type").agg(
        _pct("value", 0.05).alias("lo"),
        _pct("value", 0.95).alias("hi"),
    )
    v = F.col("value")
    clamped = events.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        v.alias("v"),
        # explicit NULL gate: least/greatest SKIP nulls on both engines,
        # so a bare clamp would resurrect a NULL value as `lo`
        F.when(
            v.isNotNull(), F.least(F.greatest(v, F.col("lo")), F.col("hi"))
        ).alias("wv"),
        (v < F.col("lo")).cast("long").alias("is_low"),
        (v > F.col("hi")).cast("long").alias("is_high"),
        F.col("lo"),
        F.col("hi"),
    )
    agg = clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_values"),
        F.sum("is_low").alias("n_clamped_low"),
        F.sum("is_high").alias("n_clamped_high"),
        dsum("wv", "w_sum"),
        F.min("lo").alias("p_low"),
        F.min("hi").alias("p_high"),
    )
    return agg.select(
        "event_type",
        "n_rows",
        "n_clamped_low",
        "n_clamped_high",
        "p_low",
        "p_high",
        "w_sum",
        F.when(
            F.col("n_values") > 0, F.col("w_sum") / F.col("n_values")
        ).alias("w_mean"),
    )


def mad_outliers(events: DataFrame) -> DataFrame:
    """Robust per-key outlier detection via median absolute deviation:
    flag rows with |x − median| > 3·MAD. Median/MAD resist the exact
    failure mode that breaks mean/stddev monitoring — the outliers
    being hunted drag the mean toward themselves; a 3σ rule misses
    the very spikes it exists for when a burst of them widens σ.

    Two aggregation passes over the fact table (median, then the median
    of deviations — exact MAD is inherently two-pass), each a per-key
    exact percentile; per-key stats broadcast back to the row scan, so
    rows never shuffle. The only float ops per row are one
    subtract/abs/compare chain: single IEEE ops, deterministic
    everywhere; percentile interpolation parity is pinned by the
    relational percentile oracles. Keys whose MAD is 0 flag nothing
    (degenerate scale — also keeps the score divide off Spark 4's
    ANSI double/0 error path).
    """
    med = events.groupBy("event_type").agg(
        _pct("value", 0.5).alias("med")
    )
    dev = (
        events.join(F.broadcast(med), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("med")).alias("adev"))
        .groupBy("event_type")
        .agg(_pct("adev", 0.5).alias("mad"))
    )
    stats = med.join(dev, "event_type")
    return (
        events.join(F.broadcast(stats), "event_type")
        .where(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            ((F.col("value") - F.col("med")) / F.col("mad")).alias("mad_score"),
        )
    )


def simpson_diversity(events: DataFrame) -> DataFrame:
    """Per-user Simpson diversity over ``event_type``: with
    per-category counts c_i and n = Σc_i, the Simpson index Σc_i²/n² is
    the probability two independently drawn events share a category;
    ``diversity`` = 1 − that. The log-free stand-in for Shannon entropy
    in behavioral profiling — a bot hammering one endpoint scores ≈ 0,
    an organic user browsing many surfaces scores high — chosen exactly
    because every term is integer arithmetic: no transcendental (libm-
    divergent) log anywhere near the cross-engine surface.

    Shape: two chained hash aggregates — (entity, category) counts, then
    per-entity fold — both map-side-combinable, no join, no window.
    Σc_i² accumulates in exact DECIMAL(38,0): a single category with
    c > 3·10⁹ events squares past BIGINT, the same real 100 TB skew case
    that made cluster_balance's Σn² DECIMAL. The two divides at the end
    are single IEEE ops on exactly-represented integers.
    """
    per_cat = events.where(F.col("event_type").isNotNull()).groupBy(
        "user_id", "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    # cast each operand BEFORE the multiply (the cluster_balance
    # pattern): a long*long square overflows at c > 3.03e9 and a cast
    # of the wrapped product would launder the corruption into DECIMAL
    sq = F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
    agg = per_cat.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(sq).cast("decimal(38,0)").alias("sum_sq"),
    )
    n_d = F.col("n_events").cast("double")
    simpson = F.col("sum_sq").cast("double") / (n_d * n_d)
    return agg.select(
        "user_id",
        "n_events",
        "n_categories",
        F.col("sum_sq").cast("string").alias("sum_sq"),
        simpson.alias("simpson"),
        (F.lit(1.0) - simpson).alias("diversity"),
    )


def mann_kendall(events: DataFrame) -> DataFrame:
    """Mann-Kendall trend statistic per key: S = Σ_{i<j} sign(v_j − v_i)
    over the key's bucketed period sums — the standard non-parametric
    monotone-trend test statistic (Mann 1945; Kendall's tau numerator).
    Output per key: n_periods, n_pairs, s_stat, and a sign
    classification ('increasing' / 'decreasing' / 'flat').

    Exactness: period values are order-independent DECIMAL(27,6) sums
    kept AS DECIMALS (no double cast — two sums differing only past
    double precision must still sign correctly) and S touches them
    ONLY through comparisons (CASE, not float signum/subtraction) —
    integer arithmetic end to end, so any engine replays it
    bit-identically.

    Scale shape: the per-(key, bucket) aggregate is the one corpus-
    sized pass (map-side combinable); the pair join shuffles the
    ALREADY-COLLAPSED period frame on key, and per-key work is
    P·(P−1)/2 with P bounded by the bucketing grid (days in the data
    window), not by event count — the classic way MK stays tractable:
    coarsen the bucket as the horizon grows. Keys with one period
    have no pairs and classify 'flat'. NULL timestamps are excluded
    (the period-series contract in the module docstring)."""
    # Not _period_fx: S compares the DECIMAL sums themselves, with no
    # double cast and no 2^20 floor, so two sums that differ only past
    # double precision (or below 2^-20) still sign correctly.
    daily = (
        events.where(F.col("ts").isNotNull())
        .groupBy(
            F.col("user_id").alias("key"),
            _bucket(DAY_US).alias("bucket"),
        )
        .agg(F.sum(F.col("value").cast(DEC)).alias("v"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
    )
    pairs = a.join(
        b,
        (F.col("a.key") == F.col("b.key"))
        & (F.col("a.bucket") < F.col("b.bucket")),
    ).select(F.col("a.key").alias("key"), sgn.alias("sgn"))
    stats = pairs.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sgn").cast("long").alias("s_stat"),
    )
    periods = daily.groupBy("key").agg(F.count(F.lit(1)).alias("n_periods"))
    s = F.coalesce(F.col("s_stat"), F.lit(0))
    return periods.join(stats, "key", "left").select(
        "key",
        "n_periods",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        s.alias("s_stat"),
        F.when(s > 0, "increasing")
        .when(s < 0, "decreasing")
        .otherwise("flat")
        .alias("trend"),
    )


def ewma(events: DataFrame) -> DataFrame:
    """Per-key exponentially-weighted moving average (α = 1/4) over the
    bucketed period sums, in exact integer fixed point: the recurrence
    ``s ← ⌊(3·s + v)/4⌋`` folds over the key's periods in bucket order,
    seeded with the first period's value. Transcendental-free smoothing
    — the α = 1/4 decay makes every step a multiply-add and one
    floor-divide by 4 (computed as ``FLOOR(x / 4.0)``: a power-of-two
    double divide is exact, and floor — unlike integer ``DIV`` — agrees
    across engines on negative inputs too).

    Exactness chain: the period series (module docstring) is exact
    integers, and the fold is integers thereafter — bit-identical on
    any engine, any partitioning.

    Scale shape: the period-series aggregate, then one per-key collect
    of the PERIOD list — bounded by the bucket grid (e.g. days in
    window), never by event count; the fold is a per-row array op on
    that bounded list. The sequential recurrence lives entirely inside
    one row — no cross-row window, no serialized global pass."""
    per_key = _period_lists(_period_fx(events, "user_id"))
    first, rest = _first_and_rest()
    folded = F.aggregate(
        rest,
        first,
        lambda acc, x: F.floor((3 * acc + x) / F.lit(4.0)).cast("long"),
    )
    return per_key.select(
        "key",
        "n_periods",
        folded.alias("ewma_fx"),
        (folded.cast("double") / EWMA_SCALE).alias("ewma"),
    )


def cusum(events: DataFrame) -> DataFrame:
    """Per-key two-sided CUSUM drift detection (Page 1954) over the
    bucketed period sums, in exact integer fixed point: with per-key
    center μ (floor-mean of the period values) and scale m (floor-mean
    absolute deviation — integer-only, no σ/sqrt), fold in bucket
    order with allowance k = ⌊m/2⌋ and alarm threshold h = 4·m:

        S⁺ ← max(0, S⁺ + (x − μ − k))      upward drift
        S⁻ ← max(0, S⁻ + (μ − x − k))      downward drift
        alarms += [S⁺ > h or S⁻ > h]

    Output per key: n_periods, mu_fx, mad_fx, final S⁺/S⁻, alarm
    count, and max excursions — every column BIGINT fixed point
    (2^20), so cross-engine parity is trivial.

    Exactness chain: the period series (module docstring), then
    integers only. μ uses ``FLOOR(sum/n)`` via a deterministic IEEE
    divide of exactly-cast integers — identical in any engine;
    everything after is integer compare/add/max.

    Scale shape: the period-series aggregate over the corpus; the
    center/scale pass and the fold run on the PERIOD-grid-bounded
    frame (two small aggregates + one per-row array fold) — the
    sequential recurrence lives inside one row, no cross-row window,
    no serialized pass. State is a 5-long BIGINT array; headroom:
    |x−μ| ≤ 2·max|v|·2^20 and the fold caps S at max excursion ≤
    Σ|x−μ| ≤ P·2^42-ish for bounded values — far inside BIGINT for
    any bucket grid."""
    per = _period_fx(events, "user_id")
    center = per.groupBy("key").agg(
        F.floor(
            F.sum("vfx").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mu_fx"),
    )
    scale = (
        per.join(center, "key")
        .groupBy("key")
        .agg(
            F.floor(
                F.sum(F.abs(F.col("vfx") - F.col("mu_fx"))).cast("double")
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("mad_fx"),
        )
    )
    arr = _period_lists(per).join(center, "key").join(scale, "key")
    vals = F.transform(F.col("s"), lambda x: x["vfx"])
    mu, mad = F.col("mu_fx"), F.col("mad_fx")
    k = F.floor(mad / F.lit(2.0)).cast("long")
    h = (4 * mad).cast("long")
    zero = F.lit(0).cast("long")

    def _step(acc, x):
        sp = F.greatest(zero, acc[0] + (x - mu - k))
        sn = F.greatest(zero, acc[1] + (mu - x - k))
        alarm = F.when((sp > h) | (sn > h), 1).otherwise(0).cast("long")
        return F.array(
            sp, sn, acc[2] + alarm, F.greatest(acc[3], sp), F.greatest(acc[4], sn)
        )

    st = F.aggregate(
        vals, F.array(zero, zero, zero, zero, zero), _step
    )
    return arr.select(
        "key",
        "n_periods",
        "mu_fx",
        "mad_fx",
        st[0].alias("cusum_pos_fx"),
        st[1].alias("cusum_neg_fx"),
        st[2].alias("n_alarms"),
        st[3].alias("max_pos_fx"),
        st[4].alias("max_neg_fx"),
    )


def holt(events: DataFrame) -> DataFrame:
    """Per-key Holt linear (double-exponential) smoothing of the
    bucketed period sums — the trend-aware upgrade of :func:`ewma`,
    in the same exact integer fixed point (α = β = 1/4):

        l ← ⌊(x + 3·(l + b)) / 4⌋        level
        b ← ⌊((l − l_prev) + 3·b) / 4⌋   trend

    seeded l₀ = x₀, b₀ = 0 and folded in bucket order; the one-step
    forecast is l + b. Output per key: n_periods, level_fx, trend_fx,
    forecast_fx (2^20 fixed point BIGINTs) plus the three as doubles.

    Exactness chain and scale shape are :func:`ewma`'s: the period
    series (module docstring), then an integer 2-state fold over the
    grid-bounded period list inside one row — ``FLOOR(x / 4.0)``
    divides (power-of-two double divide is exact; floor agrees across
    engines on negatives). Headroom: l tracks the data range and b its
    per-step delta — both bounded by max|v|·2^21-ish, far inside
    BIGINT."""
    per_key = _period_lists(_period_fx(events, "user_id"))
    first, rest = _first_and_rest()
    zero = F.lit(0).cast("long")

    def _step(acc, x):
        lvl = F.floor((x + 3 * (acc[0] + acc[1])) / F.lit(4.0)).cast("long")
        tr = F.floor(((lvl - acc[0]) + 3 * acc[1]) / F.lit(4.0)).cast("long")
        return F.array(lvl, tr)

    st = F.aggregate(rest, F.array(first, zero), _step)
    fc = st[0] + st[1]
    return per_key.select(
        "key",
        "n_periods",
        st[0].alias("level_fx"),
        st[1].alias("trend_fx"),
        fc.alias("forecast_fx"),
        (st[0].cast("double") / EWMA_SCALE).alias("level"),
        (st[1].cast("double") / EWMA_SCALE).alias("trend"),
        (fc.cast("double") / EWMA_SCALE).alias("forecast"),
    )


def peak_concurrency(
    events: DataFrame,
    *,
    duration_us: int = 15 * 60 * 1_000_000,
) -> DataFrame:
    """Peak concurrency per key via the classic sweep line: each event
    opens an interval [ts, ts + duration) and the answer is the
    maximum number of simultaneously open intervals — the
    capacity-planning query (peak concurrent sessions / connections /
    jobs) that a naive self-join answers in O(n²) and the sweep line
    in one sort.

    Semantics pinned for determinism: endpoints are integer
    microseconds; at the same instant a CLOSE processes before an
    OPEN (delta −1 sorts before +1), so back-to-back intervals never
    double-count — and ties beyond (time, delta) cannot change the
    running sum's maximum because addition commutes within a group of
    identical deltas. NULL timestamps are excluded by contract.

    Output per key: (key, n_events, peak_concurrency, peak_at_us —
    the earliest sweep position where the peak is reached).

    Scale shape: one shuffle on the key; the sweep is a per-key
    ordered window over 2·n endpoint rows (time-bounded sessions at
    100 TB are windowed per key anyway — a single global sort is never
    needed because keys are independent). The endpoint frame is built
    by one explode (±1 deltas), map-only."""
    us = _micros()
    pts = (
        events.where(F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            us.alias("t0"),
        )
        .select(
            "key",
            F.explode(
                F.array(
                    F.struct(
                        F.col("t0").alias("t"), F.lit(1).alias("delta")
                    ),
                    F.struct(
                        (F.col("t0") + duration_us).alias("t"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("p"),
        )
        .select("key", F.col("p.t").alias("t"), F.col("p.delta").alias("delta"))
    )
    w = (
        Window.partitionBy("key")
        .orderBy(F.asc("t"), F.asc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("open_now", F.sum("delta").over(w)).withColumn(
        "key_max", F.max(F.col("open_now")).over(Window.partitionBy("key"))
    )
    return (
        run.groupBy("key")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_events"),
            F.max("open_now").cast("long").alias("peak_concurrency"),
            F.min(
                F.when(F.col("open_now") == F.col("key_max"), F.col("t"))
            )
            .cast("long")
            .alias("peak_at_us"),
        )
    )


def top_paths(events: DataFrame, *, depth: int = 3, k: int = 20) -> DataFrame:
    """Top-k behavioral paths: the ``depth``-step state sequences
    (n-grams of the per-key event stream in time order) ranked by
    global frequency — the generalization of :func:`transition_matrix`
    from bigrams to full paths, the "what do users actually do"
    mining query. Returns (path, n_occurrences, n_users) with the
    deterministic (count desc, path asc) tie-break.

    Ordering is the transition-matrix contract: (epoch micros, event
    id asc-nulls-last) so same-timestamp bursts are deterministic on
    both engines; NULL timestamps AND NULL states are excluded before
    sequencing (a NULL state would silently shorten the path under
    Spark's NULL-skipping concat_ws while NULL-propagating in SQL's
    ``||`` — excluding it keeps one contract on both engines).

    Scale shape: one shuffle on the entity key for the lag windows
    (depth − 1 lags over the SAME window spec share one sort), then a
    combinable path count; the top-k is a count-keyed sort of the
    |distinct paths| frame, not the corpus."""
    if depth < 2:
        raise ValueError(f"depth must be >= 2, got {depth}")
    us = _micros()
    w = Window.partitionBy("user_id").orderBy(
        us.asc(), F.col("event_id").asc_nulls_last()
    )
    base = events.where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    steps = [F.col("event_type")] + [
        F.lag("event_type", i).over(w) for i in range(1, depth)
    ]
    # steps[j] is the state j positions BACK: reverse for left-to-right
    path = F.concat_ws(" > ", *reversed(steps))
    grams = base.select(
        F.col("user_id").alias("key"),
        F.when(steps[depth - 1].isNotNull(), path).alias("path"),
    ).where(F.col("path").isNotNull())
    return (
        grams.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("key").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(k)
    )


def linear_trend(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """Per-key ordinary-least-squares linear trend of the bucketed
    period sums: slope and intercept of yfx ~ x where x is the BUCKET
    OFFSET relative to the key's first occupied bucket (0-based, with
    gaps where the key was silent) and yfx is
    the 2^20 fixed-point period sum — the closed-form regression every
    per-entity trend feature ("is this user's spend rising?") needs,
    without an iterative solver.

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Output per key: (key, n_periods, slope_fx_per_period, slope,
    intercept, forecast_next) — slope/intercept/forecast in value
    units (an exact power-of-two divide of the fx quantities);
    forecast_next evaluates the fit at max(x) + 1, the bucket AFTER
    the key's last observation (never inside the observed span, even
    for gapped keys). Single-period keys emit NULL slope (den = 0) by
    contract.

    Exactness chain: the period series (module docstring) as yfx, with
    x centered on the key's min bucket (:func:`_x_offsets`); the four
    moment sums accumulate as DECIMAL(38,0) (order-free), the
    slope/intercept arithmetic runs in DECIMAL(38,0) exactly, and the
    ONLY floats are the final pinned-order divides (correctly-rounded
    casts on both engines).

    Scale shape: the period-series aggregate over the corpus, a
    key-partitioned MIN window on the period frame, then one
    combinable moment aggregate per key — no per-row state, no
    iteration, no driver math."""
    per = _x_offsets(_period_fx(events, key_col))
    d38 = "decimal(38,0)"
    m = per.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("x").cast("long").alias("xmax"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yfx").cast(d38).alias("sy"),
        F.sum((F.col("x") * F.col("yfx")).cast(d38)).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n_d = F.col("n").cast(d38)
    num = n_d * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")
    den = n_d * F.col("sxx").cast(d38) - F.col("sx").cast(d38) * F.col("sx").cast(d38)
    slope_fx = F.when(
        den == 0, F.lit(None).cast("double")
    ).otherwise(num.cast("double") / den.cast("double"))
    # intercept_fx = (Σy − slope·Σx)/n, pinned order, fx units
    icept_fx = (
        F.col("sy").cast("double") - slope_fx * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    fcast_fx = slope_fx * (F.col("xmax") + 1).cast("double") + icept_fx
    s = float(EWMA_SCALE)
    return m.select(
        "key",
        F.col("n").alias("n_periods"),
        slope_fx.alias("slope_fx_per_period"),
        (slope_fx / s).alias("slope"),
        (icept_fx / s).alias("intercept"),
        (fcast_fx / s).alias("forecast_next"),
    )


def sql_linear_trend(*, key_col: str = "user_id") -> str:
    """DuckDB oracle twin of :func:`linear_trend` — identical fx
    encoding, DECIMAL(38,0) moments, and pinned-order final divides."""
    s = float(EWMA_SCALE)
    return f"""
    WITH daily AS (
      -- DuckDB integer `//` truncates toward zero exactly like Spark's
      -- `div` (verified on 1.0.0: -7 // 2 = -3), so the bucket grids
      -- agree even for pre-epoch timestamps; pinned by
      -- tests/test_round11_review_fixes.py::TestPreEpochBucketParity
      SELECT {key_col} AS key,
             EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    per AS (
      SELECT key,
             CAST(bucket - MIN(bucket) OVER (PARTITION BY key) AS BIGINT) AS x,
             CAST(FLOOR(v * {s!r}) AS BIGINT) AS yfx
      FROM daily),
    m AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(x) AS BIGINT) AS xmax,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(yfx) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(x * yfx) AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM per GROUP BY key),
    fit AS (
      SELECT key, n,
             CASE WHEN CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                       - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) = 0
                  THEN NULL
                  ELSE CAST(CAST(n AS DECIMAL(38,0)) * sxy
                            - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                       / CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                              - CAST(sx AS DECIMAL(38,0))
                                * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
             END AS slope_fx,
             CAST(sy AS DOUBLE) AS sy_d, CAST(sx AS DOUBLE) AS sx_d,
             CAST(n AS DOUBLE) AS n_d,
             CAST(xmax + 1 AS DOUBLE) AS xn_d
      FROM m)
    SELECT key, n AS n_periods,
           slope_fx AS slope_fx_per_period,
           slope_fx / {s!r} AS slope,
           ((sy_d - slope_fx * sx_d) / n_d) / {s!r} AS intercept,
           (slope_fx * xn_d + ((sy_d - slope_fx * sx_d) / n_d)) / {s!r}
             AS forecast_next
    FROM fit
    """


def seasonal_profile(events: DataFrame) -> DataFrame:
    """Per-key day-of-week seasonality profile: each weekday slot's
    share of activity and its seasonal index (slot mean ÷ key mean) —
    the calendar-pattern diagnostic behind load forecasting and
    anomaly baselines ("is Monday always 2× Tuesday, or is this
    Monday anomalous?").

    The weekday slot is ``(EPOCH_US // DAY_US) % 7`` — epoch-day
    modulo, NOT a calendar DAYOFWEEK: engines disagree on week-start
    conventions (Spark 1 = Sunday, DuckDB 0 = Sunday) while integer
    floor-div + mod is convention-free (slot 0 = Thursday, the epoch
    day). Output per (key, dow_slot): n_events, sum_value, mean_value,
    seasonal_index (pinned-order double divide of exact-decimal
    means).

    Scale shape: one map-side-combinable (key, slot) aggregate over
    the corpus, a 7-rows-per-key reduction joined back broadcast —
    never a second corpus pass. NULL timestamps are excluded by
    contract."""
    per = (
        events.where(F.col("ts").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"),
            (_bucket(DAY_US) % 7).cast("int").alias("dow_slot"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("_s"),
        )
    )
    tot = per.groupBy("key").agg(
        F.sum("n_events").cast("long").alias("_tn"),
        F.sum("_s").alias("_ts"),
    )
    mean_slot = F.col("_s").cast("double") / F.col("n_events").cast("double")
    mean_key = F.col("_ts").cast("double") / F.col("_tn").cast("double")
    # a key whose values sum to exactly 0 has no meaningful baseline:
    # NULL seasonal_index by contract (ANSI Spark raises on the bare
    # double divide; DuckDB would return NULL/inf)
    index = F.when(F.col("_ts") == 0, F.lit(None).cast("double")).otherwise(
        mean_slot / mean_key
    )
    return per.join(F.broadcast(tot), "key").select(
        "key",
        "dow_slot",
        "n_events",
        F.col("_s").cast("double").alias("sum_value"),
        mean_slot.alias("mean_value"),
        index.alias("seasonal_index"),
    )


def sql_seasonal_profile() -> str:
    """DuckDB oracle twin of :func:`seasonal_profile`."""
    return f"""
    WITH per AS (
      SELECT event_type AS key,
             CAST((EPOCH_US(ts) // {DAY_US}) % 7 AS INT) AS dow_slot,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(value AS DECIMAL(27,6))) AS _s
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT key, CAST(SUM(n_events) AS BIGINT) AS _tn, SUM(_s) AS _ts
      FROM per GROUP BY key)
    SELECT p.key, p.dow_slot, p.n_events,
           CAST(p._s AS DOUBLE) AS sum_value,
           CAST(p._s AS DOUBLE) / CAST(p.n_events AS DOUBLE) AS mean_value,
           CASE WHEN t._ts = 0 THEN NULL
                ELSE (CAST(p._s AS DOUBLE) / CAST(p.n_events AS DOUBLE))
                     / (CAST(t._ts AS DOUBLE) / CAST(t._tn AS DOUBLE))
           END AS seasonal_index
    FROM per p JOIN tot t USING (key)
    """


#: Kaplan-Meier fixed-point scale: 2^30 keeps every fold product
#: S·(n−d) ≤ 2^30·N inside BIGINT for any cohort under ~2^32 units
KM_SCALE = 1 << 30


def survival_curve(events: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve of unit lifetimes (Kaplan & Meier
    1958) — the churn/retention estimator that handles CENSORING
    honestly: a unit's lifetime is the span (in buckets) between its
    first and last event; units whose last event falls in the corpus's
    final bucket are censored (still alive when observation ended),
    not deaths. At each distinct lifetime t with d_t deaths out of n_t
    still at risk:

        S(t) = Π_{t' ≤ t, d_{t'} > 0} (n_{t'} − d_{t'}) / n_{t'}

    folded in exact 2^30 fixed point (⌊S·(n−d)/n⌋ per step — integer
    multiply + floor-div, bit-identical on both engines).

    Output per distinct lifetime: (t, n_at_risk, n_deaths, n_censored,
    survival_fx, survival) — survival is the exact fx value divided by
    the power-of-two scale.

    Scale shape: one map-side-combinable (unit → min/max bucket)
    aggregate over the corpus, a lifetime-grid-bounded (t, d, c) frame
    (the :func:`ewma` contract — bounded by the bucket grid, never by
    units or events), then the whole curve folds inside ONE row over
    the sorted grid array (O(T²) per-element prefix folds on a
    grid-bounded T). NULL timestamps are excluded; the observation end
    is the corpus max bucket (a deployment passes its own)."""
    per_unit = (
        events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("unit"))
        .agg(
            F.min(_bucket(DAY_US)).alias("fd"),
            F.max(_bucket(DAY_US)).alias("ld"),
        )
    )
    horizon = per_unit.agg(F.max("ld").alias("horizon"))
    lifetimes = per_unit.crossJoin(F.broadcast(horizon)).select(
        (F.col("ld") - F.col("fd")).cast("long").alias("t"),
        F.when(F.col("ld") < F.col("horizon"), 1).otherwise(0).alias("death"),
    )
    grid = lifetimes.groupBy("t").agg(
        F.sum("death").cast("long").alias("d"),
        F.sum(1 - F.col("death")).cast("long").alias("c"),
    )
    one = grid.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "c"))
        ).alias("s"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("n"),
    )
    with_na = one.withColumn(
        "na",
        F.expr(
            "transform(sequence(1, size(s)), i -> "
            "n - aggregate(slice(s, 1, i - 1), CAST(0 AS BIGINT), "
            "(a, x) -> a + x.d + x.c))"
        ),
    )
    with_surv = with_na.withColumn(
        "surv",
        F.expr(
            "transform(sequence(1, size(s)), i -> "
            f"aggregate(sequence(1, i), CAST({KM_SCALE} AS BIGINT), "
            "(acc, j) -> CASE WHEN element_at(s, j).d > 0 "
            "THEN CAST((acc * (element_at(na, j) - element_at(s, j).d)) "
            "div element_at(na, j) AS BIGINT) ELSE acc END))"
        ),
    )
    return with_surv.select(
        F.posexplode("s").alias("pos", "row"),
        F.col("na"),
        F.col("surv"),
    ).select(
        F.col("row.t").alias("t"),
        F.expr("element_at(na, pos + 1)").alias("n_at_risk"),
        F.col("row.d").alias("n_deaths"),
        F.col("row.c").alias("n_censored"),
        F.expr("element_at(surv, pos + 1)").alias("survival_fx"),
        (
            F.expr("element_at(surv, pos + 1)").cast("double")
            / F.lit(float(KM_SCALE))
        ).alias("survival"),
    )


def sql_survival_curve() -> str:
    """DuckDB oracle twin of :func:`survival_curve` — identical grid,
    at-risk prefix arithmetic, and fx fold (LIST_REDUCE with the
    prepended-seed packing, since DuckDB has no 3-arg reduce)."""
    return f"""
    WITH per_unit AS (
      SELECT user_id AS unit,
             MIN(EPOCH_US(ts) // {DAY_US}) AS fd,
             MAX(EPOCH_US(ts) // {DAY_US}) AS ld
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1),
    hz AS (SELECT MAX(ld) AS horizon FROM per_unit),
    lifetimes AS (
      SELECT CAST(ld - fd AS BIGINT) AS t,
             CASE WHEN ld < horizon THEN 1 ELSE 0 END AS death
      FROM per_unit CROSS JOIN hz),
    grid AS (
      SELECT t, CAST(SUM(death) AS BIGINT) AS d,
             CAST(SUM(1 - death) AS BIGINT) AS c
      FROM lifetimes GROUP BY t),
    one AS (
      SELECT LIST({{'t': t, 'd': d, 'c': c}} ORDER BY t) AS s,
             CAST(SUM(d + c) AS BIGINT) AS n
      FROM grid),
    na_t AS (
      SELECT s, n,
             [n - COALESCE(LIST_SUM(LIST_TRANSFORM(s[1:i-1],
                                                   x -> x.d + x.c)), 0)
              FOR i IN RANGE(1, LEN(s) + 1)] AS na
      FROM one),
    sv AS (
      SELECT s, na,
             [LIST_REDUCE(
                LIST_PREPEND([CAST({KM_SCALE} AS BIGINT), 0]::BIGINT[],
                  [[na[j], s[j].d] FOR j IN RANGE(1, i + 1)]),
                (acc, x) -> CASE WHEN x[2] > 0
                  THEN [CAST(CAST(acc[1] AS HUGEINT) * (x[1] - x[2])
                             // x[1] AS BIGINT), CAST(0 AS BIGINT)]
                  ELSE acc END)[1]
              FOR i IN RANGE(1, LEN(s) + 1)] AS surv
      FROM na_t)
    SELECT s[i].t AS t,
           CAST(na[i] AS BIGINT) AS n_at_risk,
           s[i].d AS n_deaths,
           s[i].c AS n_censored,
           CAST(surv[i] AS BIGINT) AS survival_fx,
           CAST(surv[i] AS DOUBLE) / {float(KM_SCALE)!r} AS survival
    FROM sv, UNNEST(RANGE(1, LEN(s) + 1)) AS u(i)
    """


def active_user_windows(events: DataFrame, *, window_days: int = 7) -> DataFrame:
    """Rolling distinct active units per day: for every day in the
    corpus, the exact count of distinct units active that day (DAU)
    and within the trailing ``window_days`` window (WAU), plus the
    integer-ppm stickiness ratio DAU/WAU — the engagement query whose
    naive form (COUNT(DISTINCT) OVER a RANGE frame) most engines
    refuse or serialize. EVERY day in the observed [min, max] span
    emits a row: zero-activity days carry DAU = 0 (their trailing WAU
    may still be positive), and a day whose whole trailing window is
    silent carries WAU = 0 with NULL stickiness.

    Exact rolling distinct via the contribution-explode identity: a
    (unit, day) activity pair contributes to the windows of days
    day .. day + window_days − 1, so exploding each DISTINCT activity
    pair into its ≤ window_days contribution days and counting
    distinct units per contribution day IS the rolling distinct —
    map-side arithmetic, no window function at all. Days are integer
    epoch-day indexes; output days are restricted to the observed
    [min, max] day span (partial leading windows are real; trailing
    spill beyond max day is dropped).

    Scale shape: the corpus collapses to DISTINCT (unit, day) FIRST
    (combinable); the explode multiplies that frame by ≤ window_days
    (a constant); one count-distinct aggregate per contribution day.
    At 100 TB this is the standard DAU/WAU shape — the window factor
    is a constant, never a shuffle-per-day. NULL units/timestamps are
    excluded."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    act = (
        events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.col("user_id").alias("unit"),
            _bucket(DAY_US).alias("day"),
        )
        .distinct()
    )
    span = act.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dau = act.groupBy("day").agg(
        F.count_distinct("unit").cast("long").alias("dau")
    )
    wau = (
        act.select(
            "unit",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("day"),
        )
        .groupBy("day")
        .agg(F.count_distinct("unit").cast("long").alias("wau"))
    )
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    return (
        grid.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            F.coalesce(F.col("wau"), F.lit(0)).cast("long").alias("wau"),
        )
        .select(
            "day",
            "dau",
            "wau",
            F.when(F.col("wau") == 0, F.lit(None).cast("long"))
            .otherwise(
                F.expr(
                    "cast(cast(dau as decimal(38,0)) * 1000000 div wau as long)"
                )
            )
            .alias("stickiness_ppm"),
        )
    )


def sql_active_user_windows(*, window_days: int = 7) -> str:
    """DuckDB oracle twin of :func:`active_user_windows` — identical
    contribution-explode identity."""
    return f"""
    WITH act AS (
      SELECT DISTINCT user_id AS unit,
             EPOCH_US(ts) // {DAY_US} AS day
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM act),
    grid AS (SELECT g.day FROM span, UNNEST(RANGE(d0, d1 + 1)) AS g(day)),
    dau AS (
      SELECT day, CAST(COUNT(DISTINCT unit) AS BIGINT) AS dau
      FROM act GROUP BY day),
    wau AS (
      SELECT c.day, CAST(COUNT(DISTINCT a.unit) AS BIGINT) AS wau
      FROM act a, UNNEST(RANGE(a.day, a.day + {window_days})) AS c(day)
      GROUP BY c.day)
    SELECT g.day,
           COALESCE(d.dau, 0) AS dau,
           COALESCE(w.wau, 0) AS wau,
           CASE WHEN COALESCE(w.wau, 0) = 0 THEN NULL
                ELSE CAST(CAST(COALESCE(d.dau, 0) AS HUGEINT) * 1000000
                          // w.wau AS BIGINT)
           END AS stickiness_ppm
    FROM grid g
    LEFT JOIN dau d USING (day)
    LEFT JOIN wau w USING (day)
    """


def _lag_correlations(
    pairs_at: Callable[[int], DataFrame], lags: range, *keys: str
) -> DataFrame:
    """(keys…, lag, n_pairs, r) for each lag: Pearson r of the aligned
    BIGINT fx pairs (x, y) of ``pairs_at(lag)``, per ``keys`` — the
    moment chain :func:`lead_lag_correlation` and
    :func:`autocorrelation` share. The five moment sums accumulate as
    DECIMAL(38,0) (products of DECIMAL(19,0) operands), the finals are
    two correctly-rounded sqrts + one divide; r is NULL when fewer than
    2 pairs align or either aligned series is constant. The lags
    UNION in order."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    outs = []
    for lag in lags:
        m = pairs_at(lag).groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast(d38).alias("sx"),
            F.sum("y").cast(d38).alias("sy"),
            F.sum((F.col("x").cast(d19) * F.col("y").cast(d19)).cast(d38))
            .cast(d38)
            .alias("sxy"),
            F.sum((F.col("x").cast(d19) * F.col("x").cast(d19)).cast(d38))
            .cast(d38)
            .alias("sxx"),
            F.sum((F.col("y").cast(d19) * F.col("y").cast(d19)).cast(d38))
            .cast(d38)
            .alias("syy"),
        )
        n_d = F.col("n").cast(d38)
        num = n_d * F.col("sxy") - F.col("sx") * F.col("sy")
        vx = n_d * F.col("sxx") - F.col("sx") * F.col("sx")
        vy = n_d * F.col("syy") - F.col("sy") * F.col("sy")
        r = F.when(
            (F.col("n") < 2) | (vx == 0) | (vy == 0),
            F.lit(None).cast("double"),
        ).otherwise(
            num.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        )
        outs.append(
            m.select(
                *keys,
                F.lit(lag).cast("int").alias("lag"),
                F.col("n").alias("n_pairs"),
                r.alias("r"),
            )
        )
    return reduce(DataFrame.unionAll, outs)


def lead_lag_correlation(
    events: DataFrame,
    *,
    type_a: str,
    type_b: str,
    max_lag: int = 2,
) -> DataFrame:
    """Lead–lag cross-correlation between two event types' daily value
    series: Pearson r of (a[t], b[t + lag]) for lag ∈ [−max_lag,
    +max_lag] — the attribution/causality screen ("do clicks lead
    purchases by a day?"). A positive-lag peak means ``type_a`` LEADS
    ``type_b``.

    Exactness chain: the period series (module docstring) keyed by
    type; each lag's five moment sums accumulate as
    DECIMAL(38,0) over the aligned bucket pairs (the
    :func:`~kinesis_stream_spark.operators.profile.numeric_correlations`
    discipline), finals are two correctly-rounded sqrts + one pinned
    divide. Buckets where either side is absent are excluded pairwise
    (missing ≠ zero — gap days carry no observation); r is NULL when
    either aligned series is constant or fewer than 2 pairs align.

    Output per lag: (lag, n_pairs, r).

    Scale shape: ONE combinable (type, bucket) aggregate over the
    corpus collapses everything to two grid-bounded series; the lag
    loop is a workload constant (2·max_lag + 1 equi-joins on the
    bucket, each grid-sized); no windows, no corpus re-scan."""
    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0, got {max_lag}")
    daily = pin(
        _period_fx(
            events.where(F.col("event_type").isin([type_a, type_b])), "event_type"
        )
        # a bucket whose events all carry NULL values has no
        # observation (vfx NULL): drop it, or COUNT(*) in the moment
        # aggregate would count pairs the NULL-skipping SUMs exclude
        .where(F.col("vfx").isNotNull()),
        eager=False,
    )
    a = daily.where(F.col("key") == type_a).select(
        F.col("bucket").alias("ab"), F.col("vfx").alias("x")
    )
    b = daily.where(F.col("key") == type_b).select(
        F.col("bucket").alias("bb"), F.col("vfx").alias("y")
    )
    return _lag_correlations(
        lambda lag: a.join(b, F.col("ab") + lag == F.col("bb")),
        range(-max_lag, max_lag + 1),
    )


def sql_lead_lag_correlation(*, type_a: str, type_b: str, max_lag: int = 2) -> str:
    """DuckDB oracle twin of :func:`lead_lag_correlation`."""
    s = float(EWMA_SCALE)
    selects = []
    for lag in range(-max_lag, max_lag + 1):
        selects.append(
            f"""
        -- VARCHAR-routed HUGEINT -> DOUBLE: the direct cast truncates
        -- past 2^63 (operators/profile.py sql_numeric_correlations note)
        SELECT CAST({lag} AS INT) AS lag, n AS n_pairs,
               CASE WHEN n < 2
                      OR CAST(n AS HUGEINT) * sxx - sx * sx = 0
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
                 CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(y) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM (
            SELECT a.x, b.y
            FROM (SELECT bucket AS ab, vfx AS x FROM daily
                  WHERE t = '{type_a}') a
            JOIN (SELECT bucket AS bb, vfx AS y FROM daily
                  WHERE t = '{type_b}') b
              ON a.ab + {lag} = b.bb
          )
        )"""
        )
    body = " UNION ALL ".join(selects)
    return f"""
    WITH daily AS (
      SELECT event_type AS t, EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS vfx
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('{type_a}', '{type_b}')
      GROUP BY 1, 2
      HAVING CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) IS NOT NULL)
    {body}
    """


def strict_funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Strictly-ordered funnel with a PER-STEP time budget: a unit
    reaches step k+1 only with an event of that type STRICTLY AFTER
    its step-k completion and within one day of it — the
    conversion readout where "signed up, then purchased a month later"
    must NOT count. Earliest-completion semantics: each step binds to
    the unit's EARLIEST qualifying event (greedy, deterministic; the
    standard funnel contract).

    Output per step: (step_idx, step_name, n_units, conversion_ppm) —
    conversion is against step 1's cohort, integer ppm.

    Scale shape: step 1 is one combinable per-unit MIN over its type
    slice; each later step is one equi-join of the (unit-sized)
    previous-step frame against that step's type slice + a combinable
    MIN — k−1 joins total, every frame unit-sized after the first
    aggregate, predicate pushdown sends each type filter to the scan.
    NULL units/timestamps are excluded."""
    if len(steps) < 2:
        raise ValueError("steps must have at least 2 entries")
    base = events.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("unit"),
        F.col("event_type").alias("et"),
        _micros().alias("us"),
    )
    reached = [
        base.where(F.col("et") == steps[0])
        .groupBy("unit")
        .agg(F.min("us").alias("t"))
    ]
    for step in steps[1:]:
        prev = reached[-1]
        reached.append(
            base.where(F.col("et") == step)
            .join(prev.select("unit", F.col("t").alias("pt")), "unit")
            .where(
                (F.col("us") > F.col("pt"))
                & (F.col("us") <= F.col("pt") + DAY_US)
            )
            .groupBy("unit")
            .agg(F.min("us").alias("t"))
        )
    counts = [
        r.agg(F.count(F.lit(1)).cast("long").alias(f"n{i}"))
        for i, r in enumerate(reached)
    ]
    row = counts[0]
    for c in counts[1:]:
        row = row.crossJoin(c)
    outs = []
    for i, step in enumerate(steps):
        conv = F.when(F.col("n0") == 0, F.lit(None).cast("long")).otherwise(
            F.expr(f"cast(cast(n{i} as decimal(38,0)) * 1000000 div n0 as long)")
        )
        outs.append(
            row.select(
                F.lit(i + 1).cast("int").alias("step_idx"),
                F.lit(step).alias("step_name"),
                F.col(f"n{i}").alias("n_units"),
                conv.alias("conversion_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def sql_strict_funnel(*, steps: list[str]) -> str:
    """DuckDB oracle twin of :func:`strict_funnel`."""
    ctes = [
        """base AS (
      SELECT user_id AS unit, event_type AS et, EPOCH_US(ts) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL)""",
        f"""r0 AS (
      SELECT unit, MIN(us) AS t FROM base
      WHERE et = '{steps[0]}' GROUP BY unit)""",
    ]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"""r{i} AS (
      SELECT b.unit, MIN(b.us) AS t
      FROM base b JOIN r{i - 1} p USING (unit)
      WHERE b.et = '{step}' AND b.us > p.t
        AND b.us <= p.t + {DAY_US}
      GROUP BY b.unit)"""
        )
    ctes.append(
        "counts AS (SELECT "
        + ", ".join(
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM r{i}) AS n{i}"
            for i in range(len(steps))
        )
        + ")"
    )
    rows = " UNION ALL ".join(
        f"""SELECT CAST({i + 1} AS INT) AS step_idx,
           '{step}' AS step_name, n{i} AS n_units,
           CASE WHEN n0 = 0 THEN NULL
                ELSE CAST(CAST(n{i} AS HUGEINT) * 1000000 // n0 AS BIGINT)
           END AS conversion_ppm
        FROM counts"""
        for i, step in enumerate(steps)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


def ohlc_bars(events: DataFrame) -> DataFrame:
    """OHLC candlestick downsampling: per (key, bucket) the Open
    (value at the earliest event), High, Low, Close (value at the
    latest event), event count, and exact-decimal volume — the
    market-data resample every time-series store ships, and the
    lossy-but-shaped downsample that makes year-scale dashboards
    readable.

    Open/Close use the struct-extremum trick (MIN/MAX over
    (epoch_us, id, value) structs — one aggregate, no window), with
    the id as tiebreak so exact-timestamp ties resolve identically on
    both engines; High/Low/volume are plain MIN/MAX/DECIMAL-SUM.

    Scale shape: ONE map-side-combinable (key, bucket) aggregate over
    the corpus — no window, no join, no second pass. NULL timestamps
    are excluded by contract."""
    us = _micros()
    return (
        events.where(F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            _bucket(DAY_US).alias("bucket"),
            us.alias("us"),
            F.col("event_id").alias("eid"),
            F.col("value").alias("v"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.struct("us", "eid", "v")).getField("v").alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max(F.struct("us", "eid", "v")).getField("v").alias("close"),
            dsum("v", "volume"),
        )
    )


def sql_ohlc_bars() -> str:
    """DuckDB oracle twin of :func:`ohlc_bars` (identical struct
    extrema and decimal volume)."""
    return f"""
    SELECT event_type AS key, EPOCH_US(ts) // {DAY_US} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (MIN({{'us': EPOCH_US(ts), 'eid': event_id,
                  'v': value}})).v AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           (MAX({{'us': EPOCH_US(ts), 'eid': event_id,
                  'v': value}})).v AS close,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS volume
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """


def seasonal_residual_outliers(events: DataFrame) -> DataFrame:
    """Seasonally-adjusted robust outliers: subtract each row's
    (key, weekday-slot) baseline mean, then flag rows whose RESIDUAL
    deviates more than 3·MAD from the key's median residual — the
    upgrade of :func:`mad_outliers` for metrics with calendar shape,
    where a plain MAD rule either misses weekday anomalies or
    false-alarms every weekend (the Monday spike is normal; the
    Monday-sized spike on a Sunday is not).

    Baselines are the :func:`seasonal_profile` slots (epoch-day % 7 —
    convention-free across engines); the residual is one pinned
    subtract of the exact-decimal slot mean; median/MAD of residuals
    replay the :func:`mad_outliers` two-pass exact-percentile
    discipline. Output per flagged row: (id, key, dow_slot, value,
    baseline, residual, med_res, mad_res, score).

    Scale shape: one combinable (key, slot) aggregate for baselines
    (broadcast back — rows never shuffle), two per-key exact
    percentile passes on the residual, one broadcast flag join. NULL
    timestamps are excluded by contract; keys whose MAD is 0 flag
    nothing (degenerate scale — the mad_outliers convention)."""
    base = events.where(F.col("ts").isNotNull()).select(
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("key"),
        (_bucket(DAY_US) % 7).cast("int").alias("dow_slot"),
        F.col("value").alias("v"),
    )
    slots = base.groupBy("key", "dow_slot").agg(
        (
            F.sum(F.col("v").cast(DEC)).cast("double")
            / F.count(F.col("v")).cast("double")
        ).alias("baseline")
    )
    resid = base.join(F.broadcast(slots), ["key", "dow_slot"]).select(
        "eid",
        "key",
        "dow_slot",
        "v",
        "baseline",
        (F.col("v") - F.col("baseline")).alias("res"),
    )
    med = resid.groupBy("key").agg(
        _pct("res", 0.5).alias("med_res")
    )
    mad = (
        resid.join(F.broadcast(med), "key")
        .select("key", F.abs(F.col("res") - F.col("med_res")).alias("adev"))
        .groupBy("key")
        .agg(_pct("adev", 0.5).alias("mad_res"))
    )
    stats = med.join(mad, "key")
    return (
        resid.join(F.broadcast(stats), "key")
        # mad_res > 0 implements the documented degenerate-scale
        # contract AND keeps the score divide off Spark 4's ANSI
        # double/0 error path (DuckDB would yield inf instead —
        # guarding both engines identically pins parity)
        .where(
            (F.col("mad_res") > 0)
            & (
                F.abs(F.col("res") - F.col("med_res"))
                > F.lit(3.0) * F.col("mad_res")
            )
        )
        .select(
            F.col("eid").alias("event_id"),
            F.col("key").alias("event_type"),
            "dow_slot",
            F.col("v").alias("value"),
            "baseline",
            F.col("res").alias("residual"),
            "med_res",
            "mad_res",
            (
                (F.col("res") - F.col("med_res")) / F.col("mad_res")
            ).alias("score"),
        )
    )


def sql_seasonal_residual_outliers() -> str:
    """DuckDB oracle twin of :func:`seasonal_residual_outliers`."""
    return f"""
    WITH base AS (
      SELECT event_id AS eid, event_type AS key,
             CAST((EPOCH_US(ts) // {DAY_US}) % 7 AS INT) AS dow_slot,
             value AS v
      FROM events WHERE ts IS NOT NULL),
    slots AS (
      SELECT key, dow_slot,
             CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE)
               / CAST(COUNT(v) AS DOUBLE) AS baseline
      FROM base GROUP BY 1, 2),
    resid AS (
      SELECT b.eid, b.key, b.dow_slot, b.v, s.baseline,
             b.v - s.baseline AS res
      FROM base b JOIN slots s USING (key, dow_slot)),
    med AS (SELECT key, QUANTILE_CONT(res, 0.5) AS med_res
            FROM resid GROUP BY key),
    mad AS (
      SELECT r.key, QUANTILE_CONT(ABS(r.res - m.med_res), 0.5) AS mad_res
      FROM resid r JOIN med m USING (key) GROUP BY r.key),
    stats AS (SELECT med.key, med.med_res, mad.mad_res
              FROM med JOIN mad USING (key))
    SELECT r.eid AS event_id, r.key AS event_type, r.dow_slot,
           r.v AS value, r.baseline, r.res AS residual,
           s.med_res, s.mad_res,
           (r.res - s.med_res) / s.mad_res AS score
    FROM resid r JOIN stats s USING (key)
    WHERE s.mad_res > 0
      AND ABS(r.res - s.med_res) > 3.0 * s.mad_res
    """


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Per-key time-weighted average under last-observation-carried-
    forward (LOCF) semantics — the TSDB ``time_weight`` operator
    (TimescaleDB toolkit / InfluxDB integral): each observation's
    value holds until the next observation, so

        twa = Σ v_i · (t_{i+1} − t_i)  /  (t_N − t_1)

    over the key's observations in (ts, id) order. The plain AVG is
    wrong for irregularly sampled series — a sensor that reports
    1000× more often while idle drags AVG toward idle; TWA weights by
    holding time, not by report count.

    Output per key: (key, n_points, dur_us, vdt_sum, twa) where
    dur_us is the observed span in integer microseconds, vdt_sum the
    exact Σ v·Δt as a string (DECIMAL(38,6) — exact, for downstream
    re-aggregation), and twa one IEEE divide of the correctly-rounded
    doubles. Keys with < 2 observations have zero span: NULL twa by
    contract (lazily-evaluated CASE keeps the divide off Spark 4's
    ANSI double/0 path).

    Exactness: Δt is BIGINT microseconds (exact); v·Δt multiplies
    DECIMAL(19,6) by DECIMAL(19,0) — width 19 is deliberate on BOTH
    sides of the trade: width-18 operands keep DuckDB on its int64
    path, which OVERFLOWS on realistic v·Δt products, while 19+19
    lands exactly at DuckDB's width-38 multiply limit (int128 path,
    zero headroom — widening either operand breaks the oracle) and
    Spark caps the nominal 39 to (38,6). No double rounding anywhere
    before the final two casts; the DuckDB twin routes its
    DECIMAL→DOUBLE casts
    through VARCHAR (DuckDB's int128-backed cast truncates; strtod is
    correctly rounded, matching Spark's BigDecimal cast). NULL ts or
    NULL value rows are excluded by contract (a NULL has no position
    in LOCF order / no holdable value).

    Scale shape: one shuffle by key for the lead() window, then one
    combinable per-key aggregate — no joins, no second corpus pass;
    per-key work is linear in the key's rows."""
    w = Window.partitionBy("key").orderBy("ts_us", "eid")
    base = (
        events.where(
            F.col("ts").isNotNull() & F.col("value").isNotNull()
        )
        .select(
            F.col("event_type").alias("key"),
            _micros().alias("ts_us"),
            F.col("event_id").alias("eid"),
            F.col("value").cast("decimal(19,6)").alias("v"),
        )
        .withColumn("next_us", F.lead("ts_us").over(w))
    )
    agg = base.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.when(
                F.col("next_us").isNotNull(),
                F.col("v")
                * (F.col("next_us") - F.col("ts_us")).cast("decimal(19,0)"),
            )
        ).alias("vdt"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return agg.select(
        "key",
        "n_points",
        "dur_us",
        F.col("vdt").cast("string").alias("vdt_sum"),
        F.when(
            F.col("dur_us") > 0,
            F.col("vdt").cast("double") / F.col("dur_us").cast("double"),
        ).alias("twa"),
    )


def sql_time_weighted_avg() -> str:
    """DuckDB oracle twin of :func:`time_weighted_avg` (identical LOCF
    lead chain and decimal products; VARCHAR-routed double casts)."""
    return """
    WITH base AS (
      SELECT event_type AS key,
             EPOCH_US(ts) AS ts_us,
             event_id AS eid,
             CAST(value AS DECIMAL(19,6)) AS v,
             LEAD(EPOCH_US(ts)) OVER (
               PARTITION BY event_type
               ORDER BY EPOCH_US(ts), event_id) AS next_us
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL),
    agg AS (
      SELECT key,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             SUM(CASE WHEN next_us IS NOT NULL
                 THEN v * CAST(next_us - ts_us AS DECIMAL(19,0)) END) AS vdt,
             MAX(ts_us) - MIN(ts_us) AS dur_us
      FROM base GROUP BY 1)
    SELECT key, n_points, dur_us,
           CAST(vdt AS VARCHAR) AS vdt_sum,
           CASE WHEN dur_us > 0 THEN
             CAST(CAST(vdt AS VARCHAR) AS DOUBLE)
               / CAST(dur_us AS DOUBLE) END AS twa
    FROM agg
    """


def state_durations(events: DataFrame) -> DataFrame:
    """Time-in-state aggregate (the TSDB ``state_agg`` operator): each
    entity's event stream is an LOCF state machine — the entity is "in"
    a state from that event until its next event — and the output is,
    per state, the total dwell time across all entities plus interval
    counts and the integer-ppm share of all observed dwell time.

    Output: (state, n_intervals, total_us, share_ppm), integer end to
    end (microsecond arithmetic; ppm = ⌊10^6·total/grand⌋ in
    DECIMAL(38,0) — no overflow at any corpus size that fits BIGINT
    microseconds). Each entity's LAST event opens an interval with no
    close: censored, excluded from totals by contract (the
    Kaplan-Meier registration handles censoring where it matters).
    NULL entity/ts rows are excluded (no position in LOCF order).

    Scale shape: one shuffle by entity for the lead() window, one
    combinable per-state aggregate, one broadcast of the one-row grand
    total — per-entity work linear, no self-joins."""
    w = Window.partitionBy("ent").orderBy("ts_us", "eid")
    intervals = (
        events.where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .select(
            F.col("user_id").alias("ent"),
            F.col("event_type").alias("state"),
            _micros().alias("ts_us"),
            F.col("event_id").alias("eid"),
        )
        .withColumn("next_us", F.lead("ts_us").over(w))
        .where(F.col("next_us").isNotNull())
        .select("state", (F.col("next_us") - F.col("ts_us")).alias("dur"))
    )
    per_state = intervals.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur").alias("total_us"),
    )
    grand = per_state.agg(F.sum("total_us").alias("grand_us"))
    return per_state.join(F.broadcast(grand)).select(
        "state",
        "n_intervals",
        "total_us",
        # grand_us = 0 (every interval zero-length) leaves shares
        # undefined: NULL by contract, via lazily-evaluated CASE on
        # both engines (ANSI double-zero discipline)
        F.expr(
            "case when grand_us > 0 then"
            " cast(cast(total_us as decimal(38,0)) * 1000000"
            " div grand_us as long) end"
        ).alias("share_ppm"),
    )


def sql_state_durations() -> str:
    """DuckDB oracle twin of :func:`state_durations` (identical LOCF
    lead chain, closed-interval filter, and HUGEINT ppm floor)."""
    return """
    WITH iv AS (
      SELECT event_type AS state,
             LEAD(EPOCH_US(ts)) OVER (
               PARTITION BY user_id
               ORDER BY EPOCH_US(ts), event_id)
               - EPOCH_US(ts) AS dur
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    per_state AS (
      SELECT state, CAST(COUNT(*) AS BIGINT) AS n_intervals,
             CAST(SUM(dur) AS BIGINT) AS total_us
      FROM iv WHERE dur IS NOT NULL GROUP BY 1),
    grand AS (SELECT CAST(SUM(total_us) AS BIGINT) AS grand_us
              FROM per_state)
    SELECT s.state, s.n_intervals, s.total_us,
           CASE WHEN g.grand_us > 0 THEN
             CAST(CAST(s.total_us AS HUGEINT) * 1000000
                  // g.grand_us AS BIGINT)
           END AS share_ppm
    FROM per_state s CROSS JOIN grand g
    """


def autocorrelation(events: DataFrame, *, max_lag: int = 3) -> DataFrame:
    """Per-key autocorrelation function (ACF): Pearson r of
    (v[t], v[t + lag]) over the key's own daily value series for
    lag ∈ [1, max_lag] — the seasonality/persistence screen read
    before fitting any forecaster (a strong lag-7 spike says weekly
    shape; fast decay says the EWMA family suffices). The self-series
    twin of :func:`lead_lag_correlation`, sharing its exactness chain:
    the period series (module docstring), moment sums in
    DECIMAL(38,0), two correctly-rounded sqrts + one pinned divide per
    output; r is NULL when fewer than 2 pairs align or the aligned
    series is constant. Missing buckets are excluded pairwise (gap
    days carry no observation).

    Output: (key, lag, n_pairs, r), one row per key per lag.

    Scale shape: ONE combinable (key, bucket) aggregate collapses the
    corpus to grid-bounded series; each lag is one self-equi-join on
    (key, bucket+lag) over that tiny frame — the lag loop is a
    workload constant, never a corpus re-scan."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    daily = pin(
        _period_fx(events, "event_type").where(
            F.col("vfx").isNotNull()
        ),
        eager=False,
    )
    a = daily.select("key", F.col("bucket").alias("ab"), F.col("vfx").alias("x"))
    b = daily.select("key", F.col("bucket").alias("bb"), F.col("vfx").alias("y"))
    return _lag_correlations(
        lambda lag: a.join(b, ["key"]).where(F.col("ab") + lag == F.col("bb")),
        range(1, max_lag + 1),
        "key",
    )


def sql_autocorrelation(*, max_lag: int = 3) -> str:
    """DuckDB oracle twin of :func:`autocorrelation` (identical fx
    quantization, HUGEINT moments, VARCHAR-routed double casts)."""
    s = float(EWMA_SCALE)
    selects = []
    for lag in range(1, max_lag + 1):
        selects.append(
            f"""
        SELECT key, CAST({lag} AS INT) AS lag, n AS n_pairs,
               CASE WHEN n < 2
                      OR CAST(n AS HUGEINT) * sxx - sx * sx = 0
                      OR CAST(n AS HUGEINT) * syy - sy * sy = 0 THEN NULL
                    ELSE CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
                                   AS VARCHAR) AS DOUBLE)
                         / (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
                                           AS VARCHAR) AS DOUBLE))
                            * SQRT(CAST(CAST(CAST(n AS HUGEINT) * syy - sy * sy
                                             AS VARCHAR) AS DOUBLE)))
               END AS r
        FROM (
          SELECT a.key, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(a.vfx) AS HUGEINT) AS sx,
                 CAST(SUM(b.vfx) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(a.vfx AS HUGEINT) * b.vfx) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(a.vfx AS HUGEINT) * a.vfx) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(b.vfx AS HUGEINT) * b.vfx) AS HUGEINT) AS syy
          FROM daily a JOIN daily b
            ON a.key = b.key AND a.bucket + {lag} = b.bucket
          GROUP BY 1
        )"""
        )
    body = " UNION ALL ".join(selects)
    return f"""
    WITH daily AS (
      -- DuckDB integer `//` truncates toward zero exactly like Spark's
      -- `div` (verified on 1.0.0: -7 // 2 = -3), so the bucket grids
      -- agree even for pre-epoch timestamps; pinned by
      -- tests/test_round11_review_fixes.py::TestPreEpochBucketParity
      SELECT event_type AS key,
             EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS vfx
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY 1, 2
      HAVING CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) IS NOT NULL)
    {body}
    """


def interarrival_burstiness(events: DataFrame) -> DataFrame:
    """Per-key inter-arrival burstiness (Goh & Barabási 2008): from
    the gaps Δt between consecutive events, B = (σ − μ)/(σ + μ) —
    −1 for a perfectly regular stream, → 0 for Poisson, → 1 for
    extreme bursts — plus the coefficient of variation. The
    arrival-PROCESS anomaly screen next to the value-based detectors
    (a scraper firing metronome-regular requests scores B ≈ −1 while
    passing every volume rule).

    Exactness: gaps are BIGINT microseconds from the tie-free
    (ts, id) lag chain; ΣΔt and ΣΔt² accumulate in DECIMAL(38,0)
    (DuckDB HUGEINT), the variance numerator n·ΣΔt² − (ΣΔt)² stays
    exact, and the finals are VARCHAR-routed correctly-rounded double
    casts, one sqrt, two pinned divides. Keys with < 2 gaps, or a
    zero-duration stream, yield NULL stats via lazily-evaluated CASE.

    Output per key: (key, n_gaps, mean_gap_us, cv, burstiness).

    Scale shape: one shuffle by key for the lag window, one combinable
    per-key aggregate — no joins, no corpus re-scan."""
    w = Window.partitionBy("key").orderBy("ts_us", "eid")
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    gaps = (
        events.where(F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            _micros().alias("ts_us"),
            F.col("event_id").alias("eid"),
        )
        .withColumn("dt", F.col("ts_us") - F.lag("ts_us").over(w))
        .where(F.col("dt").isNotNull())
    )
    m = gaps.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dt").cast(d38).alias("sdt"),
        F.sum((F.col("dt").cast(d19) * F.col("dt").cast(d19)).cast(d38))
        .cast(d38)
        .alias("sdt2"),
    )
    n_d = F.col("n").cast(d38)
    var_num = n_d * F.col("sdt2") - F.col("sdt") * F.col("sdt")
    mean = F.col("sdt").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt(
        var_num.cast("double")
        / (F.col("n").cast("double") * F.col("n").cast("double"))
    )
    return m.select(
        "key",
        F.col("n").alias("n_gaps"),
        F.when(F.col("n") >= 1, mean).alias("mean_gap_us"),
        F.when((F.col("n") >= 2) & (F.col("sdt") > 0), sigma / mean).alias(
            "cv"
        ),
        F.when(
            (F.col("n") >= 2) & (var_num + F.col("sdt") * F.col("sdt") > 0),
            (sigma - mean) / (sigma + mean),
        ).alias("burstiness"),
    )


def sql_interarrival_burstiness() -> str:
    """DuckDB oracle twin of :func:`interarrival_burstiness`."""
    return """
    WITH gaps AS (
      SELECT event_type AS key,
             EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
               PARTITION BY event_type
               ORDER BY EPOCH_US(ts), event_id) AS dt
      FROM events WHERE ts IS NOT NULL),
    m AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dt) AS HUGEINT) AS sdt,
             CAST(SUM(CAST(dt AS HUGEINT) * dt) AS HUGEINT) AS sdt2
      FROM gaps WHERE dt IS NOT NULL GROUP BY 1)
    SELECT key, n AS n_gaps,
           CASE WHEN n >= 1 THEN
             CAST(CAST(sdt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           END AS mean_gap_us,
           CASE WHEN n >= 2 AND sdt > 0 THEN
             SQRT(CAST(CAST(CAST(n AS HUGEINT) * sdt2 - sdt * sdt
                            AS VARCHAR) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (CAST(CAST(sdt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           END AS cv,
           CASE WHEN n >= 2
                  AND CAST(n AS HUGEINT) * sdt2 - sdt * sdt
                      + sdt * sdt > 0 THEN
             (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sdt2 - sdt * sdt
                             AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              - CAST(CAST(sdt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             / (SQRT(CAST(CAST(CAST(n AS HUGEINT) * sdt2 - sdt * sdt
                             AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              + CAST(CAST(sdt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           END AS burstiness
    FROM m
    """


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM segmentation (Hughes 1994, the classic CRM model): per
    entity, Recency (µs from the entity's last conversion to the
    corpus's last conversion), Frequency (conversion count), Monetary
    (exact-decimal value sum), plus 1-5 quintile scores per dimension
    — 5 = best (most recent / most frequent / highest value).

    Scoring is threshold-based, not rank-based: the four exact
    p20/p40/p60/p80 boundaries of each dimension (computed over the
    per-entity frame, broadcast back) are compared against each
    entity's value with plain ``>`` — score = 1 + boundaries exceeded
    (recency inverted: 6 − that). Rank-based quintiles (ntile) would
    need a global sort AND make every score depend on tie placement;
    boundary compares are one broadcast + four comparisons per row,
    deterministic on any engine (percentile interpolation parity is
    pinned by the relational percentile oracles; ties sit on whichever
    side ``>`` puts them, identically everywhere).

    Output: (entity, recency_us, frequency, monetary, r_score,
    f_score, m_score). NULL entity/ts conversions are excluded by
    contract.

    Scale shape: one combinable per-entity aggregate over the filtered
    conversion scan, one 1-row global-max + one 4-boundary-per-
    dimension percentile aggregate on the PER-ENTITY frame (entity
    count, not event count), both broadcast back — rows never
    shuffle after the per-entity collapse."""
    conv = events.where(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.col("user_id").alias("ent"),
        _micros().alias("us"),
        F.col("value").alias("val"),
    )
    # COALESCE: an entity whose conversions all carry NULL values has
    # monetary 0, not NULL — otherwise the score compare degrades to
    # NULL on Spark while the oracle's CASE takes its ELSE branch
    per_ent = conv.groupBy("ent").agg(
        F.max("us").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.coalesce(
            F.sum(F.col("val").cast(DEC)).cast("double"), F.lit(0.0)
        ).alias("monetary"),
    )
    gmax = per_ent.agg(F.max("last_us").alias("gmax_us"))
    base = per_ent.join(F.broadcast(gmax)).select(
        "ent",
        (F.col("gmax_us") - F.col("last_us")).alias("recency_us"),
        "frequency",
        "monetary",
    )
    bounds = base.agg(
        *[
            F.expr(f"percentile({c}, {p!r})").alias(f"{a}{i}")
            for c, a in (
                ("recency_us", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8), 1)
        ]
    )

    def _score(col: str, prefix: str):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(col).cast("double") > F.col(f"{prefix}{i}")).cast(
                "int"
            )
        return s

    return base.join(F.broadcast(bounds)).select(
        F.col("ent").alias("user_id"),
        "recency_us",
        "frequency",
        "monetary",
        (F.lit(6) - _score("recency_us", "r")).cast("int").alias("r_score"),
        _score("frequency", "f").cast("int").alias("f_score"),
        _score("monetary", "m").cast("int").alias("m_score"),
    )


def sql_rfm_segments() -> str:
    """DuckDB oracle twin of :func:`rfm_segments` (identical boundary
    compares against QUANTILE_CONT p20/p40/p60/p80)."""

    def score(col: str, prefix: str) -> str:
        parts = " + ".join(
            f"CASE WHEN CAST({col} AS DOUBLE) > b.{prefix}{i}"
            " THEN 1 ELSE 0 END"
            for i in range(1, 5)
        )
        return f"(1 + {parts})"

    bounds_cols = ", ".join(
        f"QUANTILE_CONT({c}, {p!r}) AS {a}{i}"
        for c, a in (
            ("recency_us", "r"),
            ("frequency", "f"),
            ("monetary", "m"),
        )
        for i, p in enumerate((0.2, 0.4, 0.6, 0.8), 1)
    )
    return f"""
    WITH conv AS (
      SELECT user_id AS ent, EPOCH_US(ts) AS us,
             value AS val
      FROM events
      WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    per_ent AS (
      SELECT ent, MAX(us) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             COALESCE(CAST(SUM(CAST(val AS DECIMAL(27,6))) AS DOUBLE), 0.0)
               AS monetary
      FROM conv GROUP BY 1),
    gmax AS (SELECT MAX(last_us) AS gmax_us FROM per_ent),
    base AS (
      SELECT p.ent, g.gmax_us - p.last_us AS recency_us,
             p.frequency, p.monetary
      FROM per_ent p CROSS JOIN gmax g),
    b AS (SELECT {bounds_cols} FROM base)
    SELECT base.ent AS user_id, base.recency_us, base.frequency,
           base.monetary,
           CAST(6 - {score('base.recency_us', 'r')} AS INT) AS r_score,
           CAST({score('base.frequency', 'f')} AS INT) AS f_score,
           CAST({score('base.monetary', 'm')} AS INT) AS m_score
    FROM base CROSS JOIN b
    """


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Per-key Theil-Sen robust trend (Theil 1950 / Sen 1968): the
    MEDIAN of all pairwise slopes between the key's bucketed period
    sums. The robust sibling of :func:`linear_trend` — a single
    corrupted day drags an OLS slope arbitrarily far but moves the
    pairwise-slope median by at most one order statistic, which is why
    monitoring pipelines fit Theil-Sen next to OLS and alarm on
    disagreement.

    Exactness chain: the period series (module docstring); each
    pairwise slope is ONE pinned IEEE divide of two exactly-cast
    BIGINTs (Δyfx / Δx); the median is order-statistic selection (no
    accumulation), and an even pair count averages the two middle
    slopes with one more pinned IEEE step. Keys with a single occupied
    bucket have no pairs and are absent by contract.

    Output per key: (key, n_periods, n_pairs, sen_slope_fx, sen_slope)
    — sen_slope in value units per period (exact power-of-two divide
    of the fx median).

    Scale shape: the corpus-sized pass is the period-series
    aggregate; the pairwise self-join runs on the GRID-BOUNDED period
    frame (≤ calendar-days² rows per key — time buckets, not events,
    so corpus growth adds rows per bucket, not pairs), and the median
    window is key-partitioned. The oracle replays the identical pair
    frame and selection."""
    daily = _period_fx(events, "event_type").select(
        "key", F.col("bucket").alias("x"), F.col("vfx").alias("yfx")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.key") == F.col("b.key")) & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.key").alias("key"),
        (
            (F.col("b.yfx") - F.col("a.yfx")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope_fx"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    )
    w = Window.partitionBy("key").orderBy("slope_fx", "x1", "x2")
    ranked = pairs.select(
        "key",
        "slope_fx",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("key")).alias("np"),
    )
    med = (
        ranked.where(
            # odd np: the single middle element; even np: the two middles
            F.when(
                F.col("np") % 2 == 1,
                F.col("rn") == F.expr("(np + 1) div 2"),
            ).otherwise(
                (F.col("rn") == F.expr("np div 2"))
                | (F.col("rn") == F.expr("np div 2 + 1"))
            )
        )
        .groupBy("key")
        .agg(
            F.max("np").cast("long").alias("n_pairs"),
            # ≤ 2 rows per key: (min + max) / 2 — order-free, no
            # double→DECIMAL cast (dense doubles tie-round differently
            # across engines; _util module docstring)
            ((F.min("slope_fx") + F.max("slope_fx")) / F.lit(2.0)).alias(
                "sen_slope_fx"
            ),
        )
    )
    nper = daily.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_periods")
    )
    s = float(EWMA_SCALE)
    return med.join(nper, "key").select(
        "key",
        "n_periods",
        "n_pairs",
        "sen_slope_fx",
        (F.col("sen_slope_fx") / s).alias("sen_slope"),
    )


def sql_theil_sen_trend() -> str:
    """DuckDB oracle twin of :func:`theil_sen_trend` — identical fx
    pair frame, identical middle-element selection."""
    s = float(EWMA_SCALE)
    return f"""
    WITH daily AS (
      SELECT event_type AS key,
             CAST(EPOCH_US(ts) // {DAY_US} AS BIGINT) AS x,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS yfx
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    pairs AS (
      SELECT a.key,
             CAST(b.yfx - a.yfx AS DOUBLE)
               / CAST(b.x - a.x AS DOUBLE) AS slope_fx,
             a.x AS x1, b.x AS x2
      FROM daily a JOIN daily b ON a.key = b.key AND a.x < b.x),
    ranked AS (
      SELECT key, slope_fx,
             ROW_NUMBER() OVER (PARTITION BY key
               ORDER BY slope_fx, x1, x2) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS np
      FROM pairs),
    med AS (
      SELECT key, MAX(np) AS n_pairs,
             (MIN(slope_fx) + MAX(slope_fx)) / 2.0 AS sen_slope_fx
      FROM ranked
      WHERE CASE WHEN np % 2 = 1 THEN rn = (np + 1) // 2
                 ELSE rn = np // 2 OR rn = np // 2 + 1 END
      GROUP BY key),
    nper AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n_periods
      FROM daily GROUP BY key)
    SELECT key, n_periods, n_pairs, sen_slope_fx,
           sen_slope_fx / {s!r} AS sen_slope
    FROM med JOIN nper USING (key)
    """


def mix_shift(events: DataFrame) -> DataFrame:
    """Population-mix drift audit between the observed span's first
    and second halves — the integer-exact screen behind a PSI
    (population stability index) alarm. PSI's (p−q)·ln(p/q) term needs
    a transcendental whose last-ulp rounding differs between the JVM's
    ``Math.log`` intrinsic and DuckDB's libm (this repo's pow-vs-sqrt
    lesson, _util docstring), so the cross-engine surface reports the
    exact ingredients instead: per key, its integer-ppm share of each
    half, the share delta, and the relative-rate ratio — monitoring
    thresholds on |delta_ppm| / ratio_ppm are what PSI thresholds
    reduce to per-bucket anyway.

    The split point is the midpoint of the observed timestamp span
    (floor-integer microseconds), NOT a row-count median — a volume
    spike then shows up as a share shift instead of silently moving
    the boundary. Keys present in only one half still emit a row
    (the drift a PSI most needs to see is a category appearing or
    vanishing); NULL timestamps are excluded by the family contract.

    Output per key: (key, n_before, n_after, p_ppm, q_ppm, delta_ppm,
    rate_ratio_ppm) — p/q are the key's ppm share of the before/after
    half; rate_ratio_ppm = ⌊10^6·(q/p)⌋ via exact DECIMAL(38,0) cross
    multiplication, NULL when the key is absent before (new category)
    or a half is empty.

    Scale shape: one 2-row global min/max aggregate (broadcast), one
    map-side-combinable per-key conditional count, one broadcast
    1-row totals join — no window, no self-join, no per-row state."""
    d38 = "decimal(38,0)"
    ev = events.where(F.col("ts").isNotNull()).select(
        F.col("event_type").alias("key"),
        _micros().alias("us"),
    )
    span = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid_us")
    )
    halved = ev.crossJoin(F.broadcast(span)).select(
        "key", (F.col("us") <= F.col("mid_us")).alias("before")
    )
    per = halved.groupBy("key").agg(
        F.sum(F.when(F.col("before"), 1).otherwise(0))
        .cast("long")
        .alias("n_before"),
        F.sum(F.when(F.col("before"), 0).otherwise(1))
        .cast("long")
        .alias("n_after"),
    )
    tot = per.agg(
        F.sum("n_before").cast("long").alias("t_before"),
        F.sum("n_after").cast("long").alias("t_after"),
    )
    j = per.crossJoin(F.broadcast(tot))
    p_ppm = F.when(
        F.col("t_before") > 0,
        F.expr(f"cast(cast(n_before as {d38}) * 1000000 div t_before as long)"),
    )
    q_ppm = F.when(
        F.col("t_after") > 0,
        F.expr(f"cast(cast(n_after as {d38}) * 1000000 div t_after as long)"),
    )
    ratio = F.when(
        (F.col("n_before") > 0) & (F.col("t_after") > 0),
        F.expr(
            f"cast(cast(n_after as {d38}) * t_before * 1000000"
            f" div (cast(n_before as {d38}) * t_after) as long)"
        ),
    )
    return j.select(
        "key",
        "n_before",
        "n_after",
        p_ppm.alias("p_ppm"),
        q_ppm.alias("q_ppm"),
        (q_ppm - p_ppm).alias("delta_ppm"),
        ratio.alias("rate_ratio_ppm"),
    )


def sql_mix_shift() -> str:
    """DuckDB oracle twin of :func:`mix_shift` — identical midpoint,
    conditional counts, and HUGEINT ppm arithmetic."""
    return """
    WITH ev AS (
      SELECT event_type AS key, EPOCH_US(ts) AS us
      FROM events WHERE ts IS NOT NULL),
    span AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev),
    per AS (
      SELECT key,
             CAST(SUM(CASE WHEN us <= mid_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN us <= mid_us THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_after
      FROM ev CROSS JOIN span GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_before) AS BIGINT) AS t_before,
             CAST(SUM(n_after) AS BIGINT) AS t_after
      FROM per)
    SELECT key, n_before, n_after,
           CASE WHEN t_before > 0 THEN
             CAST(CAST(n_before AS HUGEINT) * 1000000 // t_before AS BIGINT)
           END AS p_ppm,
           CASE WHEN t_after > 0 THEN
             CAST(CAST(n_after AS HUGEINT) * 1000000 // t_after AS BIGINT)
           END AS q_ppm,
           CASE WHEN t_after > 0 THEN
             CAST(CAST(n_after AS HUGEINT) * 1000000 // t_after AS BIGINT)
           END
           - CASE WHEN t_before > 0 THEN
               CAST(CAST(n_before AS HUGEINT) * 1000000 // t_before AS BIGINT)
             END AS delta_ppm,
           CASE WHEN n_before > 0 AND t_after > 0 THEN
             CAST(CAST(n_after AS HUGEINT) * t_before * 1000000
                  // (CAST(n_before AS HUGEINT) * t_after) AS BIGINT)
           END AS rate_ratio_ppm
    FROM per CROSS JOIN tot
    """


MARKOV_SCALE = 1 << 40


def markov_stationary(events: DataFrame, *, iterations: int = 5) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain — where
    the :func:`transition_matrix` process settles if it runs forever,
    i.e. the long-run share of attention each state captures (the
    "steady-state mix" a capacity planner or next-action model prices
    against the CURRENT mix; compare with :func:`mix_shift` for the
    observed drift).

    Power iteration in the PageRank integer fixed point
    (operators/graph.py discipline, MARKOV_SCALE = 2^40):

        π⁰(s)   = SCALE div K                       (K observed states)
        c(s→s') = (π(s) · n(s→s')) div n_out(s)      per matrix cell
        D       = (Σ_{n_out(s)=0} π(s)) div K        absorbing mass
        π'(s')  = D + Σ_s c(s→s')

    Floor division leaks a bounded few 2^-40 quanta per round (the
    deterministic price of exactness — the PageRank trade); states
    with no observed out-transitions redistribute uniformly, the
    dangling-node rule. Every round replays bit-identically in the
    unrolled-CTE oracle.

    Output per state: (state, pi_fx BIGINT, pi double = pi_fx/2^40),
    one row per state observed in the transition frame.

    Scale shape: the corpus-sized work is the per-entity lag window
    that builds the transition counts (ONE pass, the
    :func:`transition_matrix` shape, checkpointed once); each round is
    a join over the |states|²-row matrix — matrix-sized, not
    corpus-sized, so the fixed-round loop costs nothing at any SF.
    π(s)·n(s→s') runs in DECIMAL(38,0)/HUGEINT (π ≤ 2^40 times a
    corpus-scale count overflows BIGINT)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    d38 = "decimal(38,0)"
    w = Window.partitionBy("user_id").orderBy(
        _micros(),
        F.col("event_id").asc_nulls_last(),
    )
    steps = (
        events.where(F.col("ts").isNotNull())
        .select(
            F.lag("event_type").over(w).alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .where(
            F.col("from_state").isNotNull() & F.col("to_state").isNotNull()
        )
    )
    counts = pin(
        steps.groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    states = (
        counts.select(F.col("from_state").alias("s"))
        .unionAll(counts.select(F.col("to_state").alias("s")))
        .distinct()
    )
    outs = counts.groupBy(F.col("from_state").alias("s")).agg(
        F.sum("n").cast("long").alias("n_out")
    )
    kk = states.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = states.crossJoin(F.broadcast(kk)).select(
        "s", F.expr(f"{MARKOV_SCALE} div k").cast("long").alias("pi_fx")
    )
    for _ in range(iterations):
        contribs = (
            counts.join(
                pi.select(F.col("s").alias("from_state"), "pi_fx"),
                "from_state",
            )
            .join(
                outs.select(F.col("s").alias("from_state"), "n_out"),
                "from_state",
            )
            .select(
                F.col("to_state").alias("s"),
                F.expr(
                    f"cast(cast(pi_fx as {d38}) * n div n_out as long)"
                ).alias("c"),
            )
            .groupBy("s")
            .agg(F.sum("c").cast("long").alias("csum"))
        )
        dang = (
            pi.join(outs, "s", "left_anti")
            .agg(F.coalesce(F.sum("pi_fx"), F.lit(0)).cast("long").alias("ds"))
        )
        # lazy lineage cut: without it each round's plan nests the
        # previous round's twice (contribs + dang), exploding
        # optimizer time exponentially in rounds. Blocks are
        # |states|-sized and bounded by the fixed round count, so
        # no release pass is needed (unlike the node-sized
        # PageRank checkpoints).
        pi = pin(
            states.join(contribs, "s", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(kk))
            .select(
                "s",
                F.expr("ds div k + coalesce(csum, 0)")
                .cast("long")
                .alias("pi_fx"),
            ),
            eager=False,
        )
    s = float(MARKOV_SCALE)
    return pi.select(
        F.col("s").alias("state"),
        "pi_fx",
        (F.col("pi_fx").cast("double") / F.lit(s)).alias("pi"),
    )


def sql_markov_stationary(*, iterations: int = 5) -> str:
    """DuckDB oracle twin of :func:`markov_stationary` — the identical
    integer rounds unrolled as CTEs."""
    s = float(MARKOV_SCALE)
    ctes = [
        """steps AS (
          SELECT LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY EPOCH_US(ts), event_id NULLS LAST)
                   AS from_state,
                 event_type AS to_state
          FROM events WHERE ts IS NOT NULL)""",
        """counts AS (
          SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
          FROM steps
          WHERE from_state IS NOT NULL AND to_state IS NOT NULL
          GROUP BY 1, 2)""",
        """states AS (
          SELECT from_state AS st FROM counts
          UNION SELECT to_state FROM counts)""",
        """outs AS (
          SELECT from_state AS st, CAST(SUM(n) AS BIGINT) AS n_out
          FROM counts GROUP BY 1)""",
        "kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states)",
        f"""p0 AS (
          SELECT st, CAST({MARKOV_SCALE} // k AS BIGINT) AS pi_fx
          FROM states CROSS JOIN kk)""",
    ]
    for i in range(iterations):
        ctes.append(
            f"""c{i} AS (
              SELECT c.to_state AS st,
                     CAST(SUM(CAST(p.pi_fx AS HUGEINT) * c.n // o.n_out)
                          AS BIGINT) AS csum
              FROM counts c
              JOIN p{i} p ON p.st = c.from_state
              JOIN outs o ON o.st = c.from_state
              GROUP BY 1)""",
        )
        ctes.append(
            f"""d{i} AS (
              SELECT CAST(COALESCE(SUM(p.pi_fx), 0) AS BIGINT) AS ds
              FROM p{i} p LEFT JOIN outs o ON o.st = p.st
              WHERE o.st IS NULL)""",
        )
        ctes.append(
            f"""p{i + 1} AS (
              SELECT s.st,
                     CAST(d.ds // k.k + COALESCE(c.csum, 0) AS BIGINT)
                       AS pi_fx
              FROM states s
              LEFT JOIN c{i} c ON c.st = s.st
              CROSS JOIN d{i} d CROSS JOIN kk k)""",
        )
    return (
        "WITH " + ", ".join(ctes)
        + f""" SELECT st AS state, pi_fx,
                 CAST(pi_fx AS DOUBLE) / {s!r} AS pi
               FROM p{iterations}"""
    )


def changepoint(events: DataFrame) -> DataFrame:
    """Per-key single-changepoint detection (binary segmentation, the
    first split of Scott & Knott / standard BinSeg): over the key's
    bucketed period sums in time order, find the split that maximizes
    the between-segment contrast

        score(t) = (n_r·S_l − n_l·S_r)² / (n_l·n_r)

    — the square of the scaled mean difference, ∝ the between-group
    sum of squares the F statistic tests. CUSUM (:func:`cusum`) ALARMS
    that a drift happened; this LOCATES the single break ("which day
    did the metric change regime").

    Cross-engine exactness: the period series (module docstring);
    prefix sums S_l ride a key-partitioned window
    in exact DECIMAL(38,0); the contrast numerator n_r·S_l − n_l·S_r
    stays DECIMAL(38,0) exact; its square would overflow any integer
    width, so the score is ONE pinned per-row IEEE chain
    (VARCHAR-routed num → double, squared, divided by n_l·n_r) —
    identical inputs, identical instructions, identical doubles. The
    argmax is a row_number selection on (score DESC, t ASC) — a
    deterministic order on deterministic doubles. Keys with < 2
    occupied buckets have no valid split and are absent.

    Output per key: (key, n_periods, cp_index, cp_bucket, mean_before,
    mean_after, score) — cp_index = periods in the left segment (split
    is AFTER position cp_index), cp_bucket = the bucket id of the last
    pre-break period; means in value units (exact fx divides).

    Scale shape: the period-series aggregate over the corpus, then
    key-PARTITIONED windows on the grid-bounded period frame (≤
    calendar buckets per key) — no self-join (the prefix-sum identity
    S_r = S − S_l does the work the pairwise Theil-Sen join needs), no
    global window, no driver math."""
    d38 = "decimal(38,0)"
    daily = _period_fx(events, "event_type").withColumnRenamed("vfx", "yfx")
    w_ord = Window.partitionBy("key").orderBy("bucket")
    w_all = Window.partitionBy("key")
    per = daily.select(
        "key",
        "bucket",
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.sum(F.col("yfx").cast(d38))
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast(d38)
        .alias("sl"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum(F.col("yfx").cast(d38)).over(w_all).cast(d38).alias("s"),
    )
    cand = per.where(F.col("t") < F.col("n")).select(
        "key",
        "bucket",
        "t",
        "n",
        "sl",
        (F.col("s") - F.col("sl")).alias("sr"),
        (
            F.expr(
                "cast(cast(cast(n - t as decimal(38,0)) * sl"
                " - cast(t as decimal(38,0)) * (s - sl)"
                " as string) as double)"
            )
        ).alias("num_d"),
    )
    scored = cand.select(
        "key",
        "bucket",
        "t",
        "n",
        "sl",
        "sr",
        (
            F.col("num_d")
            * F.col("num_d")
            / (F.col("t").cast("double") * (F.col("n") - F.col("t")).cast("double"))
        ).alias("score"),
    )
    w_best = Window.partitionBy("key").orderBy(
        F.desc("score"), F.asc("t")
    )
    s = float(EWMA_SCALE)
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select(
            "key",
            F.col("n").alias("n_periods"),
            F.col("t").alias("cp_index"),
            F.col("bucket").alias("cp_bucket"),
            (
                F.expr("cast(cast(sl as string) as double)")
                / (F.col("t").cast("double") * F.lit(s))
            ).alias("mean_before"),
            (
                F.expr("cast(cast(sr as string) as double)")
                / ((F.col("n") - F.col("t")).cast("double") * F.lit(s))
            ).alias("mean_after"),
            "score",
        )
    )


def sql_changepoint() -> str:
    """DuckDB oracle twin of :func:`changepoint` — identical fx
    encoding, HUGEINT prefix sums, pinned score chain, same argmax."""
    s = float(EWMA_SCALE)
    return f"""
    WITH daily AS (
      SELECT event_type AS key,
             CAST(EPOCH_US(ts) // {DAY_US} AS BIGINT) AS bucket,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS yfx
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    per AS (
      SELECT key, bucket,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
             CAST(SUM(CAST(yfx AS HUGEINT)) OVER (
               PARTITION BY key ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS HUGEINT) AS sl,
             CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n,
             CAST(SUM(CAST(yfx AS HUGEINT)) OVER (PARTITION BY key)
               AS HUGEINT) AS s
      FROM daily
      WINDOW w AS (PARTITION BY key ORDER BY bucket)),
    cand AS (
      SELECT key, bucket, t, n, sl, s - sl AS sr,
             CAST(CAST(CAST(n - t AS HUGEINT) * sl
                       - CAST(t AS HUGEINT) * (s - sl)
                       AS VARCHAR) AS DOUBLE) AS num_d
      FROM per WHERE t < n),
    scored AS (
      SELECT key, bucket, t, n, sl, sr,
             num_d * num_d
               / (CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE)) AS score
      FROM cand),
    best AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY key ORDER BY score DESC, t) AS rn
      FROM scored)
    SELECT key, n AS n_periods, t AS cp_index, bucket AS cp_bucket,
           CAST(CAST(sl AS VARCHAR) AS DOUBLE)
             / (CAST(t AS DOUBLE) * {s!r}) AS mean_before,
           CAST(CAST(sr AS VARCHAR) AS DOUBLE)
             / (CAST(n - t AS DOUBLE) * {s!r}) AS mean_after,
           score
    FROM best WHERE rn = 1
    """


def anomaly_episodes(events: DataFrame) -> DataFrame:
    """Per-key anomaly EPISODES: maximal runs of consecutive periods
    whose value sum exceeds 3/2 × the key's mean
    period sum — the detector outputs an incident LIST (start, end,
    duration, peak), which is what gets paged on and post-mortemed;
    the point detectors (:func:`mad_outliers`,
    :func:`seasonal_residual_outliers`) flag rows, this stitches them
    into incidents. Consecutiveness is calendar-strict: a quiet gap
    day (even one with NO data) ends the episode — bucket−rank
    islands over the flagged frame, the gaps-and-islands id that
    needs no lag chain.

    Flagging is integer-exact: the period series (module docstring),
    and the threshold compare runs as
    2·n·yfx > 3·Σy in DECIMAL(38,0) cross-multiplication — no
    mean is ever materialized, no division anywhere in the predicate.
    Peak value is the episode's max fx, exact power-of-two divide to
    value units.
    Keys whose total is non-positive flag nothing (a mean-multiple
    threshold is meaningless below zero — the MAD family handles
    those; lazily-guarded on both engines).

    Output per episode: (key, start_bucket, end_bucket, n_periods,
    peak_value).

    Scale shape: the period-series aggregate, a broadcastable per-key
    totals join, a key-partitioned rank window over the FLAGGED subset
    only, one combinable island reduce."""
    d38 = "decimal(38,0)"
    daily = _period_fx(events, "event_type").withColumnRenamed("vfx", "yfx")
    tot = daily.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("yfx").cast(d38)).cast(d38).alias("s"),
    )
    flagged = daily.join(tot, "key").where(
        (F.col("s") > 0)
        & (
            F.col("yfx").cast(d38) * F.col("n") * 2
            > F.col("s") * 3
        )
    )
    w = Window.partitionBy("key").orderBy("bucket")
    runs = flagged.select(
        "key",
        "bucket",
        "yfx",
        (F.col("bucket") - F.row_number().over(w)).alias("island"),
    )
    return runs.groupBy("key", "island").agg(
        F.min("bucket").alias("start_bucket"),
        F.max("bucket").alias("end_bucket"),
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        (F.max("yfx").cast("double") / F.lit(float(EWMA_SCALE))).alias(
            "peak_value"
        ),
    ).drop("island")


def sql_anomaly_episodes() -> str:
    """DuckDB oracle twin of :func:`anomaly_episodes`."""
    s = float(EWMA_SCALE)
    return f"""
    WITH daily AS (
      SELECT event_type AS key,
             CAST(EPOCH_US(ts) // {DAY_US} AS BIGINT) AS bucket,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS yfx
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(yfx AS HUGEINT)) AS HUGEINT) AS s
      FROM daily GROUP BY 1),
    flagged AS (
      SELECT d.key, d.bucket, d.yfx
      FROM daily d JOIN tot t ON d.key = t.key
      WHERE t.s > 0
        AND CAST(d.yfx AS HUGEINT) * t.n * 2
            > t.s * 3),
    runs AS (
      SELECT key, bucket, yfx,
             bucket - ROW_NUMBER() OVER (
               PARTITION BY key ORDER BY bucket) AS island
      FROM flagged)
    SELECT key, MIN(bucket) AS start_bucket, MAX(bucket) AS end_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_periods,
           CAST(MAX(yfx) AS DOUBLE) / {s!r} AS peak_value
    FROM runs GROUP BY key, island
    """


WEEK_US = 7 * DAY_US


def cohort_ltv(events: DataFrame) -> DataFrame:
    """Cohort lifetime-value curve: entities cohorted by their FIRST
    conversion week, each cohort's per-age revenue and its running
    cumulative — the LTV triangle finance reads payback periods off.
    The revenue companion of the retention matrix (cohort retention
    counts who came back; this sums what they spent, cumulatively).

    Cross-engine exactness: revenue lands in exact integer micro-units
    (DECIMAL(27,6) sum × 10^6, the ABC/Gini discipline); active
    counts are exact distincts; the cumulative rides a
    cohort-partitioned window over the cohort×age grid — all integer.
    NULL entity/ts conversions are excluded (the RFM contract); NULL
    values count as zero revenue but keep the entity active.

    Output per (cohort, age): (cohort_week, age_weeks, n_active,
    revenue_micro, cum_revenue_micro).

    Scale shape: one conversion-filtered scan → per-entity min-bucket
    (combinable) → entity-keyed join back (the cohort assignment, the
    one shuffle the triangle needs) → (cohort, age) combinable
    aggregate → a window over the GRID-SIZED frame (weeks², not
    rows)."""
    d38 = "decimal(38,0)"
    conv = events.where(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.col("user_id").alias("ent"),
        _bucket(WEEK_US).cast("long").alias("week"),
        F.col("value").alias("val"),
    )
    first = conv.groupBy("ent").agg(F.min("week").alias("cohort_week"))
    aged = conv.join(first, "ent").select(
        "ent",
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("age_weeks"),
        "val",
    )
    grid = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count_distinct("ent").cast("long").alias("n_active"),
        F.coalesce(
            F.expr(
                f"cast(sum(cast(val as decimal(27,6))) * 1000000 as {d38})"
            ),
            F.lit(0).cast(d38),
        ).alias("revenue_micro"),
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # BIGINT presentation casts (the ABC precedent): micro-unit sums
    # accumulate in DECIMAL(38,0)/HUGEINT internally, but the OUTPUT
    # lands in BIGINT on both engines so the driver's pandas frames
    # carry identical integer dtypes (a Decimal/HUGEINT output column
    # upcasts differently per engine)
    return grid.select(
        "cohort_week",
        "age_weeks",
        "n_active",
        F.col("revenue_micro").cast("long").alias("revenue_micro"),
        F.sum("revenue_micro").over(w).cast("long").alias(
            "cum_revenue_micro"
        ),
    )


def sql_cohort_ltv() -> str:
    """DuckDB oracle twin of :func:`cohort_ltv`."""
    return f"""
    WITH conv AS (
      SELECT user_id AS ent,
             CAST(EPOCH_US(ts) // {WEEK_US} AS BIGINT) AS week,
             value AS val
      FROM events
      WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    first AS (SELECT ent, MIN(week) AS cohort_week FROM conv GROUP BY 1),
    aged AS (
      SELECT c.ent, f.cohort_week, c.week - f.cohort_week AS age_weeks,
             c.val
      FROM conv c JOIN first f ON c.ent = f.ent),
    grid AS (
      SELECT cohort_week, age_weeks,
             CAST(COUNT(DISTINCT ent) AS BIGINT) AS n_active,
             CAST(COALESCE(SUM(CAST(val AS DECIMAL(27,6))) * 1000000, 0)
                  AS HUGEINT) AS revenue_micro
      FROM aged GROUP BY 1, 2)
    SELECT cohort_week, age_weeks, n_active,
           CAST(revenue_micro AS BIGINT) AS revenue_micro,
           CAST(SUM(revenue_micro) OVER (
             PARTITION BY cohort_week ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_revenue_micro
    FROM grid
    """


#: idle gap that ends a session in :func:`session_stats` (30 minutes)
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_stats(events: DataFrame) -> DataFrame:
    """Daily session-quality rollup from idle-gap sessionization: per
    day (of session start), session count, bounce count and rate
    (single-event sessions), exact total/closed duration, and events
    per session — the landing-page dashboard row. The BATCH twin of
    the streaming session_window path (streaming/windows.py), built on
    the repo's standard lag chain: a session breaks after
    ``SESSION_GAP_US`` of silence, sessions are numbered per entity by a
    running sum of break flags.

    Cross-engine exactness: everything is integer microseconds and
    counts; the one ratio is ⌊10^6·bounces/sessions⌋; events-per-
    session is ⌊10³·events/sessions⌋ (milli). The lag/order contract
    is the :func:`transition_matrix` one — (epoch µs, id NULLS LAST)
    tie-free ordering, NULL timestamps excluded, NULL entities
    excluded (no identity to sessionize).

    Output per day: (day, n_sessions, n_bounces, bounce_ppm,
    n_events, events_per_session_milli, total_duration_us).

    Scale shape: ONE shuffle on the entity key powers both windows
    (lag flag + running session number — same partitioning); the
    per-session reduce and the per-day reduce are combinable. No
    self-join, no global window."""
    d38 = "decimal(38,0)"
    w = Window.partitionBy("ent").orderBy("us", F.col("eid").asc_nulls_last())
    ev = events.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("ent"),
        _micros().alias("us"),
        F.col("event_id").alias("eid"),
    )
    flagged = ev.select(
        "ent",
        "us",
        "eid",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    numbered = flagged.select(
        "ent",
        "us",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    sessions = numbered.groupBy("ent", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("us").alias("start_us"),
        (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
    )
    daily = sessions.groupBy(
        F.expr(f"start_us div {DAY_US}").cast("long").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("dur_us").cast("long").alias("total_duration_us"),
    )
    return daily.select(
        "day",
        "n_sessions",
        "n_bounces",
        F.expr(
            f"cast(cast(n_bounces as {d38}) * 1000000 div n_sessions as long)"
        ).alias("bounce_ppm"),
        "n_events",
        F.expr(
            f"cast(cast(n_events as {d38}) * 1000 div n_sessions as long)"
        ).alias("events_per_session_milli"),
        "total_duration_us",
    )


def sql_session_stats() -> str:
    """DuckDB oracle twin of :func:`session_stats`."""
    return f"""
    WITH ev AS (
      SELECT user_id AS ent, EPOCH_US(ts) AS us,
             event_id AS eid
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    flagged AS (
      SELECT ent, us, eid,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM ev
      WINDOW w AS (PARTITION BY ent ORDER BY us, eid NULLS LAST)),
    numbered AS (
      SELECT ent, us,
             SUM(brk) OVER (PARTITION BY ent ORDER BY us, eid NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged),
    sessions AS (
      SELECT ent, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(us) AS start_us,
             CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
      FROM numbered GROUP BY 1, 2),
    daily AS (
      SELECT CAST(start_us // {DAY_US} AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(SUM(dur_us) AS BIGINT) AS total_duration_us
      FROM sessions GROUP BY 1)
    SELECT day, n_sessions, n_bounces,
           CAST(CAST(n_bounces AS HUGEINT) * 1000000 // n_sessions
                AS BIGINT) AS bounce_ppm,
           n_events,
           CAST(CAST(n_events AS HUGEINT) * 1000 // n_sessions AS BIGINT)
             AS events_per_session_milli,
           total_duration_us
    FROM daily
    """


def rolling_regression(events: DataFrame, *, window_rows: int = 7) -> DataFrame:
    """Per-key ROLLING ordinary-least-squares trend: at every occupied
    bucket, the OLS slope of the key's last ``window_rows`` occupied
    period sums — the time-local refinement of :func:`linear_trend`
    (one slope per key over its whole history) into the trend FEATURE
    a monitoring or feature pipeline consumes ("is this metric rising
    THIS week?"), with the same closed form

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    evaluated over a sliding ROWS frame instead of the key's history.
    Gapped keys keep their true bucket offsets (x is position on the
    time grid, not row number), so a key silent for a month doesn't
    fake a gentle slope.

    Exactness chain: :func:`linear_trend`'s — the period series and
    its x offsets, per-row BIGINT products x·yfx and x·x BEFORE the
    window, exact BIGINT window sums, DECIMAL(38,0) closed-form
    numerator/denominator, and ONLY then the pinned divides (num/den,
    then the 2^-20 rescale). The oracle replays the identical frame
    (ROWS BETWEEN n−1 PRECEDING AND CURRENT ROW over x, which is
    unique per key — tie-free). Windows holding a single row emit NULL
    slope (den = 0) by contract.

    Output per (key, bucket): (key, bucket, n_win, window_sum_fx,
    slope) — slope in value units per period.

    Scale shape: the period-series aggregate over the corpus, then two
    windows over the PERIOD frame (days × keys rows,
    corpus-independent): the key-partitioned MIN for offsets and the
    rolling moment sums. No self-join, no per-row state, no second
    corpus pass. Headroom: x is grid-sized (≤ days of history),
    yfx ≤ 2^20·Σ|value|/day — x·yfx stays inside BIGINT to ~10^4 days
    of ~10^14-fx daily mass."""
    per = _x_offsets(_period_fx(events, "event_type")).select(
        "key",
        "bucket",
        "x",
        "yfx",
        (F.col("x") * F.col("yfx")).cast("long").alias("xy"),
        (F.col("x") * F.col("x")).cast("long").alias("xx"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("x")
        .rowsBetween(-(window_rows - 1), 0)
    )
    m = per.select(
        "key",
        "bucket",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("yfx").over(w).cast("long").alias("sy"),
        F.sum("xy").over(w).cast("long").alias("sxy"),
        F.sum("xx").over(w).cast("long").alias("sxx"),
    )
    d38 = "decimal(38,0)"
    n_d = F.col("n").cast(d38)
    num = n_d * F.col("sxy").cast(d38) - F.col("sx").cast(d38) * F.col(
        "sy"
    ).cast(d38)
    den = n_d * F.col("sxx").cast(d38) - F.col("sx").cast(d38) * F.col(
        "sx"
    ).cast(d38)
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        num.cast("double") / den.cast("double") / F.lit(float(EWMA_SCALE))
    )
    return m.select(
        "key",
        "bucket",
        F.col("n").alias("n_win"),
        F.col("sy").alias("window_sum_fx"),
        slope.alias("slope"),
    )


def sql_rolling_regression(*, window_rows: int = 7) -> str:
    """DuckDB oracle twin of :func:`rolling_regression` (HUGEINT
    num/den routed through VARCHAR for the correctly-rounded double —
    the profiler's int128→double note)."""
    return f"""
    WITH daily AS (
      -- DuckDB integer `//` truncates toward zero exactly like Spark's
      -- `div` (verified on 1.0.0: -7 // 2 = -3), so the bucket grids
      -- agree even for pre-epoch timestamps; pinned by
      -- tests/test_round11_review_fixes.py::TestPreEpochBucketParity
      SELECT event_type AS key,
             EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    per AS (
      SELECT key, bucket,
             CAST(bucket - MIN(bucket) OVER (PARTITION BY key) AS BIGINT)
               AS x,
             CAST(FLOOR(v * {float(EWMA_SCALE)!r}) AS BIGINT) AS yfx
      FROM daily),
    prod AS (
      SELECT key, bucket, x, yfx,
             CAST(x * yfx AS BIGINT) AS xy, CAST(x * x AS BIGINT) AS xx
      FROM per),
    mom AS (
      SELECT key, bucket,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(yfx) OVER w AS BIGINT) AS sy,
             CAST(SUM(xy) OVER w AS BIGINT) AS sxy,
             CAST(SUM(xx) OVER w AS BIGINT) AS sxx
      FROM prod
      WINDOW w AS (PARTITION BY key ORDER BY x
                   ROWS BETWEEN {window_rows - 1} PRECEDING
                   AND CURRENT ROW))
    SELECT key, bucket, n AS n_win, sy AS window_sum_fx,
           CASE WHEN CAST(n AS HUGEINT) * sxx
                     - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
                ELSE CAST(CAST(CAST(n AS HUGEINT) * sxy
                               - CAST(sx AS HUGEINT) * sy
                               AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(CAST(n AS HUGEINT) * sxx
                                 - CAST(sx AS HUGEINT) * sx
                                 AS VARCHAR) AS DOUBLE)
                     / {float(EWMA_SCALE)!r} END AS slope
    FROM mom
    """


def growth_accounting(events: DataFrame, *, dormancy_days: int = 7) -> DataFrame:
    """Daily growth accounting — the new / retained / resurrected /
    churned decomposition every growth dashboard opens with, built
    from the same distinct (unit, day) activity frame the DAU rollup
    uses. Each active (unit, day) classifies by the unit's PREVIOUS
    active day: first-ever day ⇒ ``new``; gap ≤ ``dormancy_days`` ⇒
    ``retained``; longer gap ⇒ ``resurrected``. A unit additionally
    emits one ``churned`` event on day last_active + dormancy + 1 for
    every dormancy spell (including the final one), EXCEPT when that
    day falls beyond the corpus horizon (max observed day) — whether a
    user churned after the data ends is unknowable, so it is not
    asserted. The identity actives(d) = new + retained + resurrected
    holds by construction; churned rows are additive events, not a
    slice of actives.

    Output per (day, status): (day, status, n_users) — exact integers
    end to end (epoch-day arithmetic; no floats anywhere).

    Scale shape: one map-side-combinable DISTINCT (unit, day) pass
    over the corpus, then ONE unit-partitioned window shuffle serving
    min/lag/lead simultaneously, a broadcast 1-row horizon, and a
    combinable (day, status) count. Frame sizes are active-unit-days,
    never raw events. NULL units/timestamps are excluded (no identity
    / no time to account)."""
    r = int(dormancy_days)
    act = (
        events.where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .select(
            F.col("user_id").alias("unit"),
            _bucket(DAY_US).cast("long").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("unit").orderBy("day")
    per = act.select(
        "unit",
        "day",
        F.min("day").over(
            Window.partitionBy("unit")
        ).alias("first_day"),
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    horizon = act.agg(F.max("day").alias("horizon"))
    status = (
        F.when(F.col("day") == F.col("first_day"), F.lit("new"))
        .when(F.col("day") - F.col("prev_day") <= r, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    active_rows = per.select(F.col("day"), status.alias("status"))
    churn_rows = (
        per.crossJoin(F.broadcast(horizon))
        .where(
            (
                F.col("next_day").isNull()
                | (F.col("next_day") - F.col("day") > r)
            )
            & (F.col("day") + r + 1 <= F.col("horizon"))
        )
        .select(
            (F.col("day") + r + 1).alias("day"),
            F.lit("churned").alias("status"),
        )
    )
    return (
        active_rows.unionAll(churn_rows)
        .groupBy("day", "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def sql_growth_accounting(*, dormancy_days: int = 7) -> str:
    """DuckDB oracle twin of :func:`growth_accounting`."""
    r = int(dormancy_days)
    return f"""
    WITH act AS (
      SELECT DISTINCT user_id AS unit,
             CAST(EPOCH_US(ts) // {DAY_US} AS BIGINT) AS day
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    per AS (
      SELECT unit, day,
             MIN(day) OVER (PARTITION BY unit) AS first_day,
             LAG(day) OVER w AS prev_day,
             LEAD(day) OVER w AS next_day
      FROM act WINDOW w AS (PARTITION BY unit ORDER BY day)),
    hz AS (SELECT MAX(day) AS horizon FROM act),
    rows_out AS (
      SELECT day,
             CASE WHEN day = first_day THEN 'new'
                  WHEN day - prev_day <= {r} THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM per
      UNION ALL
      SELECT day + {r + 1} AS day, 'churned' AS status
      FROM per CROSS JOIN hz
      WHERE (next_day IS NULL OR next_day - day > {r})
        AND day + {r + 1} <= horizon)
    SELECT day, status, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM rows_out GROUP BY 1, 2
    """


def runs_test(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test on each key's daily up/down moves —
    the randomness audit beside the trend tests: Mann-Kendall asks "is
    there a monotone trend", the runs test asks "is the SEQUENCE of
    rises and falls random at all" (too FEW runs ⇒ streaky/regime
    behavior; too MANY ⇒ oscillation, e.g. a load-balancer flapping or
    a sensor alternating between two calibrations). Works on signs
    only, so it is insensitive to the value scale.

    Mechanics: the period series (module docstring), day-over-day
    differences per key, zero differences
    DROPPED (the standard treatment — a tie is neither rise nor fall),
    then R = 1 + (number of sign alternations). Under randomness R is
    approximately normal with

        μ = 1 + 2·n₁·n₂/n,   σ² = 2·n₁·n₂·(2·n₁·n₂ − n) / (n²·(n−1))

    (n₁ rises, n₂ falls, n = n₁+n₂); z = (R − μ)/σ. Counts and R are
    exact integers (BIGINT products — n is DAYS of history, not rows);
    μ, σ², z are a pinned double chain with one IEEE sqrt. Keys with
    2 > n ≥ 1, no rises, or no falls yield NULL z by contract (σ = 0);
    keys with ZERO scorable moves (single-day or flat series — every
    diff zero or absent) emit NO row at all (nothing to test; join an
    expected-key list to see them).

    Output per key: (key, n_moves, n_up, n_down, n_runs, z_runs).

    Scale shape: the period-series aggregate, then two key-partitioned
    windows over the period frame (days×keys rows): the lag for
    differences and the lag for alternation counts. No joins, no
    corpus-sized window."""
    daily = _period_fx(events, "event_type")
    w = Window.partitionBy("key").orderBy("bucket")
    diffs = daily.select(
        "key",
        "bucket",
        (F.col("vfx") - F.lag("vfx").over(w)).alias("d"),
    ).where(F.col("d").isNotNull() & (F.col("d") != 0))
    signs = diffs.select(
        "key",
        "bucket",
        F.when(F.col("d") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"),
    )
    runs = signs.select(
        "key",
        "s",
        F.when(
            F.lag("s").over(w).isNull()
            | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n = F.col("n_moves").cast("double")
    p2 = (F.col("n_up") * F.col("n_down") * 2).cast("double")  # 2·n1·n2
    mu = F.lit(1.0) + p2 / n
    var = (
        p2
        * (p2 - n)
        / (n * n * (n - F.lit(1.0)))
    )
    scorable = (
        (F.col("n_moves") > 1) & (F.col("n_up") > 0) & (F.col("n_down") > 0)
    )
    z = F.when(
        scorable & (var > 0),
        (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
    ).otherwise(F.lit(None).cast("double"))
    return agg.select(
        "key", "n_moves", "n_up", "n_down", "n_runs", z.alias("z_runs")
    )


def sql_runs_test() -> str:
    """DuckDB oracle twin of :func:`runs_test`."""
    return f"""
    WITH daily AS (
      -- DuckDB integer `//` truncates toward zero exactly like Spark's
      -- `div` (verified on 1.0.0: -7 // 2 = -3), so the bucket grids
      -- agree even for pre-epoch timestamps; pinned by
      -- tests/test_round11_review_fixes.py::TestPreEpochBucketParity
      SELECT event_type AS key,
             EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    fx AS (
      SELECT key, bucket,
             CAST(FLOOR(v * {float(EWMA_SCALE)!r}) AS BIGINT) AS vfx
      FROM daily),
    diffs AS (
      SELECT key, bucket,
             vfx - LAG(vfx) OVER (PARTITION BY key ORDER BY bucket) AS d
      FROM fx),
    signs AS (
      SELECT key, bucket, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
      FROM diffs WHERE d IS NOT NULL AND d != 0),
    runs AS (
      SELECT key, s,
             CASE WHEN LAG(s) OVER (PARTITION BY key ORDER BY bucket)
                       IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
      FROM signs),
    agg AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n_moves,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
             CAST(SUM(new_run) AS BIGINT) AS n_runs
      FROM runs GROUP BY key)
    SELECT key, n_moves, n_up, n_down, n_runs,
           CASE WHEN n_moves > 1 AND n_up > 0 AND n_down > 0
                     AND CAST(2 * n_up * n_down AS DOUBLE)
                         * (CAST(2 * n_up * n_down AS DOUBLE)
                            - CAST(n_moves AS DOUBLE))
                         / (CAST(n_moves AS DOUBLE)
                            * CAST(n_moves AS DOUBLE)
                            * (CAST(n_moves AS DOUBLE) - 1.0)) > 0
                THEN (CAST(n_runs AS DOUBLE)
                      - (1.0 + CAST(2 * n_up * n_down AS DOUBLE)
                               / CAST(n_moves AS DOUBLE)))
                     / SQRT(CAST(2 * n_up * n_down AS DOUBLE)
                            * (CAST(2 * n_up * n_down AS DOUBLE)
                               - CAST(n_moves AS DOUBLE))
                            / (CAST(n_moves AS DOUBLE)
                               * CAST(n_moves AS DOUBLE)
                               * (CAST(n_moves AS DOUBLE) - 1.0))) END
             AS z_runs
    FROM agg
    """


def linear_interpolation(
    events: DataFrame,
    *,
    key_col: str = "event_type",
) -> DataFrame:
    """Regularize an event stream onto a dense per-key time grid and
    LINEARLY interpolate observation gaps — the `interpolate()`
    sibling of :func:`gap_fill_forward` (TimescaleDB ships both
    `locf` and `interpolate` as the two gap-fill policies; LOCF is
    right for state-like series, linear for rate-like series where a
    flat carry-forward fabricates a plateau the data never showed).

    Per key: raw events collapse to one row per occupied bucket
    (count + exact-decimal sum), the dense grid spans the key's first
    to last occupied bucket, and each empty bucket gets

        v = v_prev + (v_next − v_prev) · (b − b_prev) / (b_next − b_prev)

    between its nearest observed neighbors. Grid edges are always
    observed (the span is [min, max] occupied), so gap rows always
    have both neighbors.

    Cross-engine exactness: neighbor values are deterministic doubles
    (DECIMAL-accumulated bucket sums), bucket offsets are exact
    integers, and the interpolation is ONE pinned double chain
    (subtract, multiply, divide, add — each IEEE-exactly rounded,
    identical expression tree in both engines). Observed buckets
    bypass the chain entirely (the 0/0 guard AND bit-exactness: they
    emit their own sum). Neighbors travel as (bucket, sum) STRUCTS
    through the fill windows so a NULL-sum observation can never
    pair one row's bucket with another row's value.

    Scale shape — identical to :func:`gap_fill_forward`: the grid is
    :func:`_dense_grid`'s, and both fill windows partition by key —
    parallel across keys, ~9k rows/key/year of hourly buckets. At
    100 TB the only change is the grid join's key count; nothing
    row-scaled sits in one partition."""
    wp = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = _dense_grid(events, key_col).select(
        "key",
        "bucket",
        "n_events",
        "bucket_sum",
        F.when(
            F.col("n_events").isNotNull(),
            F.struct(F.col("bucket").alias("b"), F.col("bucket_sum").alias("v")),
        ).alias("obs"),
    )
    filled = j.select(
        "key",
        "bucket",
        "n_events",
        "bucket_sum",
        F.last("obs", ignorenulls=True).over(wp).alias("prev"),
        F.first("obs", ignorenulls=True).over(wn).alias("nxt"),
    )
    interp = F.col("prev.v") + (
        F.col("nxt.v") - F.col("prev.v")
    ) * (F.col("bucket") - F.col("prev.b")).cast("double") / (
        F.col("nxt.b") - F.col("prev.b")
    ).cast("double")
    return filled.select(
        "key",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("is_gap"),
        F.when(F.col("n_events").isNotNull(), F.col("bucket_sum"))
        .otherwise(interp)
        .alias("interp_sum"),
    )


def sql_linear_interpolation(*, key_col: str = "event_type") -> str:
    """DuckDB oracle twin of :func:`linear_interpolation` — identical
    grid, struct-carried neighbors, and pinned interpolation chain."""
    return f"""
    WITH occ AS (
      SELECT {key_col} AS key, EPOCH_US(ts) // {HOUR_US} AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
               AS bucket_sum
      FROM events GROUP BY 1, 2),
    spans AS (SELECT key, MIN(bucket) AS b0, MAX(bucket) AS b1
              FROM occ GROUP BY key),
    grid AS (SELECT key, t.bucket
             FROM spans, UNNEST(RANGE(b0, b1 + 1)) AS t(bucket)),
    j AS (
      SELECT g.key, g.bucket, o.n_events, o.bucket_sum,
             CASE WHEN o.n_events IS NOT NULL
                  THEN {{'b': g.bucket, 'v': o.bucket_sum}} END AS obs
      FROM grid g LEFT JOIN occ o USING (key, bucket)),
    filled AS (
      SELECT key, bucket, n_events, bucket_sum,
             LAST_VALUE(obs IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
             FIRST_VALUE(obs IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM j)
    SELECT key, bucket,
           COALESCE(n_events, 0) AS n_events,
           n_events IS NULL AS is_gap,
           CASE WHEN n_events IS NOT NULL THEN bucket_sum
                ELSE prev.v + (nxt.v - prev.v)
                     * CAST(bucket - prev.b AS DOUBLE)
                     / CAST(nxt.b - prev.b AS DOUBLE) END AS interp_sum
    FROM filled
    """


def seasonal_naive(events: DataFrame, *, season: int = 7) -> DataFrame:
    """Per-key seasonal-naive forecast skill — the missing member of
    the forecasting fold family (EWMA / Holt / CUSUM): the forecast
    for period t is simply the value one SEASON earlier, v(t −
    season), the baseline every fancier seasonal model must beat
    (Hyndman & Athanasopoulos, *Forecasting: Principles and
    Practice*, §5.2). The operator scores that baseline in-sample
    against the plain naive v(t − 1) and emits the next-period
    forecast:

    - per evaluable period (both v(t) and the lagged value observed
      on the calendar grid — gaps don't fake a lag), the absolute
      error accumulates as exact 2^20-fx BIGINTs;
    - mae_*_fx = ⌊Σ|e| / n_eval⌋ (non-negative integer division —
      truncate == floor on both engines);
    - mase_ppm = ⌊mae_snaive·10⁶ / mae_naive⌋ — the integer MASE
      twin (< 10⁶ ⟺ the seasonal baseline beats naive ⟺ the key
      actually has weekly structure worth modeling);
    - forecast_next_fx = v(max_bucket + 1 − season), NULL when that
      calendar slot was never observed (an honest gap, not a LOCF).

    Lags are CALENDAR joins (bucket = t − season on the bucketed
    grid), not array offsets — a key with missing days lags to the
    true calendar slot or not at all. Beyond the period-series
    contract (module docstring), NULL values are excluded too (no
    measurable error). Keys need no minimum history: n_eval_* = 0
    yields NULL MAEs (nothing evaluable), NULL mase_ppm when the
    naive MAE is 0 or unevaluable.

    Output per key: (key, n_periods, n_eval_snaive, n_eval_naive,
    mae_snaive_fx, mae_naive_fx, mase_ppm, forecast_next_fx,
    forecast_next).

    Scale shape: the period-series aggregate over the corpus, then
    everything runs on the keys×periods grid frame — two
    self-equi-joins of that frame (hash, grid-sized), one grouped
    reduction, one keys-sized max join. No window over raw events,
    no skew surface beyond the grid."""
    if season < 1:
        raise ValueError(f"season must be >= 1, got {season}")
    daily = _period_fx(events.where(F.col("value").isNotNull()), "event_type")
    sn = daily.select(
        "key",
        (F.col("bucket") + season).alias("bucket"),
        F.col("vfx").alias("sn_fx"),
    )
    nv = daily.select(
        "key",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("vfx").alias("nv_fx"),
    )
    j = daily.join(sn, ["key", "bucket"], "left").join(
        nv, ["key", "bucket"], "left"
    )
    # the DIFFERENCE widens to DECIMAL(38,0) before |·| and the sum
    # (vfx and sn_fx can sit near ±2^62 — a 64-bit subtract would wrap
    # silently where the oracle's HUGEINT subtraction stays exact), and
    # the sums stay DECIMAL(38,0) for corpus-horizon headroom
    d38 = "decimal(38,0)"
    stats = j.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        F.count("sn_fx").cast("long").alias("n_eval_snaive"),
        F.count("nv_fx").cast("long").alias("n_eval_naive"),
        F.sum(F.abs(F.col("vfx").cast(d38) - F.col("sn_fx")))
        .cast(d38)
        .alias("_ae_sn"),
        F.sum(F.abs(F.col("vfx").cast(d38) - F.col("nv_fx")))
        .cast(d38)
        .alias("_ae_nv"),
        F.max("bucket").alias("_maxb"),
    )
    fc = daily.select(
        "key",
        (F.col("bucket") - 1 + season).alias("_maxb"),
        F.col("vfx").alias("forecast_next_fx"),
    )
    mae_sn = F.when(
        F.col("n_eval_snaive") > 0,
        F.expr("_ae_sn div n_eval_snaive"),
    )
    mae_nv = F.when(
        F.col("n_eval_naive") > 0,
        F.expr("_ae_nv div n_eval_naive"),
    )
    out = stats.join(fc, ["key", "_maxb"], "left").select(
        "key",
        "n_periods",
        "n_eval_snaive",
        "n_eval_naive",
        mae_sn.alias("mae_snaive_fx"),
        mae_nv.alias("mae_naive_fx"),
        "forecast_next_fx",
    )
    # mase numerator in DECIMAL(38,0): a BIGINT mae·10^6 would wrap
    # past mae ≈ 9.2e12 fx where the oracle's HUGEINT stays exact
    return out.select(
        "key",
        "n_periods",
        "n_eval_snaive",
        "n_eval_naive",
        "mae_snaive_fx",
        "mae_naive_fx",
        F.when(
            F.col("mae_naive_fx") > 0,
            F.expr(
                "cast(mae_snaive_fx as decimal(38,0)) * 1000000"
                " div mae_naive_fx"
            ),
        ).alias("mase_ppm"),
        "forecast_next_fx",
        (F.col("forecast_next_fx").cast("double") / EWMA_SCALE).alias(
            "forecast_next"
        ),
    )


def sql_seasonal_naive(*, table: str = "events", season: int = 7) -> str:
    """DuckDB oracle twin of :func:`seasonal_naive` — identical grid,
    calendar lags, fx floors, and integer divisions."""
    s = float(EWMA_SCALE)
    return f"""
    WITH daily AS (
      -- DuckDB integer `//` truncates toward zero exactly like Spark's
      -- `div` (verified on 1.0.0: -7 // 2 = -3), so the bucket grids
      -- agree even for pre-epoch timestamps; pinned by
      -- tests/test_round11_review_fixes.py::TestPreEpochBucketParity
      SELECT event_type AS key,
             EPOCH_US(ts) // {DAY_US} AS bucket,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                             AS DOUBLE) * {s!r}) AS BIGINT) AS vfx
      FROM {table}
      WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2),
    j AS (
      SELECT d.key, d.bucket, d.vfx, sn.vfx AS sn_fx, nv.vfx AS nv_fx
      FROM daily d
      LEFT JOIN daily sn
        ON sn.key = d.key AND sn.bucket + {season} = d.bucket
      LEFT JOIN daily nv
        ON nv.key = d.key AND nv.bucket + 1 = d.bucket),
    stats AS (
      SELECT key,
             CAST(COUNT(*) AS BIGINT) AS n_periods,
             CAST(COUNT(sn_fx) AS BIGINT) AS n_eval_snaive,
             CAST(COUNT(nv_fx) AS BIGINT) AS n_eval_naive,
             SUM(ABS(CAST(vfx AS HUGEINT) - sn_fx)) AS _ae_sn,
             SUM(ABS(CAST(vfx AS HUGEINT) - nv_fx)) AS _ae_nv,
             MAX(bucket) AS _maxb
      FROM j GROUP BY key),
    mae AS (
      SELECT key, n_periods, n_eval_snaive, n_eval_naive, _maxb,
             CASE WHEN n_eval_snaive > 0
                  THEN _ae_sn // n_eval_snaive END AS mae_snaive_fx,
             CASE WHEN n_eval_naive > 0
                  THEN _ae_nv // n_eval_naive END AS mae_naive_fx
      FROM stats)
    SELECT * FROM (
      SELECT m.key AS key, m.n_periods, m.n_eval_snaive, m.n_eval_naive,
             CAST(m.mae_snaive_fx AS BIGINT) AS mae_snaive_fx,
             CAST(m.mae_naive_fx AS BIGINT) AS mae_naive_fx,
             CAST(CASE WHEN m.mae_naive_fx > 0
                  THEN (m.mae_snaive_fx * 1000000) // m.mae_naive_fx
                  END AS BIGINT) AS mase_ppm,
             f.vfx AS forecast_next_fx,
             CAST(f.vfx AS DOUBLE) / {EWMA_SCALE} AS forecast_next
      FROM mae m
      LEFT JOIN daily f
        ON f.key = m.key AND f.bucket = m._maxb + 1 - {season})
    """


def rolling_distinct(events: DataFrame, *, window: int = 7) -> DataFrame:
    """Exact rolling distinct-count engagement curve — per grid day d:
    DAU (distinct ids active on d), WAU (distinct ids active in
    [d−window+1, d]), and the DAU/WAU stickiness ratio — the
    retention dashboard readout that naive SQL writes as a per-day
    range self-join (O(days·corpus)) and this operator as a bounded
    CONTRIBUTION EXPLODE: each distinct (id, day) pair contributes to
    the ``window`` target days it can see, so the cost is
    window × |distinct pairs|, never days × corpus — the standard
    scalable form of a sliding COUNT DISTINCT (no sketch, exact).

    Output: one row per day in [min_day, max_day] (the full observed
    grid — quiet days report dau = 0 and whatever WAU the trailing
    window still holds; a gap longer than the window reports both 0):
    (day_bucket, dau, wau, stickiness_ppm = ⌊dau·10⁶/wau⌋, NULL when
    wau = 0). Day buckets are epoch-µs floor divisions (the grid
    convention). NULL ids/timestamps are excluded by contract.

    Scale shape: ONE distinct pass on (id, day) (map-side
    combinable), a ×window explode feeding a distinct count keyed by
    target day (the second exchange), a days-sized grid from one
    broadcast 1-row span. Nothing is ever days × corpus; the grid
    frame is KB-sized at any corpus size."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    pairs = (
        events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.col("user_id").alias("id"),
            _bucket(DAY_US).alias("bucket"),
        )
        .distinct()
    )
    dau = pairs.groupBy(F.col("bucket").alias("day_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    wau = (
        pairs.select(
            "id",
            F.explode(
                F.sequence(F.col("bucket"), F.col("bucket") + (window - 1))
            ).alias("day_bucket"),
        )
        .groupBy("day_bucket")
        .agg(F.count_distinct(F.col("id")).cast("long").alias("wau"))
    )
    span = pairs.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = span.where(F.col("lo").isNotNull()).select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day_bucket")
    )
    out = (
        grid.join(dau, "day_bucket", "left")
        .join(wau, "day_bucket", "left")
        .select(
            "day_bucket",
            F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
            F.coalesce(F.col("wau"), F.lit(0)).cast("long").alias("wau"),
        )
    )
    return out.select(
        "day_bucket",
        "dau",
        "wau",
        F.when(
            F.col("wau") > 0, F.expr("dau * 1000000 div wau")
        ).alias("stickiness_ppm"),
    )


def sql_rolling_distinct(*, table: str = "events", window: int = 7) -> str:
    """DuckDB oracle twin of :func:`rolling_distinct` — identical
    grid, contribution explode, and integer ratio."""
    return f"""
    WITH pairs AS (
      -- integer // truncates like Spark div: sql_seasonal_naive's note
      SELECT DISTINCT user_id AS id,
             EPOCH_US(ts) // {DAY_US} AS bucket
      FROM {table}
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    dau AS (
      SELECT bucket AS day_bucket, CAST(COUNT(*) AS BIGINT) AS dau
      FROM pairs GROUP BY 1),
    wau AS (
      SELECT bucket + off AS day_bucket,
             CAST(COUNT(DISTINCT id) AS BIGINT) AS wau
      FROM pairs, (SELECT UNNEST(RANGE(0, {window})) AS off)
      GROUP BY 1),
    grid AS (
      SELECT UNNEST(RANGE(MIN(bucket), MAX(bucket) + 1)) AS day_bucket
      FROM pairs)
    SELECT g.day_bucket,
           COALESCE(d.dau, 0) AS dau,
           COALESCE(w.wau, 0) AS wau,
           CASE WHEN COALESCE(w.wau, 0) > 0
                THEN CAST(COALESCE(d.dau, 0) * 1000000 // w.wau AS BIGINT)
           END AS stickiness_ppm
    FROM grid g
    LEFT JOIN dau d USING (day_bucket)
    LEFT JOIN wau w USING (day_bucket)
    """
