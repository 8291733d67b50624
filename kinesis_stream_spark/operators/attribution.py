"""Marketing-touch attribution over the event stream: credit each
conversion to the touches that preceded it inside a lookback window,
under first-touch and last-touch models simultaneously.

SURVEY.md §2.3 extension row; no counterpart in the reference —
kinesis-stream hands decoded records to user code (`Record.scala:15`)
and attribution happens downstream; this is that downstream,
re-expressed declaratively.

Cross-engine exactness: the candidate join is pure integer-microsecond
interval arithmetic; first/last selection is a ROW_NUMBER over the
total order (touch_us, touch_id) — event ids are unique, so the order
is tie-free on both engines; credited values accumulate through the
repo's DECIMAL(27,6) dsum discipline.

Scale shape — one value-RANGE window, no join: conversions and
touches interleave in ONE per-entity frame ordered by epoch-µs, and
first/last touch are MIN/MAX of a touch struct over ``RANGE BETWEEN
lookback PRECEDING AND CURRENT ROW`` (conversion rows contribute NULL
structs, which MIN/MAX skip). Honest cost accounting: Spark evaluates
MIN/MAX over a moving RANGE frame by re-aggregating the frame buffer
per row (SlidingWindowFunctionFrame — extrema are not invertible), so
per-entity work is O(rows × in-window rows), the SAME asymptotics as
the conversions⋈touches candidate join — the window's win is the
CONSTANT and the shuffle: the join materializes and exchanges every
candidate pair (a dense power user's 10^11 pairs hit the shuffle
machinery), while the frame re-reads one sorted in-memory buffer and
emits nothing (measured 2× faster end-to-end at sf0.1 here). For
deployments where the last-touch model alone suffices, the truly
LINEAR form is ``last(tch, ignoreNulls) OVER (ROWS UNBOUNDED
PRECEDING)`` — a running O(1)-per-row frame — followed by an age
filter; first-touch has no such LOCF identity, which is why this
module keeps the frame form. The value-based RANGE frame also gets
the boundary semantics right for free: every row with the SAME
microsecond as the conversion is in frame, matching the join
formulation's ``touch_us <= conv_us`` inclusively — which is why the
DuckDB oracle deliberately KEEPS the join+ROW_NUMBER formulation: two
independent computations of the same contract, hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.queries._util import dsum

#: the event type that is a conversion; every other type is a touch
CONVERSION_TYPE = "purchase"
#: lookback window: 7 days of microseconds
LOOKBACK_US = 7 * 24 * 3600 * 1_000_000
#: lag bucket of :func:`conversion_lag_histogram`: one hour
LAG_BUCKET_US = 3_600_000_000


def _tagged_frame(events: DataFrame, *, value_col: str | None):
    """The shared attribution scaffolding: NULL-filtered projection,
    conversion tagging, the orderable touch struct (NULL on conversion
    rows), and the per-entity value-RANGE window spec. One definition
    so the lookback boundary and NULL contracts cannot drift between
    :func:`first_last_touch` and :func:`conversion_lag_histogram`."""
    cols = [
        F.col("user_id").alias("ent"),
        F.col("event_type").alias("etype"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.col("event_id").alias("eid"),
    ]
    if value_col is not None:
        cols.append(F.col(value_col).alias("val"))
    base = events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(*cols)
    is_conv = F.col("etype") == CONVERSION_TYPE
    out = [
        "ent",
        "us",
        is_conv.alias("is_conv"),
        # touch rows carry an orderable struct; conversion rows carry
        # NULL, which the frame's MIN/MAX skip
        F.when(
            ~is_conv,
            F.struct(
                F.col("us").alias("tus"),
                F.col("eid").alias("tid"),
                F.col("etype").alias("ttype"),
            ),
        ).alias("tch"),
    ]
    if value_col is not None:
        out.append(F.when(is_conv, F.col("val")).alias("conv_val"))
    tagged = base.select(*out)
    w = (
        Window.partitionBy("ent")
        .orderBy("us")
        .rangeBetween(-LOOKBACK_US, 0)
    )
    return tagged, w


def first_last_touch(events: DataFrame) -> DataFrame:
    """Per-touch-type attribution report: for every conversion (an
    event of ``CONVERSION_TYPE``), find the entity's touches (any
    other event type) with ``conv_us − LOOKBACK_US ≤ touch_us ≤
    conv_us``, credit the earliest to the first-touch model and the
    latest to the last-touch model, and aggregate per touch type:

        (touch_type, first_touch_convs, last_touch_convs,
         first_touch_value, last_touch_value)

    where the value columns are the exact-decimal sums of the credited
    conversions' values. Conversions with no in-window touch earn no
    row (organic — measured separately by subtracting attributed
    counts from the conversion total). NULL entity/ts rows carry no
    position and are excluded by contract. Selection order is the
    tie-free total order (touch_us, touch_id) — encoded here as a
    struct MIN/MAX over the range frame, replayed by the oracle as a
    join + ROW_NUMBER (identical results, independent plans)."""
    tagged, w = _tagged_frame(events, value_col="value")
    conv_rows = (
        tagged.select(
            "is_conv",
            "conv_val",
            F.min("tch").over(w).alias("first_t"),
            F.max("tch").over(w).alias("last_t"),
        )
        .where(F.col("is_conv") & F.col("first_t").isNotNull())
    )
    credited = conv_rows.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first").alias("model"),
                    F.col("first_t.ttype").alias("touch_type"),
                    F.col("conv_val").alias("val"),
                ),
                F.struct(
                    F.lit("last").alias("model"),
                    F.col("last_t.ttype").alias("touch_type"),
                    F.col("conv_val").alias("val"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    return credited.groupBy("touch_type").agg(
        F.sum((F.col("model") == "first").cast("long")).alias(
            "first_touch_convs"
        ),
        F.sum((F.col("model") == "last").cast("long")).alias(
            "last_touch_convs"
        ),
        dsum(F.when(F.col("model") == "first", F.col("val")),
             "first_touch_value"),
        dsum(F.when(F.col("model") == "last", F.col("val")),
             "last_touch_value"),
    )


def sql_first_last_touch() -> str:
    """DuckDB oracle twin of :func:`first_last_touch` (identical
    interval join, tie-free ROW_NUMBER selection, DECIMAL sums)."""
    return f"""
    WITH base AS (
      SELECT user_id AS ent, event_type AS etype,
             EPOCH_US(ts) AS us, event_id AS eid, value AS val
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    conv AS (
      SELECT ent, eid AS conv_id, us AS conv_us, val AS conv_val
      FROM base WHERE etype = '{CONVERSION_TYPE}'),
    touch AS (
      SELECT ent, etype AS touch_type, us AS touch_us, eid AS touch_id
      FROM base WHERE etype <> '{CONVERSION_TYPE}'),
    cand AS (
      SELECT c.conv_id, c.conv_val, t.touch_type, t.touch_us, t.touch_id
      FROM conv c JOIN touch t USING (ent)
      WHERE t.touch_us <= c.conv_us
        AND t.touch_us >= c.conv_us - {LOOKBACK_US}),
    ranked AS (
      SELECT conv_id, conv_val, touch_type,
             ROW_NUMBER() OVER (PARTITION BY conv_id
               ORDER BY touch_us ASC, touch_id ASC) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY conv_id
               ORDER BY touch_us DESC, touch_id DESC) AS rn_last
      FROM cand)
    SELECT touch_type,
           CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch_convs,
           CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch_convs,
           CAST(SUM(CASE WHEN rn_first = 1
                THEN CAST(conv_val AS DECIMAL(27,6)) END) AS DOUBLE)
             AS first_touch_value,
           CAST(SUM(CASE WHEN rn_last = 1
                THEN CAST(conv_val AS DECIMAL(27,6)) END) AS DOUBLE)
             AS last_touch_value
    FROM ranked
    WHERE rn_first = 1 OR rn_last = 1
    GROUP BY 1
    """


def conversion_lag_histogram(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: for every conversion, the lag from
    the entity's FIRST in-window touch, bucketed by the hour —
    the funnel-velocity readout next to :func:`first_last_touch`
    (who gets credit) answering the other question (how long the path
    takes). Conversions with NO in-window touch land in the
    ``lag_bucket = -1`` organic row, closing the loop the attribution
    operator's output leaves open.

    Output: (lag_bucket, n_conversions), integer end to end
    (lag_bucket = ⌊(conv_us − first_touch_us) / LAG_BUCKET_US⌋).

    Scale shape: the shared :func:`_tagged_frame` value-RANGE window
    (no join — cost accounting in the module docstring), then one
    combinable bucket count."""
    tagged, w = _tagged_frame(events, value_col=None)
    conv_rows = tagged.select(
        "is_conv",
        "us",
        # the struct MIN's primary key IS the touch timestamp
        F.min("tch").over(w).getField("tus").alias("first_us"),
    ).where(F.col("is_conv"))
    bucket = F.when(
        F.col("first_us").isNotNull(),
        F.expr(f"(us - first_us) div {LAG_BUCKET_US}"),
    ).otherwise(F.lit(-1))
    return (
        conv_rows.select(bucket.cast("long").alias("lag_bucket"))
        .groupBy("lag_bucket")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def sql_conversion_lag_histogram() -> str:
    """DuckDB oracle twin of :func:`conversion_lag_histogram` — the
    independent join formulation (MIN over the candidate join)."""
    return f"""
    WITH base AS (
      SELECT user_id AS ent, event_type AS etype,
             EPOCH_US(ts) AS us, event_id AS eid
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    conv AS (SELECT ent, eid AS conv_id, us AS conv_us FROM base
             WHERE etype = '{CONVERSION_TYPE}'),
    touch AS (SELECT ent, us AS touch_us FROM base
              WHERE etype <> '{CONVERSION_TYPE}'),
    firsts AS (
      -- grouped by conv_id: two purchases sharing (ent, us) are TWO
      -- conversions, exactly as the Spark side counts them
      SELECT c.conv_id, c.conv_us, MIN(t.touch_us) AS first_us
      FROM conv c LEFT JOIN touch t
        ON t.ent = c.ent
       AND t.touch_us <= c.conv_us
       AND t.touch_us >= c.conv_us - {LOOKBACK_US}
      GROUP BY 1, 2)
    SELECT CASE WHEN first_us IS NOT NULL
                THEN (conv_us - first_us) // {LAG_BUCKET_US}
                ELSE -1 END AS lag_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM firsts GROUP BY 1
    """
