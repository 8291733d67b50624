"""Event-time operator inventory, batch-checkable (SURVEY.md §2.3 streaming
rows).

Structured Streaming's core contract is that the same DataFrame program runs
on batch and stream; these queries call the EXACT functions from
``kinesis_stream_spark.streaming.windows`` on the batch `events` table so
the DuckDB oracle validates the very code the streaming tests execute
(tests/test_streaming.py runs the stream side over the same data and
asserts stream == batch).

Session windows have no DuckDB builtin — the oracle is gap-and-island SQL
(lag → new-session flag at ``diff >= gap`` → running-sum session id), per
SURVEY §7 "hard parts (a)".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.operators.asof import sql_asof_join
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._util import sql_dsum
from kinesis_stream_spark.sources.batch import load_table
from kinesis_stream_spark.streaming.stateful import asof_enrich_batch, capped_sessions_batch
from kinesis_stream_spark.streaming.windows import (
    interval_join,
    rate_anomaly,
    session_funnel_agg,
    session_window_agg,
    sliding_window_agg,
    static_enrich_agg,
    tumbling_window_agg,
    with_late_data_drop,
)

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


# epoch-second bucket arithmetic (not time_bucket): Spark's window() is
# 1970-epoch aligned; explicit FLOOR(EPOCH(ts)/n)*n matches it exactly and
# sidesteps DuckDB's 2000-based time_bucket origin.
def _bucket(expr: str, seconds: int) -> str:
    return f"CAST(TO_TIMESTAMP(FLOOR(EPOCH({expr})/{seconds})*{seconds}) AS TIMESTAMP)"


@_q(
    "stream_tumbling_window",
    f"""
    SELECT {_bucket('ts', 3600)}                            AS window_start,
           {_bucket('ts', 3600)} + INTERVAL 1 HOUR          AS window_end,
           event_type,
           COUNT(*)                                         AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h windows (groupBy(window(ts, '1 hour')))."""
    return tumbling_window_agg(load_table(spark, sf_dir, "events"), duration="1 hour")


@_q(
    "stream_sliding_window",
    f"""
    WITH slid AS (
      SELECT e.*, {_bucket('e.ts', 1800)} - k.offs * INTERVAL 30 MINUTE AS window_start
      FROM events e CROSS JOIN (VALUES (0), (1)) AS k(offs)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*)                       AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM slid
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h / 30 min windows: each event lands in exactly 2 windows;
    the oracle replicates rows against both candidate starts."""
    return sliding_window_agg(
        load_table(spark, sf_dir, "events"), duration="1 hour", slide="30 minutes"
    )


@_q(
    "stream_session_window",
    f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT MIN(ts)                        AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE   AS session_end,
           user_id,
           COUNT(*)                       AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 10 min gap. Spark merges an event into the session
    while ``ts < session_end`` (half-open), so the island break is
    ``diff >= gap`` — the oracle encodes exactly that boundary."""
    return session_window_agg(load_table(spark, sf_dir, "events"), gap="10 minutes")


@_q(
    "stream_watermarked_tumbling",
    f"""
    SELECT {_bucket('ts', 3600)}                            AS window_start,
           {_bucket('ts', 3600)} + INTERVAL 1 HOUR          AS window_end,
           event_type,
           COUNT(*)                                         AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def stream_watermarked_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling agg — the production streaming shape. On batch
    input the watermark is a no-op by Spark contract (all data present ==
    nothing is late), so the oracle equals the plain tumbling query; the
    late-DROP behavior is asserted on a real stream in
    tests/test_streaming.py::test_watermark_drops_late_data."""
    ev = with_late_data_drop(load_table(spark, sf_dir, "events"), delay="1 hour")
    return tumbling_window_agg(ev, duration="1 hour")


@_q(
    "stream_dedup_first_per_key",
    """
    SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def stream_dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: first event (by event time) per key — the batch
    twin of ``dropDuplicatesWithinWatermark`` where "first" is arrival
    order. Plain ``dropDuplicates`` keeps an arbitrary row, so the
    oracle-checkable form pins the winner with a window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
        .orderBy("user_id", "event_type")
    )


@_q(
    "stream_session_funnel",
    """
    WITH marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_to,
           CAST(CASE WHEN MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                       >= MIN(CASE WHEN event_type = 'click' THEN ts END)
                THEN 1 ELSE 0 END AS INT) AS converted
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def stream_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion funnel: per user session (10 min gap),
    click and purchase counts plus a converted flag (purchase at-or-
    after the session's first click). The attribution measure computed
    on session state — one shuffle, stream-legal — instead of the
    quadratic click×purchase self-join. Oracle replays sessionization
    (gap-and-island) and the conditional aggregates."""
    return session_funnel_agg(load_table(spark, sf_dir, "events"), gap="10 minutes")


@_q(
    "stream_rate_anomaly",
    f"""
    WITH counts AS (
      SELECT {_bucket('ts', 3600)} AS window_start, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    trailed AS (
      SELECT window_start, event_type, n_events,
             COALESCE(SUM(n_events) OVER w, 0) AS sum_prev,
             COUNT(*) OVER w AS n_prev
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, event_type, n_events,
           CAST(sum_prev AS BIGINT) AS sum_prev,
           CAST(n_prev AS BIGINT) AS n_prev,
           CAST(CASE WHEN n_prev > 0 AND n_events * n_prev > 2 * sum_prev
                THEN 1 ELSE 0 END AS INT) AS spike
    FROM trailed
    ORDER BY event_type, window_start
    """,
)
def stream_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike detection over hourly event counts: flag windows whose
    count exceeds 2× the trailing-3-window mean, with the comparison in
    pure integers (n·n_prev > 2·sum_prev) so no float mean/stddev can
    diverge between engines. The batch-side monitoring pass over a
    streaming count sink."""
    return rate_anomaly(
        load_table(spark, sf_dir, "events"), duration="1 hour", lookback=3, factor=2
    )


@_q(
    "stream_static_enrich",
    f"""
    SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           e.event_type,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 'sum_value')}
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY segment, event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: events left-joined to the customer
    dimension (broadcast — the static side never shuffles the stream),
    aggregated per (market segment, event_type) with unmatched users
    kept as 'UNKNOWN'. The reference's users do exactly this downstream
    of the Kinesis source (enrich each record with reference data); on a
    stream Spark re-reads the dim per micro-batch, so dim updates are
    picked up without restarting the query."""
    return static_enrich_agg(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@_q(
    "stream_interval_join",
    """
    SELECT c.user_id, c.ts AS click_ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 10 MINUTE
    ORDER BY c.user_id, click_ts, purchase_ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-checked: every click paired
    with same-user purchases within the following 10 minutes — the
    attribution-join shape. On a stream both sides shuffle on user_id
    and the time bound + watermark evicts join state (an unbounded
    stream join would grow state forever); the batch plan is the same
    join minus state, which is what the oracle checks. The equi-key
    carries the shuffle; the range predicate evaluates post-join."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    return (
        interval_join(clicks, purchases, upper="10 minutes")
        .select(
            F.col("l_user").alias("user_id"),
            F.col("l_ts").alias("click_ts"),
            F.col("r_ts").alias("purchase_ts"),
            F.col("r_value").alias("purchase_value"),
        )
        .orderBy("user_id", "click_ts", "purchase_ts")
    )


@_q(
    "stream_time_range_rolling",
    """
    SELECT user_id,
           ts,
           event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
             AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    """,
)
def stream_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-hour rolling aggregates via a RANGE frame keyed
    on event time — a value-based window (every event within 3600 s
    precedes), not a row-count frame, so sparse and bursty users get the
    same time semantics. The per-event feature shape behind rate
    limiting, fraud velocity checks, and session-weight features; sums
    accumulate in exact DECIMAL so frame evaluation order can't flip low
    bits. The frame is keyed on integer MICROSECONDS (unix_micros /
    EPOCH_US) — whole seconds via unix_timestamp looked equivalent, but
    Spark truncates sub-second parts while DuckDB's double-epoch cast
    rounds them, silently moving boundary events between frames (caught
    by the sf0.1 sweep; sf0.001/0.01 never landed an event within a
    rounding step of a frame edge). Scale: one shuffle on user_id,
    per-user time sort — skewed users salt the key like any windowed
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .over(w)
            .cast("double")
            .alias("sum_last_hour"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@_q(
    "stream_capped_sessions",
    """
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS key, EPOCH_US(ts) AS ts_us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents, event_id
      FROM events WHERE ts IS NOT NULL),
    marked AS (
      SELECT key, ts_us, cents, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                    OR ts_us - LAG(ts_us) OVER w > 600000000
                  THEN 1 ELSE 0 END AS ns
      FROM base WINDOW w AS (PARTITION BY key ORDER BY ts_us, event_id)),
    sess AS (
      SELECT *, SUM(ns) OVER (PARTITION BY key ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    chunked AS (
      SELECT *, (ROW_NUMBER() OVER (PARTITION BY key, sid
                                    ORDER BY ts_us, event_id) - 1) // 5 AS chunk
      FROM sess),
    agg AS (
      SELECT key, sid, chunk, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM chunked GROUP BY 1, 2, 3),
    flagged AS (
      SELECT *, LEAD(sid) OVER wl AS nxt
      FROM agg WINDOW wl AS (PARTITION BY key ORDER BY sid, chunk))
    SELECT key, start_us, end_us, n_events, sum_cents,
           CASE WHEN nxt = sid THEN 'cap' ELSE 'gap' END AS close_reason
    FROM flagged WHERE nxt IS NOT NULL
    ORDER BY key, start_us
    """,
)
def stream_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped sessionizer (gap 10 min OR 5-event cap), batch-checkable
    twin of the transformWithState streaming operator
    (streaming/stateful.py): the oracle replays gap islands, cap chunk
    splitting, the closed-only filter, and the close reasons. Chunk
    membership is tiebroken on event_id so the result is deterministic
    under equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    return capped_sessions_batch(
        ev, gap_us=600_000_000, cap=5, tiebreak_col="event_id"
    ).orderBy("key", "start_us")


_ASOF_ENRICH_ORACLE = (
    sql_asof_join(
        left_sql=(
            "SELECT event_id, user_id, ts FROM events"
            " WHERE event_type = 'click'"
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
        direction="backward",
        tolerance_us=None,
    )
    + " ORDER BY event_id"
)


@_q("stream_asof_enrich", _ASOF_ENRICH_ORACLE)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment, batch-checkable twin: each click
    enriched with the same user's most recent purchase at-or-before
    it (backward, inclusive, no tolerance — the third oracle-checked
    as-of configuration). The streaming side is ONE fixed-width state
    row per key updated by a vectorized merge_asof per micro-batch
    under the reference's per-shard ordered-arrival guarantee
    (streaming/stateful.py:asof_enrich_stream);
    tests/test_stateful.py asserts stream == batch on a multi-batch
    drain. The batch twin runs the union-window asof_join — the plan
    the oracle checks here."""
    ev = load_table(spark, sf_dir, "events")
    return asof_enrich_batch(ev).orderBy("event_id")
