"""Stateful streaming (applyInPandasWithState) + UDF/multimodal stub
unit tests."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from kinesis_stream_spark.sources.batch import load_table
from kinesis_stream_spark.streaming.stateful import high_watermark_tracker, running_totals


def _run_update_stream(spark, df, name: str, checkpoint: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


def test_running_totals_equals_batch(spark, sf_dir, tmp_path):
    """Running per-key totals after draining the stream == batch groupBy,
    no matter how the micro-batches sliced the input."""
    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "in")
    events.select("event_type", "value").repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src_dir)
    )
    name = f"rt_{uuid.uuid4().hex[:8]}"
    out = _run_update_stream(
        spark, running_totals(stream), name, str(tmp_path / "ckpt")
    )
    # update mode emits one row per key per batch: the last is the total
    final = {
        r.key: (r.n_events, r.sum_value)
        for r in out.orderBy("n_events").collect()  # ascending → last wins
    }
    want = {
        r.event_type: (r.n, round(r.s, 2))
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(want)
    for k, (n, s) in want.items():
        assert final[k][0] == n
        assert abs(final[k][1] - s) < 0.01


def test_high_watermark_tracker_fills_gaps(spark, tmp_path):
    """Out-of-order arrivals advance the commit point only when the gap
    fills (ShardCheckpointTrackerActor semantics over a stream)."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    batch1 = spark.createDataFrame(
        [("s1", str(i)) for i in (0, 1, 3, 5)] + [("s2", "1")],
        "shardId STRING, sequenceNumber STRING",
    )
    batch1.coalesce(1).write.parquet(str(src_dir / "f1"))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    batch2 = spark.createDataFrame(
        [("s1", "2"), ("s1", "4"), ("s2", "0")],
        "shardId STRING, sequenceNumber STRING",
    )
    batch2.coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema("shardId STRING, sequenceNumber STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
    )
    name = f"hw_{uuid.uuid4().hex[:8]}"
    out = _run_update_stream(
        spark, high_watermark_tracker(stream), name, str(tmp_path / "ckpt")
    )
    rows = out.collect()
    # final state: every gap filled → prefix complete, nothing pending
    final = {}
    for r in rows:
        final[r.shard_id] = (r.checkpointable, r.n_pending)  # later rows overwrite
    assert final["s1"] == (5, 0)
    assert final["s2"] == (1, 0)
    # mid-stream state must have held back at the gap: some emitted row
    # for s1 has checkpointable < 5 with pending > 0 (unless both files
    # landed in one batch, which maxFilesPerTrigger=1 prevents)
    s1_rows = [(r.checkpointable, r.n_pending) for r in rows if r.shard_id == "s1"]
    assert (1, 2) in s1_rows


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    _has_protobuf(),
    reason="protobuf present — the full stream test above runs instead",
)
def test_capped_sessions_stream_gate_reason_is_real(spark, tmp_path):
    """Asserts the skip above is honest: without google.protobuf the
    transformWithState Python state-server worker crashes at stream
    start (probed this container: STREAM_FAILED / 'TransformWithState
    InPySpark driver worker exited unexpectedly'). A pure-python wheel
    can't be fetched here (no network, installs out of scope), so the
    gate stays — but if Spark ever ships a protobuf-free state channel,
    this test fails and the gate gets removed."""
    import datetime as dt
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from kinesis_stream_spark.streaming.stateful import capped_sessions

    src = str(tmp_path / "gate_src")
    os.makedirs(src)
    schema = "user_id string, ts timestamp, value double"
    spark.createDataFrame(
        [("u1", dt.datetime(2024, 6, 1, 12), 1.25)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    s = spark.readStream.schema(schema).parquet(src)
    q = (
        capped_sessions(s, gap_us=600_000_000, cap=5)
        .writeStream.format("memory")
        .queryName("gate_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # Poll rather than one awaitTermination(120): if the worker crash
    # took longer than the window, awaitTermination would return False
    # WITHOUT raising and the still-running query would leak. Loop until
    # the failure is observed (or the query terminates cleanly, which
    # means the gate is stale and the assert below fails honestly).
    try:
        exc = None
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            try:
                if q.awaitTermination(5):
                    break  # clean termination: no crash — gate is stale
            except StreamingQueryException as e:
                exc = e
                break
            if q.exception() is not None:
                exc = q.exception()
                break
        assert exc is not None, (
            "transformWithState ran without google.protobuf — remove the gate"
        )
    finally:
        try:
            q.stop()
        except Exception:
            pass  # best-effort cleanup of an already-failed query


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs google.protobuf (not in this container)",
)
def test_capped_sessions_stream_equals_batch(spark, tmp_path):
    """transformWithState sessionizer end-to-end: gap closes, cap
    splits, exact-cents sums — a 2-round file stream's emitted closed
    sessions equal the batch twin over all events."""
    import datetime as dt
    import os

    from kinesis_stream_spark.streaming.stateful import (
        capped_sessions,
        capped_sessions_batch,
    )

    src = str(tmp_path / "cs_src")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)

    # u1: 7 events within gap -> cap(5) split + open tail;
    #     then a 30-min gap -> gap close; u2: single open session
    round1 = [("u1", base + i * m, 1.25) for i in range(7)]
    round2 = [("u1", base + dt.timedelta(minutes=40) + i * m, 2.0) for i in range(2)]
    round2 += [("u2", base, 3.5)]
    schema = "user_id string, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    sink: list = []

    def drain():
        s = spark.readStream.schema(schema).parquet(src)
        (
            capped_sessions(s, gap_us=600_000_000, cap=5)
            .writeStream.foreachBatch(lambda df, bid: sink.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cs_ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(180)
        )

    write(round1)
    drain()
    write(round2)
    drain()

    all_events = spark.createDataFrame(round1 + round2, schema)
    expect = {
        tuple(r)
        for r in capped_sessions_batch(
            all_events, gap_us=600_000_000, cap=5
        ).collect()
    }
    got = {tuple(r) for r in sink}
    assert got == expect
    reasons = {r.close_reason for r in sink}
    assert reasons == {"cap", "gap"}
    cap_close = [r for r in sink if r.close_reason == "cap"][0]
    assert cap_close.n_events == 5 and cap_close.sum_cents == 625


def test_capped_sessions_batch_twin_semantics(spark):
    """The batch twin's own contract, hand-checked: cap splits inside a
    gap-session, gap closes between sessions, each key's final chunk is
    open (excluded), sums are exact cents."""
    import datetime as dt

    from kinesis_stream_spark.streaming.stateful import capped_sessions_batch

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [("u1", base + i * m, 1.25) for i in range(7)]          # cap split at 5
    rows += [("u1", base + dt.timedelta(minutes=40), 2.0)]          # gap close
    rows += [("u2", base, 3.5)]                                     # open only
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    out = sorted(
        capped_sessions_batch(ev, gap_us=600_000_000, cap=5).collect(),
        key=lambda r: (r.key, r.start_us),
    )
    assert [r.key for r in out] == ["u1", "u1"]
    cap_close, gap_close = out
    assert cap_close.close_reason == "cap" and cap_close.n_events == 5
    assert cap_close.sum_cents == 625
    assert gap_close.close_reason == "gap" and gap_close.n_events == 2
    assert gap_close.sum_cents == 250
    # u2's only session is open -> not emitted


def test_asof_enrich_stream_equals_batch(spark, sf_dir, tmp_path):
    """Multi-batch drain of the streaming as-of enrichment == the
    batch union-window asof_join, under the ordered-arrival contract
    (batch 1 = the older half of the timeline, batch 2 the newer —
    the per-key event-time order the reference's per-shard merge
    guarantees). Covers cross-batch state carry: clicks in batch 2
    must match purchases seen only in batch 1."""
    import time

    from kinesis_stream_spark.streaming.stateful import (
        ASOF_ENRICH_SCHEMA,
        asof_enrich_batch,
        asof_enrich_stream,
    )

    events = load_table(spark, sf_dir, "events")
    ev = events.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    mid = ev.agg(
        F.expr("cast(avg(unix_micros(cast(ts as timestamp))) as long)").alias("m")
    ).collect()[0].m
    src = str(tmp_path / "asof_src")
    early = ev.where(F.expr(f"unix_micros(cast(ts as timestamp)) <= {mid}"))
    late = ev.where(F.expr(f"unix_micros(cast(ts as timestamp)) > {mid}"))
    early.coalesce(1).write.mode("append").parquet(src)
    time.sleep(2)  # FileStreamSource orders files by mod time
    late.coalesce(1).write.mode("append").parquet(src)
    assert early.count() > 0 and late.count() > 0

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, ts TIMESTAMP,"
            " event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"asof_{uuid.uuid4().hex[:8]}"
    q = (
        asof_enrich_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.event_id: (r.asof_event_id, r.asof_ts, r.asof_value)
        for r in spark.table(name).collect()
    }
    want_df = asof_enrich_batch(events)
    want = {
        r.event_id: (r.asof_event_id, r.asof_ts, r.asof_value)
        for r in want_df.collect()
    }
    assert set(spark.table(name).schema.fieldNames()) == set(
        ASOF_ENRICH_SCHEMA.fieldNames()
    )
    assert set(got) == set(want)
    n_matched = sum(1 for v in want.values() if v[0] is not None)
    assert n_matched > 0  # the fixture actually exercises matches
    # and some matches must cross the batch boundary (click in batch
    # 2, its purchase only in batch 1) for the state carry to matter
    crossers = want_df.where(
        (F.expr(f"unix_micros(cast(ts as timestamp)) > {mid}"))
        & (F.expr(f"unix_micros(cast(asof_ts as timestamp)) <= {mid}"))
    ).count()
    assert crossers > 0
    assert got == want
