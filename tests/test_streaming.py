"""Structured Streaming runtime tests (reference O1–O7 semantics).

Strategy: feed the envelope through a file-transport stream (parquet files
appended to a directory), run with ``availableNow`` triggers, and assert
stream results equal the batch run of the SAME transformation — plus the
semantics Spark must preserve from the reference: initial position,
commit-log no-replay (at-least-once), pre-commit skip (at-most-once),
watermark late-data drop, and the commitFlow ack cycle.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import stat
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from kinesis_stream_spark.checkpoint import CheckpointTracker, SequenceNumber
from kinesis_stream_spark.sources.batch import load_table
from kinesis_stream_spark.streaming import (
    ConsumerConfig,
    InitialPosition,
    decode_json_payload,
    events_to_envelope,
    source,
)
from kinesis_stream_spark.streaming import delivery
from kinesis_stream_spark.streaming.delivery import (
    foreach_batch_commit_flow,
    run_at_least_once,
    run_at_most_once,
)
from kinesis_stream_spark.streaming.envelope import RECORD_SCHEMA
from kinesis_stream_spark.streaming.windows import tumbling_window_agg

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Envelope records written as the stream input directory."""
    out = str(tmp_path_factory.mktemp("stream_in"))
    events = load_table(spark, sf_dir, "events")
    events_to_envelope(events).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _config(stream_dir: str, tmp_path, position=InitialPosition.TRIM_HORIZON) -> ConsumerConfig:
    return ConsumerConfig(
        stream_path=stream_dir,
        app_name=f"app-{uuid.uuid4().hex[:8]}",
        checkpoint_root=str(tmp_path),
        initial_position=position,
    )


def test_envelope_roundtrip(spark, sf_dir, stream_dir, tmp_path):
    """Source emits the reference Record schema; payload decodes back to
    the original business columns (Record.scala:13-23 + Main.scala:22)."""
    cfg = _config(stream_dir, tmp_path)
    records = source(spark, cfg)
    assert records.isStreaming
    assert [f.name for f in records.schema.fields] == [
        "partitionKey",
        "data",
        "sequenceNumber",
        "subSequenceNumber",
        "shardId",
        "approximateArrivalTimestamp",
    ]
    got: list = []
    q = run_at_least_once(
        decode_json_payload(records),
        cfg,
        lambda df, bid: got.extend(df.collect()),
    )
    q.awaitTermination(120)
    n_events = load_table(spark, sf_dir, "events").count()
    assert len(got) == n_events
    row = next(r for r in got if r.event_type == "purchase")
    assert row.value is not None and row.partitionKey is not None


def test_initial_position_trim_horizon_vs_latest(spark, stream_dir, tmp_path):
    """O5: trim-horizon reads history; latest skips records that arrived
    before the query start (Consumer.scala:125-143)."""
    counts = {}
    for pos in (InitialPosition.TRIM_HORIZON, InitialPosition.LATEST):
        cfg = _config(stream_dir, tmp_path, pos)
        n = []
        q = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: n.append(df.count()))
        q.awaitTermination(120)
        counts[pos] = sum(n)
    assert counts[InitialPosition.TRIM_HORIZON] > 0
    assert counts[InitialPosition.LATEST] == 0  # 2024 data is all "the past"


def _write_records(spark, in_dir: str, n: int, arrived: dt.datetime) -> None:
    """Append one file of ``n`` envelope records (keys k0…) that arrived at ``arrived``."""
    rows = [(f"k{i}", b"x", str(i), 0, "shardId-0", arrived) for i in range(n)]
    spark.createDataFrame(rows, RECORD_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)


def test_latest_restart_delivers_records_that_arrived_while_stopped(spark, tmp_path):
    """LATEST applies to the app's first start only: a restart on the same
    checkpoint keeps the first start's cutoff, so records written while
    the app was stopped are delivered, not filtered as "the past"."""
    in_dir = str(tmp_path / "latest_in")

    now = dt.datetime.now(dt.timezone.utc)
    _write_records(spark, in_dir, 3, now - dt.timedelta(hours=1))
    cfg = _config(in_dir, tmp_path, InitialPosition.LATEST)
    first: list[int] = []
    q = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: first.append(df.count()))
    q.awaitTermination(120)
    assert first and sum(first) == 0  # the hour-old file is "the past"

    _write_records(spark, in_dir, 5, dt.datetime.now(dt.timezone.utc))  # arrives while stopped
    second: list[int] = []
    q2 = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: second.append(df.count()))
    q2.awaitTermination(120)
    assert sum(second) == 5

    # a fresh checkpoint is a new app: everything so far is the past
    fresh = _config(in_dir, tmp_path, InitialPosition.LATEST)
    third: list[int] = []
    q3 = run_at_least_once(source(spark, fresh), fresh, lambda df, bid: third.append(df.count()))
    q3.awaitTermination(120)
    assert sum(third) == 0


def test_upsert_latest_restart_keeps_records_that_arrived_while_stopped(spark, tmp_path):
    """The upsert sink keeps Spark's offset log at
    ``config.checkpoint_location``, where a LATEST source keeps its
    cutoff, so the LATEST restart contract holds for it too: records
    written while the app was stopped reach the snapshot."""
    from kinesis_stream_spark.streaming.delivery import _latest_snapshot, run_upsert_latest

    in_dir = str(tmp_path / "latest_in")
    state = str(tmp_path / "latest_state")
    _write_records(spark, in_dir, 3, dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=1))
    cfg = _config(in_dir, tmp_path, InitialPosition.LATEST)

    def drain() -> None:
        run_upsert_latest(
            source(spark, cfg),
            cfg,
            keys=["partitionKey"],
            order_cols=["sequenceNumber"],
            value_cols=["shardId"],
            state_root=state,
        ).awaitTermination(120)

    def snapshot_keys() -> set[str]:
        latest = _latest_snapshot(state)
        return {r.partitionKey for r in spark.read.parquet(latest).collect()} if latest else set()

    drain()
    assert snapshot_keys() == set()  # the hour-old file is "the past"
    _write_records(spark, in_dir, 5, dt.datetime.now(dt.timezone.utc))  # arrives while stopped
    drain()
    assert snapshot_keys() == {f"k{i}" for i in range(5)}


def test_initial_position_at_timestamp(spark, sf_dir, stream_dir, tmp_path):
    """O5: at-timestamp starts mid-stream (Consumer.scala:135-141)."""
    cut = dt.datetime(2024, 1, 10)
    cfg = _config(stream_dir, tmp_path).with_initial_position(
        InitialPosition.AT_TIMESTAMP, at=cut
    )
    n = []
    q = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: n.append(df.count()))
    q.awaitTermination(120)
    expected = load_table(spark, sf_dir, "events").where(F.col("ts") >= F.lit(cut)).count()
    assert sum(n) == expected > 0


def test_stream_tumbling_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """The same windows.py code on stream input == batch input (complete
    output after the stream drains)."""
    cfg = _config(stream_dir, tmp_path)
    records = source(spark, cfg).select(
        F.col("approximateArrivalTimestamp").alias("ts"),
        F.get_json_object(F.col("data").cast("string"), "$.event_type").alias("event_type"),
        F.get_json_object(F.col("data").cast("string"), "$.value").cast("double").alias("value"),
    )
    agg = records.withWatermark("ts", "1 hour").transform(
        lambda df: tumbling_window_agg(df, duration="1 hour")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .option("checkpointLocation", cfg.checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("tumbling_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_window_agg(
            load_table(spark, sf_dir, "events"), duration="1 hour"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_agg_runs_in_append_mode(spark, stream_dir, tmp_path):
    """The shared window-agg path must not embed a sort: sorting a
    streaming aggregate is only legal in complete mode, and the
    production shape is append + watermark. Regression for the round-1
    advisory on windows.py."""
    from kinesis_stream_spark.streaming.windows import session_window_agg

    cfg = _config(stream_dir, tmp_path)
    records = source(spark, cfg).select(
        F.col("approximateArrivalTimestamp").alias("ts"),
        F.get_json_object(F.col("data").cast("string"), "$.user_id").alias("user_id"),
        F.get_json_object(F.col("data").cast("string"), "$.value").cast("double").alias("value"),
        F.get_json_object(F.col("data").cast("string"), "$.event_type").alias("event_type"),
    )
    got: list = []
    for make in (
        lambda df: tumbling_window_agg(df, duration="1 hour"),
        lambda df: session_window_agg(df, gap="10 minutes"),
    ):
        agg = make(records.withWatermark("ts", "1 hour"))
        q = (
            agg.writeStream.foreachBatch(lambda df, bid: got.append(df.count()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"append_ckpt_{len(got)}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)  # raises AnalysisException if a sort leaked in


def test_watermark_drops_late_data(spark, tmp_path):
    """The watermark generalizes the reference's late-ack guard
    (ShardCheckpointTrackerActor.scala:35): once event time has advanced
    past delay, data older than the watermark is dropped from the agg."""
    in_dir = str(tmp_path / "late_in")
    os.makedirs(in_dir)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)

    def write_file(name: str, rows: list[tuple]) -> None:
        df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
        df.coalesce(1).write.mode("append").parquet(in_dir)
        _ = name

    # file 1: events at 12:00 and 14:00 → watermark advances to 13:50
    write_file("f1", [(base, "click", 1.0), (base + dt.timedelta(hours=2), "click", 1.0)])

    agg = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(in_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    ckpt = str(tmp_path / "late_ckpt")

    def drain(sink: list):
        # memory sink can't recover from a checkpoint; foreachBatch can
        return (
            agg.writeStream.foreachBatch(lambda df, bid: sink.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    first: list = []
    drain(first).awaitTermination(120)
    assert any(r.event_type == "click" for r in first)

    # file 2: one on-time event (14:10) and one LATE event (12:30, far below
    # the 13:50 watermark) — the late one must be dropped
    write_file("f2", [(base + dt.timedelta(hours=2, minutes=10), "click", 1.0),
                      (base + dt.timedelta(minutes=30), "late", 9.9)])
    second: list = []
    drain(second).awaitTermination(120)
    assert any(r.event_type == "click" for r in second)  # on-time row landed
    assert all(r.event_type != "late" for r in second), second


def test_at_least_once_no_replay_after_restart(spark, stream_dir, tmp_path):
    """O2/at-least-once: committed batches are not reprocessed on restart
    (Spark's commit log ≙ KCL resuming from the DynamoDB checkpoint)."""
    cfg = _config(stream_dir, tmp_path)
    first, second = [], []
    q = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: first.append(df.count()))
    q.awaitTermination(120)
    q2 = run_at_least_once(source(spark, cfg), cfg, lambda df, bid: second.append(df.count()))
    q2.awaitTermination(120)
    assert sum(first) > 0
    assert sum(second) == 0  # nothing new → nothing replayed


def test_at_most_once_skips_begun_batch(spark, stream_dir, tmp_path):
    """O2/at-most-once: a batch whose marker exists is skipped on replay —
    commit-before-process placement (README.md:42)."""
    cfg = _config(stream_dir, tmp_path)
    seen: list[int] = []

    class Boom(Exception):
        pass

    def explode(df, bid):
        seen.append(df.count())
        raise Boom()  # crash AFTER the marker was persisted, BEFORE "work"

    q = run_at_most_once(source(spark, cfg), cfg, explode)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    # restart: the begun batch replays at the engine level but the guard
    # must skip it — at-most-once loses it rather than duplicating
    redone: list[int] = []
    q2 = run_at_most_once(source(spark, cfg), cfg, lambda df, bid: redone.append(df.count()))
    q2.awaitTermination(120)
    assert sum(seen) > 0
    assert sum(redone) == 0


def test_at_most_once_marker_is_durable_before_the_batch_runs(
    spark, stream_dir, tmp_path, monkeypatch
):
    """At-most-once commits its intent durably THEN processes: the
    marker file and its directory entry are fsync'd before every call
    of the batch function."""
    events: list[str] = []
    real_fsync = os.fsync

    def recording_fsync(fd: int) -> None:
        events.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file")
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    cfg = _config(stream_dir, tmp_path)
    q = run_at_most_once(source(spark, cfg), cfg, lambda df, bid: events.append("batch"))
    q.awaitTermination(120)
    batches = [i for i, e in enumerate(events) if e == "batch"]
    assert batches, events
    for i in batches:
        assert events[i - 2 : i] == ["file", "dir"], events


def test_at_most_once_fresh_checkpoint_ignores_stale_markers(spark, stream_dir, tmp_path):
    """A deleted checkpoint is a new app: its batches run even though the
    old app's markers (``<checkpoint>_committed``) name the same ids."""
    cfg = _config(stream_dir, tmp_path)
    rows = spark.read.schema(RECORD_SCHEMA).parquet(stream_dir).count()
    first: list[int] = []
    q = run_at_most_once(source(spark, cfg), cfg, lambda df, bid: first.append(df.count()))
    q.awaitTermination(120)
    assert sum(first) == rows
    shutil.rmtree(cfg.checkpoint_location)  # reset the app; its markers stay behind
    again: list[int] = []
    q2 = run_at_most_once(source(spark, cfg), cfg, lambda df, bid: again.append(df.count()))
    q2.awaitTermination(120)
    assert sum(again) == rows


def test_foreach_batch_commit_flow_acks_every_shard(spark, stream_dir, tmp_path):
    """commitFlow parity (CommitGraphStages.scala:16-17): every shard in the
    batch is tracked, processed, and checkpointed at its highest sequence."""
    cfg = _config(stream_dir, tmp_path)
    tracker = CheckpointTracker(cfg.worker_id, cfg.checkpoint)
    committed: dict[str, SequenceNumber] = {}

    def checkpointer(shard_id: str):
        def commit(seq: SequenceNumber) -> None:
            committed[shard_id] = seq

        return commit

    processed_counts: list[int] = []
    batch_fn = foreach_batch_commit_flow(
        tracker, lambda df: processed_counts.append(df.count()), checkpointer
    )
    q = run_at_least_once(source(spark, cfg), cfg, batch_fn)
    q.awaitTermination(120)

    assert len(committed) == 4  # n_shards in the fixture
    for shard, seq in committed.items():
        t = tracker.start_shard(shard)
        assert t.last_checkpoint == seq  # checkpoint recorded
        assert t.is_complete  # fully drained (O6)


def test_commit_flow_collects_o_shards_not_o_records(spark):
    """The driver-side payload of the commit flow is one fixed-width
    range-summary row per shard — its size must not grow with the
    number of records in the micro-batch (the round-7 O2 fix)."""
    from pyspark import Row
    from kinesis_stream_spark.streaming.delivery import _shard_range_summaries

    def batch(n_per_shard: int):
        rows = [
            (f"shard-{s}", str(i), 0)
            for s in range(4)
            for i in range(n_per_shard)
        ]
        return spark.createDataFrame(
            rows, "shardId string, sequenceNumber string, subSequenceNumber int"
        )

    small = _shard_range_summaries(batch(3))
    large = _shard_range_summaries(batch(300))
    for rows, n in ((small, 3), (large, 300)):
        assert len(rows) == 4  # one row per shard, regardless of records
        for r in rows:
            assert set(r.asDict()) == {"shardId", "lo", "hi", "n"}
            fields = {"seqkey", "sub", "seq"}
            assert isinstance(r["lo"], Row) and set(r["lo"].asDict()) == fields
            assert isinstance(r["hi"], Row) and set(r["hi"].asDict()) == fields
            assert r["n"] == n
    # numeric, not lexicographic: seq "9" < seq "10" must order correctly
    two = spark.createDataFrame(
        [("s", "9", 0), ("s", "10", 0)],
        "shardId string, sequenceNumber string, subSequenceNumber int",
    )
    (row,) = _shard_range_summaries(two)
    assert int(row["lo"]["seq"]) == 9 and int(row["hi"]["seq"]) == 10


def test_commit_flow_orders_realistic_kinesis_sequence_numbers(spark):
    """Real Kinesis sequence numbers are ~56-digit decimal strings —
    wider than DECIMAL(38,0), which would cast them to NULL and break
    the endpoint pick (the round-8 ADVICE fix). The padded-string key
    must order them numerically and round-trip through Python int."""
    from kinesis_stream_spark.streaming.delivery import _shard_range_summaries

    lo = 49_590_338_271_490_256_608_559_692_538_361_571_095_921_575_989_136_588_898
    hi = lo + 10**40  # forces a carry well past 38 digits
    rows = [("s", str(hi), 1), ("s", str(lo), 7), ("s", str(lo + 1), 0)]
    (row,) = _shard_range_summaries(
        spark.createDataFrame(
            rows, "shardId string, sequenceNumber string, subSequenceNumber int"
        )
    )
    assert int(row["lo"]["seq"]) == lo and row["lo"]["sub"] == 7
    assert int(row["hi"]["seq"]) == hi and row["hi"]["sub"] == 1
    assert row["n"] == 3


def test_commit_flow_parallel_acks_every_shard(spark, stream_dir, tmp_path):
    """commitFlow `parallelism` knob (`CommitGraphStages.scala:16`): the
    bounded-parallel ack path commits every shard, same as serial."""
    cfg = _config(stream_dir, tmp_path)
    tracker = CheckpointTracker(cfg.worker_id, cfg.checkpoint)
    committed: dict[str, SequenceNumber] = {}

    def checkpointer(shard_id: str):
        return lambda seq: committed.__setitem__(shard_id, seq)

    batch_fn = foreach_batch_commit_flow(
        tracker, lambda df: None, checkpointer, parallelism=4
    )
    q = run_at_least_once(source(spark, cfg), cfg, batch_fn)
    q.awaitTermination(120)
    assert len(committed) == 4
    for shard in committed:
        assert tracker.start_shard(shard).is_complete


def test_commit_flow_lease_lost_stops_only_that_shard(spark, stream_dir, tmp_path):
    """O7: a lease-lost (ShutdownException-class) checkpoint failure stops
    THAT shard's tracking and lets the batch — and every other shard —
    complete (`RecordProcessorImpl.scala:141-143`)."""
    from kinesis_stream_spark.streaming.errors import ShardShutdownError

    cfg = _config(stream_dir, tmp_path)
    tracker = CheckpointTracker(cfg.worker_id, cfg.checkpoint)
    committed: dict[str, SequenceNumber] = {}
    lost_shard: list[str] = []

    def checkpointer(shard_id: str):
        def commit(seq: SequenceNumber) -> None:
            if not lost_shard:  # first shard to checkpoint loses its lease
                lost_shard.append(shard_id)
                raise ShardShutdownError("lease lost")
            committed[shard_id] = seq

        return commit

    batch_fn = foreach_batch_commit_flow(tracker, lambda df: None, checkpointer)
    q = run_at_least_once(source(spark, cfg), cfg, batch_fn)
    q.awaitTermination(120)  # must NOT raise: lease loss is benign

    assert len(lost_shard) == 1
    assert len(committed) == 3  # the other shards checkpointed normally
    assert lost_shard[0] not in committed


def test_commit_flow_fatal_checkpoint_fails_query(spark, stream_dir, tmp_path):
    """O7: an unclassified checkpoint failure is fatal — it escapes
    foreachBatch and fails the StreamingQuery (kill-switch path,
    `RecordProcessorImpl.scala:146-147`)."""
    cfg = _config(stream_dir, tmp_path)
    tracker = CheckpointTracker(cfg.worker_id, cfg.checkpoint)

    def checkpointer(shard_id: str):
        def commit(seq: SequenceNumber) -> None:
            raise RuntimeError("durable store corrupt")

        return commit

    batch_fn = foreach_batch_commit_flow(tracker, lambda df: None, checkpointer)
    q = run_at_least_once(source(spark, cfg), cfg, batch_fn)
    with pytest.raises(Exception, match="durable store corrupt"):
        q.awaitTermination(120)


def _range_batch(spark, rows):
    """A static micro-batch with the columns the commit flow reads."""
    return spark.createDataFrame(
        rows, "shardId string, sequenceNumber string, subSequenceNumber int"
    )


def _recording_checkpointer(committed: dict, asked: list):
    def checkpointer(shard_id: str):
        asked.append(shard_id)
        return lambda seq: committed.__setitem__(shard_id, seq)

    return checkpointer


def test_commit_flow_runs_range_summary_alongside_process(spark, monkeypatch):
    """The range summary runs while ``process_fn`` does, not before it:
    here the summary waits for ``process_fn`` to start, which a flow
    that summarizes first would never let happen."""
    started = threading.Event()
    real = delivery._shard_range_summaries

    def summary_after_process_starts(df):
        assert started.wait(20), "range summary did not run alongside process_fn"
        return real(df)

    monkeypatch.setattr(delivery, "_shard_range_summaries", summary_after_process_starts)
    committed: dict[str, SequenceNumber] = {}

    def process(df) -> None:
        started.set()
        df.count()

    batch_fn = foreach_batch_commit_flow(
        CheckpointTracker("w"), process, _recording_checkpointer(committed, [])
    )
    batch_fn(_range_batch(spark, [("s0", "5", 0), ("s0", "7", 0), ("s1", "3", 1)]), 0)
    assert committed == {"s0": SequenceNumber(7, 0), "s1": SequenceNumber(3, 1)}


def test_commit_flow_process_failure_joins_summary_and_checkpoints_nothing(
    spark, monkeypatch
):
    """If ``process_fn`` raises, its error surfaces, nothing is
    checkpointed, and the range summary still running beside it has
    finished — with its jobs in the caller's job group — by the time
    the batch function returns."""

    class Boom(Exception):
        pass

    started, summary_done = threading.Event(), threading.Event()
    real = delivery._shard_range_summaries

    def slow_summary(df):
        started.wait(20)
        time.sleep(0.5)  # still running when process_fn raises
        rows = real(df)
        summary_done.set()
        return rows

    def process(df) -> None:
        started.set()
        raise Boom("user processing failed")

    monkeypatch.setattr(delivery, "_shard_range_summaries", slow_summary)
    committed: dict[str, SequenceNumber] = {}
    asked: list[str] = []
    batch_fn = foreach_batch_commit_flow(
        CheckpointTracker("w"), process, _recording_checkpointer(committed, asked)
    )
    sc = spark.sparkContext
    group = f"commit-flow-failure-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(Boom, match="user processing failed"):
            batch_fn(_range_batch(spark, [("s0", "5", 0), ("s1", "3", 0)]), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary_done.is_set()
    status = sc.statusTracker()
    jobs = status.getJobIdsForGroup(group)
    assert jobs  # the summary's jobs inherited the caller's group
    assert all(status.getJobInfo(j).status != "RUNNING" for j in jobs)
    assert asked == [] and committed == {}


def test_commit_flow_oversize_sequence_number_fails_batch_after_process(spark):
    """A sequence number wider than the pad trips the summary's guard:
    the batch fails with nothing checkpointed, after ``process_fn`` has
    run (its side effects replay with the batch — at-least-once)."""
    processed: list[int] = []
    committed: dict[str, SequenceNumber] = {}
    asked: list[str] = []
    batch_fn = foreach_batch_commit_flow(
        CheckpointTracker("w"),
        lambda df: processed.append(df.count()),
        _recording_checkpointer(committed, asked),
    )
    wide = "1" * (delivery._SEQ_PAD_WIDTH + 1)
    with pytest.raises(Exception, match="sequenceNumber wider than pad"):
        batch_fn(_range_batch(spark, [("s0", "5", 0), ("s1", wide, 0)]), 0)
    assert processed == [2]
    assert asked == [] and committed == {}


def test_commit_flow_jobs_stay_in_the_stream_job_group(spark, stream_dir, tmp_path):
    """Every job of a drained micro-batch — the range summary's on its
    helper thread included — carries the stream's job group, so
    ``query.stop()`` cancels them all: no ungrouped job appears."""
    cfg = _config(stream_dir, tmp_path)
    src = source(spark, cfg)
    committed: dict[str, SequenceNumber] = {}
    batch_fn = foreach_batch_commit_flow(
        CheckpointTracker(cfg.worker_id, cfg.checkpoint),
        lambda df: df.count(),
        _recording_checkpointer(committed, []),
    )
    status = spark.sparkContext.statusTracker()
    before = set(status.getJobIdsForGroup(None))
    q = run_at_least_once(src, cfg, batch_fn)
    q.awaitTermination(120)
    assert len(committed) == 4
    assert set(status.getJobIdsForGroup(None)) - before == set()


def test_stream_session_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Session windows through an ACTUAL StreamingQuery (availableNow
    trigger + checkpointLocation) equal the batch run of the same
    session_window_agg code — the real-trigger counterpart of the
    batch-emulation oracle (stream_session_window)."""
    from kinesis_stream_spark.streaming.windows import session_window_agg

    cfg = _config(stream_dir, tmp_path)
    records = source(spark, cfg).select(
        F.col("approximateArrivalTimestamp").alias("ts"),
        # user_id rides as the partition key (events_to_envelope), not in
        # the JSON payload
        F.col("partitionKey").cast("long").alias("user_id"),
        F.get_json_object(F.col("data").cast("string"), "$.value")
        .cast("double")
        .alias("value"),
    )
    agg = session_window_agg(records, gap="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("session_out")
        .outputMode("complete")
        .option("checkpointLocation", cfg.checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.sum_value)
        for r in spark.table("session_out").collect()
    }
    events = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    want = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.sum_value)
        for r in session_window_agg(events, gap="10 minutes").collect()
    }
    assert got == want and len(got) > 0
    # the query really ran through the durable checkpoint machinery
    assert os.path.exists(os.path.join(cfg.checkpoint_location, "commits"))


def test_stream_watermarked_tumbling_append_finalizes_watermarked_windows(
    spark, sf_dir, stream_dir, tmp_path
):
    """Watermarked tumbling windows in APPEND mode through a real
    StreamingQuery: windows fully below the final watermark are emitted
    exactly once with batch-equal aggregates; windows the watermark has
    not passed stay in state (so append output is a prefix of batch)."""
    cfg = _config(stream_dir, tmp_path)
    records = source(spark, cfg).select(
        F.col("approximateArrivalTimestamp").alias("ts"),
        F.get_json_object(F.col("data").cast("string"), "$.event_type").alias(
            "event_type"
        ),
        F.get_json_object(F.col("data").cast("string"), "$.value")
        .cast("double")
        .alias("value"),
    )
    agg = tumbling_window_agg(
        records.withWatermark("ts", "1 hour"), duration="1 hour"
    )
    emitted: list = []
    q = (
        agg.writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", cfg.checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in emitted
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_window_agg(
            load_table(spark, sf_dir, "events"), duration="1 hour"
        ).collect()
    }
    assert len(got) > 0
    assert set(got) <= set(batch)
    for key, val in got.items():
        assert val == batch[key], key
    # append emitted no duplicates across micro-batches
    assert len(emitted) == len(got)


def test_parquet_sink_exactly_once(spark, sf_dir, stream_dir, tmp_path):
    """File-sink exactly-once: the _spark_metadata transaction log makes
    a restarted query idempotent — the reader sees each record once, and
    a restart appends nothing new."""
    from kinesis_stream_spark.streaming.delivery import run_to_parquet

    cfg = _config(stream_dir, tmp_path)
    out = str(tmp_path / "landed")
    records = source(spark, cfg)
    q = run_to_parquet(records, cfg, out)
    q.awaitTermination(120)
    n_events = load_table(spark, sf_dir, "events").count()
    landed = spark.read.parquet(out)
    assert landed.count() == n_events
    assert "sequenceNumber" in landed.columns
    # restart with the same checkpoint: no new data -> no new rows, no dupes
    q2 = run_to_parquet(source(spark, cfg), cfg, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_events
    # distinct (shard, seq) pairs == rows: nothing landed twice
    assert (
        spark.read.parquet(out).select("shardId", "sequenceNumber").distinct().count()
        == n_events
    )


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join through an actual StreamingQuery:
    clicks and purchases arrive as two independent file streams, join
    state is bounded by the watermark + time-range condition, and the
    joined output equals the batch run of the same interval_join code."""
    from kinesis_stream_spark.streaming.windows import interval_join

    events = load_table(spark, sf_dir, "events")
    clicks_dir = str(tmp_path / "clicks_in")
    purchases_dir = str(tmp_path / "purchases_in")
    clicks_b = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    purchases_b = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    clicks_b.write.mode("overwrite").parquet(clicks_dir)
    purchases_b.write.mode("overwrite").parquet(purchases_dir)

    clicks_s = (
        spark.readStream.schema("l_user bigint, l_ts timestamp")
        .parquet(clicks_dir)
        .withWatermark("l_ts", "1 hour")
    )
    purchases_s = (
        spark.readStream.schema("r_user bigint, r_ts timestamp, r_value double")
        .parquet(purchases_dir)
        .withWatermark("r_ts", "1 hour")
    )
    joined = interval_join(clicks_s, purchases_s, upper="10 minutes")
    got: list = []
    q = (
        joined.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    want = {
        (r.l_user, r.l_ts, r.r_ts, r.r_value)
        for r in interval_join(clicks_b, purchases_b, upper="10 minutes").collect()
    }
    assert {(r.l_user, r.l_ts, r.r_ts, r.r_value) for r in got} == want
    assert len(got) == len(want) > 0  # no duplicate emissions either


def test_stream_session_funnel_equals_batch(spark, sf_dir, tmp_path):
    """session_funnel_agg through a real StreamingQuery (session window +
    conditional aggregates are stream-legal) drains to the same
    per-session funnel rows as the batch run."""
    from kinesis_stream_spark.streaming.windows import session_funnel_agg

    events_b = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    in_dir = str(tmp_path / "funnel_in")
    events_b.write.mode("overwrite").parquet(in_dir)
    events_s = (
        spark.readStream.schema("ts timestamp, user_id bigint, event_type string")
        .parquet(in_dir)
        .withWatermark("ts", "1 hour")
    )
    q = (
        session_funnel_agg(events_s, gap="10 minutes")
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = lambda r: (r.user_id, r.session_start, r.n_from, r.n_to, r.converted)  # noqa: E731
    got = {key(r) for r in spark.table("funnel_out").collect()}
    want = {key(r) for r in session_funnel_agg(events_b, gap="10 minutes").collect()}
    assert got == want and len(got) > 0
    assert any(r[4] == 1 for r in got)  # at least one converted session


def test_stream_static_enrich_equals_batch(spark, sf_dir, tmp_path):
    """static_enrich_agg on a real event stream (broadcast customer dim
    re-planned per micro-batch) drains to the same per-(segment, type)
    aggregate the batch run produces."""
    from kinesis_stream_spark.streaming.windows import static_enrich_agg

    events_b = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        # every fixture user may have a customer row; add one guaranteed
        # orphan so the unmatched → 'UNKNOWN' path is actually exercised
        .unionByName(
            spark.createDataFrame(
                [(-1, "click", 1.5)], "user_id bigint, event_type string, value double"
            )
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    in_dir = str(tmp_path / "enrich_in")
    events_b.write.mode("overwrite").parquet(in_dir)

    events_s = spark.readStream.schema(
        "user_id bigint, event_type string, value double"
    ).parquet(in_dir)
    q = (
        static_enrich_agg(events_s, cust)
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.segment, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("enrich_out").collect()
    }
    want = {
        (r.segment, r.event_type): (r.n_events, r.sum_value)
        for r in static_enrich_agg(events_b, cust).collect()
    }
    assert got == want and len(got) > 0
    assert any(seg == "UNKNOWN" for seg, _ in got)  # unmatched users kept


def test_interval_join_watermark_evicts_state(spark, tmp_path):
    """The correctness property interval_join's docstring claims: the
    watermark + time bound lets the state store EVICT, so a left row
    arriving after the global watermark has passed its join window must
    NOT join — even though its matching right row was seen earlier and a
    batch run of the identical code does pair them."""
    from kinesis_stream_spark.streaming.windows import interval_join

    clicks_dir = str(tmp_path / "ev_clicks")
    purchases_dir = str(tmp_path / "ev_purch")
    os.makedirs(clicks_dir)
    os.makedirs(purchases_dir)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    late_click = (1, base + dt.timedelta(minutes=-2))  # 11:58, joins 12:00 in batch
    sentinel = base + dt.timedelta(hours=8)  # 20:00 — drives watermarks to 19:50

    def write(rows, schema, path):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)

    # round 1: the purchase at 12:00 enters join state; sentinel rows on
    # BOTH sides push both watermarks (and so the global one) to 19:50,
    # far past the purchase's last joinable left timestamp (12:00)
    write([(99, sentinel)], "l_user bigint, l_ts timestamp", clicks_dir)
    write(
        [(1, base, 5.0), (99, sentinel, 1.0)],
        "r_user bigint, r_ts timestamp, r_value double",
        purchases_dir,
    )

    def drain(sink: list):
        clicks_s = (
            spark.readStream.schema("l_user bigint, l_ts timestamp")
            .parquet(clicks_dir)
            .withWatermark("l_ts", "10 minutes")
        )
        purchases_s = (
            spark.readStream.schema("r_user bigint, r_ts timestamp, r_value double")
            .parquet(purchases_dir)
            .withWatermark("r_ts", "10 minutes")
        )
        return (
            interval_join(clicks_s, purchases_s, upper="10 minutes")
            .writeStream.foreachBatch(lambda df, bid: sink.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    first: list = []
    drain(first).awaitTermination(180)
    assert {(r.l_user, r.r_user) for r in first} == {(99, 99)}  # positive control

    # round 2: the matching click arrives LATE (11:58 ≪ watermark 19:50).
    # Its purchase partner either left the state store already or the
    # below-watermark filter drops the row — both surface as: no join.
    write([late_click], "l_user bigint, l_ts timestamp", clicks_dir)
    second: list = []
    drain(second).awaitTermination(180)
    assert all(r.l_user != 1 for r in second), second

    # the batch run of the identical code DOES pair them — proving the
    # stream's empty result is watermark eviction, not a missing match
    clicks_b = spark.createDataFrame([late_click], "l_user bigint, l_ts timestamp")
    purchases_b = spark.createDataFrame(
        [(1, base, 5.0)], "r_user bigint, r_ts timestamp, r_value double"
    )
    assert interval_join(clicks_b, purchases_b, upper="10 minutes").count() == 1


def test_dedup_within_watermark_evicts_and_readmits(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: duplicates
    inside the watermark window are dropped, but a key re-arriving AFTER
    its state was evicted is emitted again — bounded state, unlike
    dropDuplicates, whose state (and suppression) is forever."""
    from kinesis_stream_spark.streaming.windows import dedup_within_watermark

    src = str(tmp_path / "dd_src")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    sentinel = base + dt.timedelta(hours=8)  # drives watermark to 19:50

    def write(rows):
        spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain(sink: list):
        s = spark.readStream.schema("k string, ts timestamp").parquet(src)
        return (
            dedup_within_watermark(s, ["k"], ts_col="ts", delay="10 minutes")
            .writeStream.foreachBatch(lambda df, bid: sink.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    # round 1: A plus an in-window duplicate of A, and the sentinel
    write([("A", base), ("A", base + dt.timedelta(minutes=1)), ("Z", sentinel)])
    first: list = []
    drain(first).awaitTermination(180)
    assert len([r for r in first if r.k == "A"]) == 1
    assert len([r for r in first if r.k == "Z"]) == 1

    # round 2: A's state (expiry 12:10) is far below the watermark
    # (19:50) — evicted — so a fresh A is re-admitted; Z's duplicate is
    # still inside its window and stays suppressed
    write([("A", sentinel - dt.timedelta(minutes=5)), ("Z", sentinel)])
    second: list = []
    drain(second).awaitTermination(180)
    assert [r.k for r in second] == ["A"], second


def test_run_upsert_latest_maintains_scd1_across_batches(spark, tmp_path):
    """Streaming dimension upsert: three ingest rounds maintain a
    latest-status-per-user snapshot; the final snapshot equals the batch
    answer over all events, and re-running a drained query (replay
    no-op) leaves the state unchanged."""
    from kinesis_stream_spark.streaming.delivery import (
        _latest_snapshot,
        run_upsert_latest,
    )

    src = str(tmp_path / "up_src")
    state = str(tmp_path / "up_state")
    os.makedirs(src)
    base = dt.datetime(2024, 6, 1, 12, 0, 0)

    def write(rows):
        spark.createDataFrame(
            rows, "user_id string, ts timestamp, status string"
        ).coalesce(1).write.mode("append").parquet(src)

    cfg = _config(src, tmp_path)

    def drain():
        s = spark.readStream.schema("user_id string, ts timestamp, status string").parquet(src)
        run_upsert_latest(
            s,
            cfg,
            keys=["user_id"],
            order_cols=["ts"],
            value_cols=["status"],
            state_root=state,
        ).awaitTermination(180)

    def snapshot():
        return {
            r.user_id: (r.ts, r.status)
            for r in spark.read.parquet(_latest_snapshot(state)).collect()
        }

    write([("u1", base, "A"), ("u2", base, "A")])
    drain()
    assert snapshot() == {"u1": (base, "A"), "u2": (base, "A")}

    # round 2: u1 advances; an out-of-order OLD u2 row must NOT win
    later = base + dt.timedelta(hours=1)
    write([("u1", later, "B"), ("u2", base - dt.timedelta(hours=1), "Z")])
    drain()
    assert snapshot() == {"u1": (later, "B"), "u2": (base, "A")}

    # round 3: new key; drained re-run afterwards is a no-op
    write([("u3", later, "C")])
    drain()
    expect = {"u1": (later, "B"), "u2": (base, "A"), "u3": (later, "C")}
    assert snapshot() == expect
    drain()
    assert snapshot() == expect
