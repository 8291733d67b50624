"""Delivery semantics (reference O2 commitFlow + README.md:38-43).

The reference chooses delivery semantics by WHERE the ack stage sits:
``source → commitFlow → process`` = at-most-once (ack before work),
``source → process → commitFlow`` = at-least-once (ack after work).

Spark Structured Streaming commits a micro-batch's offsets AFTER its sink
completes — at-least-once by construction, upgraded to effectively-once by
an idempotent or transactional sink. At-most-once needs the inverse order
(mark progress, then do the work); micro-batch replay makes that expressible
per-batch, not per-record: we persist a batch marker BEFORE side effects and
skip already-marked batches on replay. The gap vs the reference's per-record
ack is documented honestly here: a crash mid-batch loses that whole batch
(at-most-once allows loss), never duplicates it.

``foreach_batch_commit_flow`` additionally threads the parity
CheckpointTracker through a batch, reproducing the reference's
track→process→checkpoint ack path per shard inside one micro-batch:
the per-shard range summary and its ``track`` calls run alongside the
user's processing (as KCL's thread tracks while the stream threads
process), and only the acks and checkpoints wait for both.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_stream_spark.checkpoint import CheckpointTracker, SequenceNumber
from kinesis_stream_spark.streaming.consumer import ConsumerConfig, _is_restart, write_durably
from kinesis_stream_spark.streaming.errors import checkpoint_with_taxonomy

BatchFn = Callable[[DataFrame, int], None]


#: Kinesis sequence numbers are decimal strings of up to 128 digits
#: (~56 in practice) — far past DECIMAL(38,0), whose non-ANSI cast
#: would NULL them out. Zero-padding to a fixed width makes string
#: ordering coincide with numeric ordering for non-negative integers.
_SEQ_PAD_WIDTH = 160


def _shard_range_summaries(df: DataFrame) -> list:
    """One fixed-width row per shard: (shardId, lo, hi, n) where lo/hi
    are the min/max (seq, sub) structs and n the record count. The
    collected payload is O(shards) by construction — min/max/count are
    map-side-combinable partial aggregates, and no per-record value
    survives the aggregation. Sequence numbers compare NUMERICALLY:
    the struct's leading field is the sequence string zero-padded to
    ``_SEQ_PAD_WIDTH`` (lexicographic == numeric for equal-width
    non-negative decimals), so "10" < "9"-style string corruption of
    the tracker's contiguous-prefix arithmetic is impossible, and —
    unlike a DECIMAL(38,0) cast, which silently NULLs realistic
    ~56-digit Kinesis ids — no width limit short of the pad is hit.
    The unpadded string rides along as a payload field; the driver
    converts it with Python's arbitrary-precision ``int``."""
    seq_str = F.col("sequenceNumber").cast("string")
    too_wide = F.length(seq_str) > _SEQ_PAD_WIDTH
    pair = F.struct(
        # fail loudly rather than let lpad truncate an oversize id
        F.when(
            too_wide,
            F.raise_error(
                F.concat(F.lit("sequenceNumber wider than pad: "), seq_str)
            ),
        )
        .otherwise(F.lpad(seq_str, _SEQ_PAD_WIDTH, "0"))
        .alias("seqkey"),
        F.col("subSequenceNumber").alias("sub"),
        seq_str.alias("seq"),
    )
    return (
        df.groupBy("shardId")
        .agg(
            F.min(pair).alias("lo"),
            F.max(pair).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )


def _start(writer, config: ConsumerConfig, output_mode: str, available_now: bool):
    """Start a delivery mode's query: Spark's offset log at
    ``config.checkpoint_location``, ``output_mode``, and an
    ``availableNow`` trigger when asked. Every mode starts here, so
    every mode keeps its offset log where a LATEST
    :func:`~kinesis_stream_spark.streaming.consumer.source` keys its
    persisted cutoff."""
    writer = writer.option("checkpointLocation", config.checkpoint_location).outputMode(
        output_mode
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_at_least_once(
    records: DataFrame,
    config: ConsumerConfig,
    batch_fn: BatchFn,
    *,
    available_now: bool = True,
):
    """source → process → commit (`README.md:43`): offsets are committed
    only after ``batch_fn`` returns, so a crash replays the batch.
    Duplicates are possible, loss is not — identical to the reference's
    commit-after-processing placement."""
    return _start(records.writeStream.foreachBatch(batch_fn), config, "append", available_now)


def run_at_most_once(
    records: DataFrame,
    config: ConsumerConfig,
    batch_fn: BatchFn,
    *,
    available_now: bool = True,
):
    """source → commit → process (`README.md:42`): progress is persisted
    BEFORE side effects, so a replayed batch is skipped, not re-run. Loss
    is possible (crash mid-batch), duplicates are not. The batch markers
    count only on a restart; a new app at the same location clears them."""
    marker_dir = config.checkpoint_location + "_committed"
    if not _is_restart(config.checkpoint_location):
        shutil.rmtree(marker_dir, ignore_errors=True)
    os.makedirs(marker_dir, exist_ok=True)

    def guarded(df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            return  # replay of a batch whose work already started: drop it
        write_durably(marker, "begun")  # commit intent durably, THEN process
        batch_fn(df, batch_id)

    return _start(records.writeStream.foreachBatch(guarded), config, "append", available_now)


def run_to_parquet(
    records: DataFrame,
    config: ConsumerConfig,
    output_dir: str,
    *,
    available_now: bool = True,
    partition_by: list[str] | None = None,
):
    """source → exactly-once parquet file sink — the delivery tier above
    the reference's at-least-once (`README.md:38-43` stops at
    "effectively once with idempotent consumers"; Spark's file sink
    provides it natively). Each micro-batch's files are recorded in the
    sink's ``_spark_metadata`` transaction log keyed by batch id; a
    replayed batch overwrites its own entry, so a reader of
    ``output_dir`` observes every record exactly once even across
    crash-replay. At scale this is the standard stream→lake landing
    path; ``partition_by`` (e.g. event date) keeps downstream scans
    partition-pruned.
    """
    writer = records.writeStream.format("parquet").option("path", output_dir)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _start(writer, config, "append", available_now)


def foreach_batch_commit_flow(
    tracker: CheckpointTracker,
    process_fn: Callable[[DataFrame], None],
    checkpointer: Callable[[str], Callable[[SequenceNumber], None]],
    *,
    parallelism: int = 1,
) -> BatchFn:
    """commitFlow parity inside a micro-batch (`CommitGraphStages.scala:16-17`).

    Per shard in the batch: track the batch's sequence-number range, run
    the user's processing, ack the range, then force a checkpoint — the
    reference's processRecords → markProcessed → checkpointIfNeeded cycle
    (`RecordProcessorImpl.scala:42-53`), with the micro-batch as the unit.
    ``checkpointer(shard_id)`` supplies the per-shard durable-commit callable.

    Cycle: (range summary + track) ∥ process, then ack and checkpoint.
    The summary and its ``track`` calls run on a per-batch helper thread
    while ``process_fn`` runs on the calling thread — as the reference's
    KCL thread tracks batch N+1 while the stream threads process batch
    N (`RecordProcessorImpl.scala:42-64`). Track and process both
    precede every ack. A micro-batch thus keeps two jobs in flight; the
    helper inherits the calling thread's Spark job group, description
    and tags, so ``query.stop()`` cancels both. On any failure the
    helper is joined before the error is raised: no Spark job of the
    batch outlives the batch function.

    Scale note: the driver collects one ``(shard, min, max, count)``
    RANGE SUMMARY per shard — a fixed-width aggregate row, O(shards)
    regardless of batch row count (pinned by test) — and feeds the
    tracker the two endpoint sequence numbers instead of every record.
    This is lossless for the committed checkpoint: ``process_fn``
    processes the micro-batch atomically, so all of a shard's records
    ack together and the contiguous-prefix commit lands on the shard's
    max either way; per-RECORD granularity remains available in the
    tracker itself (the O4 suites drive it directly), this flow just
    feeds it a batch-granular range. The durable commit at scale is
    Spark's offset log (run_at_least_once). A sequence number wider
    than ``_SEQ_PAD_WIDTH`` fails the summary, and so the batch, with
    nothing acked or checkpointed — but only after ``process_fn`` has
    run, so its side effects replay with the batch (at-least-once).

    Checkpoint failures go through the O7 taxonomy
    (`RecordProcessorImpl.scala:126-148` via streaming/errors.py):
    transient → log + continue, lease lost → stop tracking that shard
    (others continue), fatal → raise out of foreachBatch, failing the
    micro-batch and hence the query (the kill-switch path).

    ``parallelism`` is the commitFlow knob (`CommitGraphStages.scala:16`:
    ``mapAsync(parallelism)`` over acks, default 1): the per-shard
    ack+checkpoint cycles run on a bounded thread pool of that size.
    An ack posts to its shard's inbox without a lock, and a checkpoint
    applies its own shard's acks under that shard's lock, so each
    shard's cycle is independent. The taxonomy is applied per shard — a
    fatal error in any shard's cycle propagates after all cycles settle
    (first fatal wins, matching the kill-switch's first-cause
    semantics).
    """

    def run(df: DataFrame, batch_id: int) -> None:
        def seqs_of(row) -> list[SequenceNumber]:
            lo = SequenceNumber(int(row["lo"]["seq"]), int(row["lo"]["sub"]))
            hi = SequenceNumber(int(row["hi"]["seq"]), int(row["hi"]["sub"]))
            return [lo] if lo == hi else [lo, hi]

        def summarize_and_track() -> list:
            rows = _shard_range_summaries(df)
            for row in rows:
                tracker.start_shard(row["shardId"])
                tracker.track(row["shardId"], seqs_of(row))
            return rows

        with ThreadPoolExecutor(max_workers=1) as helper:
            summary = helper.submit(inheritable_thread_target(df.sparkSession)(summarize_and_track))
            process_fn(df)
            shard_seqs = summary.result()

        def ack_cycle(row) -> None:
            shard = row["shardId"]
            for s in seqs_of(row):
                tracker.process(shard, s)
            checkpoint_with_taxonomy(
                lambda: tracker.checkpoint_if_needed(shard, checkpointer(shard), force=True),
                shard,
                on_stop_shard=tracker.shutdown_shard,
            )

        if parallelism <= 1:
            for row in shard_seqs:
                ack_cycle(row)
        else:
            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                futures = [pool.submit(ack_cycle, row) for row in shard_seqs]
                errors = [f.exception() for f in futures]
            for err in errors:
                if err is not None:
                    raise err

    return run


def run_upsert_latest(
    records: DataFrame,
    config: ConsumerConfig,
    *,
    keys: list[str],
    order_cols: list[str],
    value_cols: list[str],
    state_root: str,
    available_now: bool = True,
):
    """Streaming SCD1 maintenance: keep a "latest row per key" table
    continuously up to date from the stream — the dimension-upsert sink
    the file sink's append-only model can't express.

    Each micro-batch merges into a VERSIONED snapshot: read the current
    snapshot, union the batch, take the per-key max of
    ``struct(order_cols…, value_cols…)`` (deterministic under ties —
    every tiebreak is part of the ordering), and write snapshot
    ``v{batch_id}``. Readers resolve the highest version. Crash-replay
    of a batch rewrites the SAME version with the SAME content
    (groupBy-max is idempotent), so the handoff is effectively-once —
    the same recipe as run_to_parquet's transaction log, done manually
    because the merge needs read-your-own-state.

    This is the poor-man's Delta/Iceberg MERGE: at production scale use
    a table format with compaction; the per-batch merge plan (union +
    keyed struct-max agg) is exactly what a MERGE executes anyway.
    Snapshot size is O(|keys|), not O(stream) — the state self-compacts
    every batch.

    Spark's offset log lives at ``config.checkpoint_location``, the same
    location a LATEST :func:`~kinesis_stream_spark.streaming.consumer.source`
    keys its persisted cutoff to, so a restart keeps the first start's
    cutoff like the other delivery modes.
    """
    ordered = [*order_cols, *value_cols]

    def upsert(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        merged = df.select(*keys, F.struct(*ordered).alias("_obs"))
        prev = _latest_snapshot(state_root, before=batch_id)
        if prev is not None:
            cur = spark.read.parquet(prev).select(
                *keys, F.struct(*ordered).alias("_obs")
            )
            merged = merged.unionByName(cur)
        out = (
            merged.groupBy(*keys)
            .agg(F.max("_obs").alias("_obs"))
            .select(*keys, *[F.col(f"_obs.{c}").alias(c) for c in ordered])
        )
        out.write.mode("overwrite").parquet(os.path.join(state_root, f"v{batch_id}"))

    return _start(records.writeStream.foreachBatch(upsert), config, "update", available_now)


def _latest_snapshot(state_root: str, *, before: int | None = None) -> str | None:
    """Highest-numbered committed snapshot dir (optionally below a batch
    id, so a replayed batch never merges its own partial output)."""
    if not os.path.isdir(state_root):
        return None
    versions = sorted(
        int(d[1:])
        for d in os.listdir(state_root)
        if d.startswith("v") and d[1:].isdigit()
    )
    if before is not None:
        versions = [v for v in versions if v < before]
    return os.path.join(state_root, f"v{versions[-1]}") if versions else None
