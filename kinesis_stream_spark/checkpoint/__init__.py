"""Checkpoint tracking — the reference's core algorithm as a pure-Python
engine module.

Reference: `checkpoint/ShardCheckpointTrackerActor.scala` (per-shard
out-of-order ack tracking with contiguous-prefix checkpointing),
`checkpoint/CheckpointTrackerActor.scala` (per-worker shard registry),
`checkpoint/CheckpointTracker.scala` (façade + config defaults).

In Spark Structured Streaming the *durable* commit path is the offset/commit
log at ``checkpointLocation`` (a micro-batch commits "everything up to offset
X per partition", which IS the contiguous-prefix property). This module
exists for (a) 1:1 behavioral parity with the reference's tested semantics
and (b) fine-grained intra-batch progress tracking inside ``foreachBatch``
sinks (see ``kinesis_stream_spark.streaming``).
"""

from kinesis_stream_spark.checkpoint.tracker import (
    CheckpointConfig,
    CheckpointTimeoutError,
    CheckpointTracker,
    SequenceNumber,
    ShardCheckpointTracker,
    ShardSnapshot,
    ShutdownException,
    TrackerInactiveError,
)

__all__ = [
    "CheckpointConfig",
    "CheckpointTimeoutError",
    "CheckpointTracker",
    "SequenceNumber",
    "ShardCheckpointTracker",
    "ShardSnapshot",
    "ShutdownException",
    "TrackerInactiveError",
]
