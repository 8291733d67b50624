"""stream_drain: a TRIM_HORIZON catch-up over a seeded envelope backlog.

Pipeline, all through the package's public surface::

    source(max_files_per_trigger=1)
      -> run_at_least_once(
           foreach_batch_commit_flow(
             tracker,
             decode_json_payload + per-(shard, event_type) count/sum,
             fsync'd per-shard checkpointer))

The loop is closed: Spark admits the next micro-batch only after the
previous one has committed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kinesis_stream_spark.checkpoint import CheckpointTracker, SequenceNumber
from kinesis_stream_spark.streaming import ConsumerConfig, InitialPosition, decode_json_payload, source
from kinesis_stream_spark.streaming.delivery import foreach_batch_commit_flow, run_at_least_once

from spans import Spans, timed

#: one parquet file per micro-batch
FILES = 8
RECORDS_PER_FILE = 10_000
WARMUP_FILES = 4


class DurableCheckpointer:
    """Per-shard checkpoint store: each commit is written to a temp file,
    fsync'd and renamed over the shard's checkpoint file."""

    def __init__(self, root: str, spans: Spans | None) -> None:
        self.root = root
        self.spans = spans
        os.makedirs(root, exist_ok=True)

    def __call__(self, shard: str):
        def commit(seq: SequenceNumber) -> None:
            t0 = time.perf_counter()
            path = os.path.join(self.root, shard)
            with open(path + ".tmp", "w") as fh:
                fh.write(f"{seq.seq},{seq.sub}")
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(path + ".tmp", path)
            if self.spans is not None:
                self.spans.add("checkpoint.commit", t0, time.perf_counter())

        return commit

    def read_back(self) -> dict[str, tuple[int, int]]:
        """The durable checkpoints as they are on disk."""
        out = {}
        for shard in os.listdir(self.root):
            if shard.endswith(".tmp"):
                continue
            with open(os.path.join(self.root, shard)) as fh:
                seq, sub = fh.read().split(",")
            out[shard] = (int(seq), int(sub))
        return out


def drain(spark, stream_dir: str, workdir: str, name: str, spans: Spans | None = None) -> dict:
    """Drain ``stream_dir`` from TRIM_HORIZON to its end, one file per
    micro-batch. Returns the sink's totals, the checkpoints, the drain
    wall time and Spark's per-batch progress."""
    tracker = CheckpointTracker("perfbench-worker")
    if spans is not None:
        tracker = spans.wrap_tracker(tracker)
    checkpointer = DurableCheckpointer(os.path.join(workdir, name, "shard-checkpoints"), spans)
    totals: dict[tuple[str, str], list] = {}

    def process_fn(df) -> None:
        rows = (
            decode_json_payload(df)
            .groupBy("shardId", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        )
        for r in rows:
            acc = totals.setdefault((r["shardId"], r["event_type"]), [0, 0.0])
            acc[0] += r["n"]
            acc[1] += r["total"]

    if spans is not None:
        process_fn = timed(spans, "envelope.process", process_fn)
    batch_fn = foreach_batch_commit_flow(tracker, process_fn, checkpointer)
    if spans is not None:
        batch_fn = timed(spans, "delivery.batch", batch_fn)
    config = ConsumerConfig(
        stream_path=stream_dir,
        app_name=name,
        checkpoint_root=os.path.join(workdir, "spark-checkpoints"),
        initial_position=InitialPosition.TRIM_HORIZON,
        max_files_per_trigger=1,
    )
    t0 = time.perf_counter()
    query = run_at_least_once(source(spark, config), config, batch_fn)
    query.awaitTermination()
    wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    return {
        "totals": totals,
        "committed": checkpointer.read_back(),
        "wall_s": wall,
        "progress": progress,
        "batches": len(progress),
    }


def check(result: dict, backlog) -> list[str]:
    """Compare a drain with the generator's own totals."""
    problems = []
    committed = sum(n for n, _ in result["totals"].values())
    if committed != backlog.n_records:
        problems.append(f"committed {committed} records, generated {backlog.n_records}")
    if result["committed"] != backlog.final_checkpoint:
        problems.append(
            f"final checkpoints {result['committed']} != generator max {backlog.final_checkpoint}"
        )
    got, want = result["totals"], backlog.totals
    if set(got) != set(want):
        problems.append(f"(shard, event_type) groups differ: {sorted(set(got) ^ set(want))[:4]}")
    for key in set(got) & set(want):
        (n, s), (wn, ws) = got[key], want[key]
        if n != wn:
            problems.append(f"{key}: count {n} != {wn}")
        if abs(s - ws) > 1e-9 * max(abs(ws), 1.0):
            problems.append(f"{key}: sum {s!r} != {ws!r}")
    return problems
