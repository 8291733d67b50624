"""tracker_acks: the reference's per-record ack path, driven directly.

Each KCL-sized batch cycle tracks one batch of sequence numbers on its
shard, delivers the acks that arrive during the cycle (shuffled, with
seeded stragglers and duplicates), then calls ``checkpoint_if_needed``
for the batch's shard. The tracker runs with the reference defaults
(buffer 10,000, 60 s) on a virtual clock advanced per cycle, so the
checkpoints it commits repeat exactly for a seed. No Spark is involved.

The closed loop is one worker: a cycle starts when the previous one has
returned.

Raw pass times of the same code differ by 40% between runs on a shared
host (see ``harness.speed_probe``). Every ``PROBE_EVERY`` cycles the pass
therefore runs the speed probe, with the collector off, and each cycle's
time is scaled to the host speed at which the probe takes
``harness.PROBE_REF_S``. A cycle and the probes around it run within
milliseconds of each other on the same thread, so the scaled times keep
the tracker's cost and lose most of the host's swing.
"""

from __future__ import annotations

import gc
import time

from kinesis_stream_spark.checkpoint import CheckpointConfig, CheckpointTracker, SequenceNumber

from gen import N_SHARDS, AckSchedule, shard_name
from harness import PROBE_REF_S, speed_probe

#: virtual seconds per batch cycle
CYCLE_S = 0.1
#: batch cycles between two runs of the speed probe
PROBE_EVERY = 100
SHARDS = tuple(shard_name(s) for s in range(N_SHARDS))

Commit = tuple[int, str, tuple[int, int]]  # (cycle, shard, (seq, sub))


class VirtualClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def quiet_probe() -> float:
    """The speed probe with the collector off, so that its time depends
    on the host alone and not on the tracker's heap."""
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        return speed_probe()
    finally:
        if was_enabled:
            gc.enable()


def scaled(times: list[float], probes: list[float]) -> list[float]:
    """Each time scaled to the reference host speed, by the mean of the
    probes just before and just after its chunk of ``PROBE_EVERY``."""
    out = []
    for i, t in enumerate(times):
        k = i // PROBE_EVERY
        out.append(t * 2 * PROBE_REF_S / (probes[k] + probes[min(k + 1, len(probes) - 1)]))
    return out


def prepare(schedule: AckSchedule) -> tuple[list, list]:
    """The schedule as the tracker's own types: every ack refers to the
    same ``SequenceNumber`` object that was tracked, as a KCL record's
    ``markProcessed`` does."""
    batches = [
        (shard, [SequenceNumber(seq, sub) for seq, sub in seqs]) for shard, seqs in schedule.batches
    ]
    acks = [[(batches[b][0], batches[b][1][i]) for b, i in cycle] for cycle in schedule.acks]
    return batches, acks


def replay(batches: list, acks: list, tracker_wrapper=None) -> dict:
    """One pass over the schedule with a fresh tracker. Returns the
    commits, the raw and scaled time of each batch cycle, the speed
    probes taken between chunks of cycles, and the scaled pass time."""
    clock = VirtualClock()
    tracker = CheckpointTracker("perfbench-acks", clock=clock)
    if tracker_wrapper is not None:
        tracker = tracker_wrapper(tracker)
    for shard in SHARDS:
        tracker.start_shard(shard)
    commits: list[Commit] = []
    cycle = 0

    def checkpointer_for(shard: str):
        def commit(seq: SequenceNumber) -> None:
            commits.append((cycle, shard, (seq.seq, seq.sub)))

        return commit

    checkpointers = {shard: checkpointer_for(shard) for shard in SHARDS}
    cycle_s: list[float] = []
    probes = [quiet_probe()]
    failures = 0
    for cycle, (shard, seqs) in enumerate(batches):
        clock.now = cycle * CYCLE_S
        t0 = time.perf_counter()
        try:
            tracker.track(shard, seqs)
            for ack_shard, seq in acks[cycle]:
                tracker.process(ack_shard, seq)
            tracker.checkpoint_if_needed(shard, checkpointers[shard])
        except Exception:  # a failed cycle is counted, the pass goes on
            failures += 1
        cycle_s.append(time.perf_counter() - t0)
        if cycle % PROBE_EVERY == PROBE_EVERY - 1 or cycle == len(batches) - 1:
            probes.append(quiet_probe())
    # shutdown drain: the last stragglers land, then every shard is
    # force-checkpointed (the shard-end path)
    cycle = len(batches)
    clock.now = cycle * CYCLE_S
    t0 = time.perf_counter()
    for late in acks[len(batches):]:
        for ack_shard, seq in late:
            tracker.process(ack_shard, seq)
    for shard in SHARDS:
        tracker.checkpoint_if_needed(shard, checkpointers[shard], force=True)
    end = time.perf_counter()
    scaled_cycle_s = scaled(cycle_s, probes)
    return {
        "commits": commits,
        "cycle_s": cycle_s,
        "probe_s": probes,
        "scaled_cycle_s": scaled_cycle_s,
        "pass_s": sum(scaled_cycle_s) + (end - t0) * PROBE_REF_S / probes[-1],
        "failures": failures,
    }


def reference_commits(schedule: AckSchedule, config: CheckpointConfig | None = None) -> list[Commit]:
    """Brute-force contiguous-prefix model of the same schedule.

    Independent of the tracker's deque/set bookkeeping: per shard it keeps
    every sequence number ever tracked, the set of every ack ever seen,
    and the index of the first uncommitted number. When the trigger fires
    it rescans from that index for the longest fully acked run; a
    non-empty run commits its last number."""
    config = config or CheckpointConfig()
    seqs = {s: [] for s in SHARDS}
    acked = {s: set() for s in SHARDS}
    head = dict.fromkeys(SHARDS, 0)
    last_time = dict.fromkeys(SHARDS, 0.0)
    out: list[Commit] = []

    def attempt(shard: str, cycle: int, now: float, force: bool) -> None:
        pending = len(seqs[shard]) - head[shard]
        if not (force or pending >= config.max_buffer_size or now - last_time[shard] >= config.max_duration_s):
            return
        i = head[shard]
        while i < len(seqs[shard]) and seqs[shard][i] in acked[shard]:
            i += 1
        if i > head[shard]:
            out.append((cycle, shard, seqs[shard][i - 1]))
            head[shard] = i
            last_time[shard] = now

    for cycle, (shard, batch) in enumerate(schedule.batches):
        now = cycle * CYCLE_S
        seqs[shard].extend(batch)
        for b, i in schedule.acks[cycle]:
            acked[schedule.batches[b][0]].add(schedule.batches[b][1][i])
        attempt(shard, cycle, now, force=False)
    cycle = len(schedule.batches)
    for late in schedule.acks[cycle:]:
        for b, i in late:
            acked[schedule.batches[b][0]].add(schedule.batches[b][1][i])
    for shard in SHARDS:
        attempt(shard, cycle, cycle * CYCLE_S, force=True)
    return out


def check(commits: list[Commit], expected: list[Commit]) -> list[str]:
    """Every committed checkpoint must equal the model's, in order."""
    if commits == expected:
        return []
    for i, (got, want) in enumerate(zip(commits, expected)):
        if got != want:
            return [f"checkpoint #{i}: tracker {got} != model {want}"]
    return [f"{len(commits)} checkpoints committed, model has {len(expected)}"]
