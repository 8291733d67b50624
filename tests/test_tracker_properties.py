"""Property-based invariants for the checkpoint tracker (hypothesis).

The example-based suite transcribes the reference's spec cases 1:1; these
properties assert the algorithm's laws over arbitrary interleavings of
track / process / checkpoint, which no finite example list can:

1. A committed checkpoint is always the highest CONTIGUOUS processed
   sequence number — never past a gap, never behind a fully-processed
   prefix that triggered a commit.
2. Checkpoints never regress, and late re-acks below the last checkpoint
   are ignored.
3. After force-checkpointing with everything processed, nothing remains
   tracked (drain invariant used at shard end / shutdown).
4. Under the trigger policy (buffer size, duration on a virtual clock,
   force) with duplicate, late and early acks and failing or overrunning
   checkpointers, every commit, ``tracked``, ``is_complete`` and
   ``snapshot()`` equal a naive list-and-set model's.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kinesis_stream_spark.checkpoint import (
    CheckpointConfig,
    CheckpointTimeoutError,
    SequenceNumber,
    ShardCheckpointTracker,
    ShardSnapshot,
)


class Recorder:
    def __init__(self) -> None:
        self.commits: list[SequenceNumber] = []

    def __call__(self, seq: SequenceNumber) -> None:
        self.commits.append(seq)


# A scenario: how many records to track, which (by index) get processed, in
# what order, and where force-checkpoints are interleaved.
scenarios = st.integers(min_value=1, max_value=30).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.permutations(range(n)),
        st.integers(min_value=0, max_value=n),  # how many of the permutation to process
        st.sets(st.integers(min_value=0, max_value=n), max_size=5),  # checkpoint points
    )
)


@settings(max_examples=300, deadline=None)
@given(scenarios)
def test_checkpoint_is_highest_contiguous_and_monotone(scenario):
    n, order, n_process, checkpoint_after = scenario
    seqs = [SequenceNumber(i) for i in range(n)]
    tracker = ShardCheckpointTracker("shard-p", CheckpointConfig(max_buffer_size=10**9))
    rec = Recorder()
    tracker.track(seqs)

    processed: set[int] = set()
    for step, idx in enumerate(order[:n_process]):
        tracker.process(seqs[idx])
        processed.add(idx)
        if step in checkpoint_after:
            tracker.checkpoint_if_needed(rec, force=True)
            _assert_commit_is_contiguous_prefix(rec, processed, n)
    tracker.checkpoint_if_needed(rec, force=True)
    _assert_commit_is_contiguous_prefix(rec, processed, n)

    # monotone: every commit strictly above the previous one
    assert rec.commits == sorted(set(rec.commits))


def _assert_commit_is_contiguous_prefix(rec, processed, n):
    expected = -1
    while expected + 1 < n and (expected + 1) in processed:
        expected += 1
    if rec.commits:
        assert rec.commits[-1] == SequenceNumber(expected)
    else:
        assert expected == -1  # nothing contiguous yet -> no commit allowed


@settings(max_examples=200, deadline=None)
@given(st.permutations(range(12)))
def test_full_processing_any_order_drains(order):
    seqs = [SequenceNumber(i) for i in range(12)]
    tracker = ShardCheckpointTracker("shard-d", CheckpointConfig(max_buffer_size=10**9))
    rec = Recorder()
    tracker.track(seqs)
    for idx in order:
        tracker.process(seqs[idx])
    tracker.checkpoint_if_needed(rec, force=True)
    assert rec.commits[-1] == SequenceNumber(11)
    assert tracker.tracked == ()  # drained
    # late duplicate ack below the checkpoint is benign and ignored
    tracker.process(seqs[0])
    tracker.checkpoint_if_needed(rec, force=True)
    assert rec.commits[-1] == SequenceNumber(11)


# --- policy triggers against a brute-force model -----------------------------

UNIVERSE = 40  # sequence numbers 0..39, tracked in order a few at a time
DURATION_S = 3.0
TIMEOUT_S = 1.0

operations = st.lists(
    st.one_of(
        st.tuples(st.just("track"), st.integers(min_value=0, max_value=4)),
        # acks by offset from the first uncommitted number: below it (late),
        # at or past it (duplicates come free), past the tracked (early);
        # listed twice so that acks are a third of the operations
        st.tuples(st.just("ack"), st.integers(min_value=-2, max_value=6)),
        st.tuples(st.just("ack"), st.integers(min_value=-2, max_value=6)),
        st.tuples(st.just("tick"), st.sampled_from([0.5, 1.0, 2.5])),
        st.tuples(
            st.just("checkpoint"), st.booleans(), st.sampled_from(["ok", "raise", "overrun"])
        ),
    ),
    min_size=20,
    max_size=80,
)


class VirtualClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


class NaiveModel:
    """Every number ever tracked in a list, every ack ever seen in a set,
    and the index of the first uncommitted number; each checkpoint rescans
    from that index."""

    def __init__(self, buffer: int) -> None:
        self.buffer = buffer
        self.seqs: list[int] = []
        self.acked: set[int] = set()
        self.head = 0
        self.last_time = 0.0
        self.commits: list[SequenceNumber] = []

    def due(self, now: float) -> bool:
        return len(self.seqs) - self.head >= self.buffer or now - self.last_time >= DURATION_S

    def run_end(self) -> int:
        i = self.head
        while i < len(self.seqs) and self.seqs[i] in self.acked:
            i += 1
        return i

    def snapshot(self, now: float) -> ShardSnapshot:
        last = self.seqs[self.head - 1] if self.head else None
        held = {a for a in self.acked if last is None or a > last}
        return ShardSnapshot(
            tracked=len(self.seqs) - self.head,
            pending=len(held) - (self.run_end() - self.head),
            last_checkpoint=None if last is None else SequenceNumber(last),
            since_checkpoint_s=now - self.last_time,
        )


@settings(max_examples=400, deadline=None)
@given(st.integers(min_value=1, max_value=6), operations)
def test_policy_triggers_match_naive_model(buffer, ops):
    clock = VirtualClock()
    tracker = ShardCheckpointTracker(
        "shard-m",
        CheckpointConfig(max_buffer_size=buffer, max_duration_s=DURATION_S, timeout_s=TIMEOUT_S),
        clock=clock,
    )
    model = NaiveModel(buffer)
    rec = Recorder()

    def fail(seq: SequenceNumber) -> None:
        raise IOError("throttled")

    def overrun(seq: SequenceNumber) -> None:
        clock.now += TIMEOUT_S + 0.5

    checkpointers = {"ok": rec, "raise": fail, "overrun": overrun}
    for op in ops:
        if op[0] == "track":
            new = list(range(len(model.seqs), min(len(model.seqs) + op[1], UNIVERSE)))
            assert tracker.track(SequenceNumber(i) for i in new) == len(new)
            model.seqs.extend(new)
        elif op[0] == "ack":
            seq = min(max(model.head + op[1], 0), UNIVERSE - 1)
            tracker.process(SequenceNumber(seq))
            model.acked.add(seq)
        elif op[0] == "tick":
            clock.now += op[1]
        else:
            _, force, kind = op
            end = model.run_end() if force or model.due(clock.now) else model.head
            if end == model.head:
                assert tracker.checkpoint_if_needed(checkpointers[kind], force=force) is None
            elif kind == "ok":
                got = tracker.checkpoint_if_needed(rec, force=force)
                model.commits.append(SequenceNumber(model.seqs[end - 1]))
                assert got == model.commits[-1]
                model.head, model.last_time = end, clock.now
            else:
                with pytest.raises(IOError if kind == "raise" else CheckpointTimeoutError):
                    tracker.checkpoint_if_needed(checkpointers[kind], force=force)
        assert rec.commits == model.commits
        assert tracker.tracked == tuple(SequenceNumber(i) for i in model.seqs[model.head :])
        assert tracker.is_complete == all(i in model.acked for i in model.seqs[model.head :])
        assert tracker.snapshot() == model.snapshot(clock.now)
