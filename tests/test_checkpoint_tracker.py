"""Behavioral parity tests for the checkpoint tracker, transcribed case-by-
case from the reference specs (semantics only, no code):

- `ShardCheckpointTrackerActorSpec.scala` — per-shard ack/checkpoint rules
- `CheckpointTrackerActorSpec.scala` — worker-level shard registry rules
"""

from __future__ import annotations

import random
import sys
import threading

import pytest

from kinesis_stream_spark.checkpoint import (
    CheckpointConfig,
    CheckpointTimeoutError,
    CheckpointTracker,
    SequenceNumber,
    ShardCheckpointTracker,
    ShardSnapshot,
    ShutdownException,
    TrackerInactiveError,
)
from kinesis_stream_spark.streaming import errors


def sq(*nums: int) -> list[SequenceNumber]:
    return [SequenceNumber(n) for n in nums]


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now

    def advance(self, s: float) -> None:
        self.now += s


class RecordingCheckpointer:
    def __init__(self) -> None:
        self.calls: list[SequenceNumber] = []

    def __call__(self, seq: SequenceNumber) -> None:
        self.calls.append(seq)


@pytest.fixture()
def clock() -> FakeClock:
    return FakeClock()


def make(clock: FakeClock, buffer: int = 10_000, duration: float = 60.0) -> ShardCheckpointTracker:
    return ShardCheckpointTracker(
        "shardId-000",
        CheckpointConfig(max_buffer_size=buffer, max_duration_s=duration),
        clock=clock,
    )


# --- ShardCheckpointTrackerActorSpec cases ---------------------------------


def test_tracked_but_unprocessed_not_checkpointable(clock):
    # spec :53-63
    t = make(clock)
    t.track(sq(1, 2, 3))
    assert t.checkpointable() == []


def test_processing_lowest_makes_checkpointable(clock):
    # spec :85-98
    t = make(clock)
    t.track(sq(1, 2, 3))
    t.process(SequenceNumber(1))
    assert t.checkpointable() == sq(1)


def test_out_of_order_process_does_not_advance_past_gap(clock):
    # spec :100-123 — processing 2 and 3 with 1 unprocessed: nothing
    t = make(clock)
    t.track(sq(1, 2, 3))
    t.process(SequenceNumber(3))
    t.process(SequenceNumber(2))
    assert t.checkpointable() == []
    t.process(SequenceNumber(1))
    assert t.checkpointable() == sq(1, 2, 3)


def test_checkpoint_at_buffer_size_picks_highest_contiguous(clock):
    # spec :128-149 — track {1,2,3,4}, process {3,2,1} → checkpoint at 3
    t = make(clock, buffer=4)
    cp = RecordingCheckpointer()
    t.track(sq(1, 2, 3, 4))
    for n in (3, 2, 1):
        t.process(SequenceNumber(n))
    got = t.checkpoint_if_needed(cp)
    assert got == SequenceNumber(3)
    assert cp.calls == [SequenceNumber(3)]


def test_no_checkpoint_when_nothing_tracked(clock):
    # spec :151-159
    t = make(clock, buffer=1)
    cp = RecordingCheckpointer()
    assert t.checkpoint_if_needed(cp, force=True) is None
    assert cp.calls == []


def test_no_checkpoint_when_thresholds_unmet(clock):
    # spec :161-181
    t = make(clock, buffer=100, duration=60.0)
    cp = RecordingCheckpointer()
    t.track(sq(1, 2))
    t.process(SequenceNumber(1))
    assert t.checkpoint_if_needed(cp) is None
    assert cp.calls == []
    clock.advance(61.0)  # duration trigger now fires
    assert t.checkpoint_if_needed(cp) == SequenceNumber(1)


def test_checkpointed_prefix_dropped_from_tracking(clock):
    # spec :183-206
    t = make(clock, buffer=2)
    cp = RecordingCheckpointer()
    t.track(sq(1, 2, 3))
    t.process(SequenceNumber(1))
    t.process(SequenceNumber(2))
    assert t.checkpoint_if_needed(cp) == SequenceNumber(2)
    assert t.tracked == tuple(sq(3))
    # re-checkpoint with nothing new processed → nothing
    assert t.checkpoint_if_needed(cp, force=True) is None


def test_force_overrides_thresholds(clock):
    # spec :208-231
    t = make(clock, buffer=10_000, duration=60.0)
    cp = RecordingCheckpointer()
    t.track(sq(5))
    t.process(SequenceNumber(5))
    assert t.checkpoint_if_needed(cp) is None
    assert t.checkpoint_if_needed(cp, force=True) == SequenceNumber(5)


def test_force_with_gap_at_head_checkpoints_nothing(clock):
    # spec :233-250
    t = make(clock)
    cp = RecordingCheckpointer()
    t.track(sq(1, 2))
    t.process(SequenceNumber(2))
    assert t.checkpoint_if_needed(cp, force=True) is None
    assert cp.calls == []


def test_watch_completion_notifies_only_when_all_processed(clock):
    # spec :254-279
    t = make(clock)
    t.track(sq(1, 2))
    fired: list[BaseException | None] = []
    t.watch_completion(fired.append)
    assert fired == []
    t.process(SequenceNumber(1))
    assert fired == []
    t.process(SequenceNumber(2))
    assert fired == [None]
    # already-complete tracker fires immediately
    fired2: list[BaseException | None] = []
    t.watch_completion(fired2.append)
    assert fired2 == [None]


def test_shutdown_before_completion_fails_watcher(clock):
    # spec :281-303
    t = make(clock)
    t.track(sq(1))
    fired: list[BaseException | None] = []
    t.watch_completion(fired.append)
    t.shutdown()
    assert len(fired) == 1 and isinstance(fired[0], ShutdownException)
    with pytest.raises(TrackerInactiveError):
        t.track(sq(2))


def test_checkpointer_receives_exact_extended_sequence_number(clock):
    # spec :306-316 — (seqNum, subSeqNum) passed through exactly
    t = make(clock, buffer=1)
    cp = RecordingCheckpointer()
    t.track([SequenceNumber.of("49590338271490256608559692538361571095921575989136588898", 7)])
    t.process(SequenceNumber.of("49590338271490256608559692538361571095921575989136588898", 7))
    got = t.checkpoint_if_needed(cp)
    assert got == SequenceNumber(49590338271490256608559692538361571095921575989136588898, 7)
    assert cp.calls == [got]


def test_late_duplicate_acks_below_last_checkpoint_ignored(clock):
    # ShardCheckpointTrackerActor.scala:35-37 guard
    t = make(clock, buffer=1)
    cp = RecordingCheckpointer()
    t.track(sq(1))
    t.process(SequenceNumber(1))
    assert t.checkpoint_if_needed(cp) == SequenceNumber(1)
    t.process(SequenceNumber(1))  # re-ack after checkpoint: dropped
    t.track(sq(2, 3))
    assert t.checkpointable() == []  # the stale re-ack didn't leak into state
    # late and duplicate acks never count as pending, and a drain leaves
    # no number at or below the checkpoint
    for s in sq(1, 3, 1, 3):
        t.process(s)
    assert t.snapshot()[:3] == (2, 1, SequenceNumber(1))
    assert t._processed == {SequenceNumber(3)}
    for s in sq(2, 2):  # queued before the checkpoint, repeated after it
        t.process(s)
    assert t.checkpoint_if_needed(cp) == SequenceNumber(3)
    for s in sq(1, 2, 3, 3):
        t.process(s)
    assert t.snapshot()[:3] == (0, 0, SequenceNumber(3))
    assert t._processed == set() and not t._inbox


def test_sub_sequence_ordering(clock):
    # ExtendedSequenceNumber: compare seq then sub (Record.scala:22)
    t = make(clock)
    t.track([SequenceNumber(1, 0), SequenceNumber(1, 1), SequenceNumber(2, 0)])
    t.process(SequenceNumber(1, 0))
    assert t.checkpointable() == [SequenceNumber(1, 0)]
    t.process(SequenceNumber(1, 1))
    assert t.checkpointable() == [SequenceNumber(1, 0), SequenceNumber(1, 1)]


def test_failed_checkpointer_leaves_state_intact(clock):
    # actor replies Failure without mutating state; the acks drained for
    # the failed call stay applied, so the retry commits the same number
    t = make(clock, buffer=1)
    t.track(sq(1, 2, 3))
    for s in sq(2, 1):
        t.process(s)
    calls: list[SequenceNumber] = []

    def boom(seq: SequenceNumber) -> None:
        calls.append(seq)
        raise IOError("throttled")

    with pytest.raises(IOError):
        t.checkpoint_if_needed(boom)
    assert t.tracked == tuple(sq(1, 2, 3)) and t.last_checkpoint is None
    assert t._processed == set(sq(1, 2)) and not t._inbox
    cp = RecordingCheckpointer()
    assert t.checkpoint_if_needed(cp) == SequenceNumber(2)  # retry succeeds
    assert calls == cp.calls == sq(2)


def test_checkpoint_overrunning_timeout_is_fatal_and_leaves_state(clock):
    # reference.conf:16 checkpoint.timeout; the overrun is timed on the
    # tracker's clock and fails like a raising checkpointer
    t = ShardCheckpointTracker(
        "shardId-000", CheckpointConfig(max_buffer_size=1, timeout_s=20.0), clock=clock
    )
    t.track(sq(1))
    t.process(SequenceNumber(1))
    calls: list[SequenceNumber] = []

    def slow(seq: SequenceNumber) -> None:
        calls.append(seq)
        clock.advance(20.5)

    with pytest.raises(CheckpointTimeoutError) as info:
        t.checkpoint_if_needed(slow)
    assert calls == sq(1)
    assert errors.classify(info.value) is errors.Disposition.FAIL
    assert errors.CheckpointTimeoutError is CheckpointTimeoutError
    assert t.tracked == tuple(sq(1)) and t.last_checkpoint is None
    assert t.snapshot().since_checkpoint_s == 20.5  # the clock was not reset

    def at_limit(seq: SequenceNumber) -> None:
        clock.advance(20.0)  # exactly the timeout is not an overrun

    assert t.checkpoint_if_needed(at_limit) == SequenceNumber(1)
    assert t.tracked == ()


# --- snapshot() against the spec cases ---------------------------------------


def test_snapshot_tracked_but_unprocessed(clock):
    # spec :53-63
    t = make(clock)
    t.track(sq(1, 2, 3))
    clock.advance(4.0)
    assert t.snapshot() == ShardSnapshot(
        tracked=3, pending=0, last_checkpoint=None, since_checkpoint_s=4.0
    )


def test_snapshot_counts_acks_behind_a_gap(clock):
    # spec :100-123 — 2 and 3 wait behind 1; acking 1 frees the whole prefix
    t = make(clock)
    t.track(sq(1, 2, 3))
    t.process(SequenceNumber(3))
    t.process(SequenceNumber(2))
    assert t.snapshot()[:2] == (3, 2)
    t.process(SequenceNumber(1))
    assert t.snapshot()[:2] == (3, 0)


def test_snapshot_after_checkpoint_drops_prefix(clock):
    # spec :183-206, plus an ack before its track and a late re-ack
    t = make(clock, buffer=2)
    t.track(sq(1, 2, 3))
    t.process(SequenceNumber(1))
    t.process(SequenceNumber(2))
    t.process(SequenceNumber(4))  # not tracked yet: held, not checkpointable
    clock.advance(7.0)
    assert t.checkpoint_if_needed(RecordingCheckpointer()) == SequenceNumber(2)
    t.process(SequenceNumber(1))  # below the checkpoint: ignored
    clock.advance(1.5)
    assert t.snapshot() == ShardSnapshot(
        tracked=1, pending=1, last_checkpoint=SequenceNumber(2), since_checkpoint_s=1.5
    )


def test_registry_snapshot_covers_active_shards(clock):
    reg = CheckpointTracker("worker-1", clock=clock)
    reg.start_shard("shard-a")
    reg.start_shard("shard-b")
    reg.track("shard-a", sq(1, 2))
    reg.process("shard-a", SequenceNumber(2))
    reg.shutdown_shard("shard-b")
    assert reg.snapshot() == {
        "shard-a": ShardSnapshot(
            tracked=2, pending=1, last_checkpoint=None, since_checkpoint_s=0.0
        )
    }


# --- concurrency: one lock acquisition per call -------------------------------


def test_concurrent_acks_checkpoints_and_waiters():
    """Ack threads, a checkpoint thread and completion waiters on one shard.
    The last number is acked only after the others have drained, so every
    waiter must still be pending then and be woken by that last ack."""
    n, n_ackers, n_waiters = 6_000, 6, 3
    t = ShardCheckpointTracker("shard-c", CheckpointConfig(max_buffer_size=50))
    seqs = [SequenceNumber(i) for i in range(n)]
    t.track(seqs)
    order = seqs[:-1]
    random.Random(7).shuffle(order)
    commits: list[SequenceNumber] = []
    outcomes: list[BaseException | None] = []
    acking = threading.Event()
    acking.set()

    def checkpoint_loop() -> None:
        while acking.is_set():
            t.checkpoint_if_needed(commits.append)

    def waiter() -> None:
        try:
            t.wait_for_completion(timeout_s=60.0)
            outcomes.append(None)
        except BaseException as exc:  # noqa: BLE001 — recorded and asserted
            outcomes.append(exc)

    def ack(part: list[SequenceNumber]) -> None:
        for s in part:
            t.process(s)

    ackers = [threading.Thread(target=ack, args=(order[i::n_ackers],), daemon=True) for i in range(n_ackers)]
    checkpointer = threading.Thread(target=checkpoint_loop, daemon=True)
    waiters = [threading.Thread(target=waiter, daemon=True) for _ in range(n_waiters)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for thread in (checkpointer, *ackers, *waiters):
            thread.start()
        for a in ackers:
            a.join(timeout=60.0)
            assert not a.is_alive()
        acking.clear()
        checkpointer.join(timeout=60.0)
        assert not checkpointer.is_alive()
        assert outcomes == []  # the last number is still in flight
        t.process(seqs[-1])
        for w in waiters:
            w.join(timeout=60.0)
            assert not w.is_alive()
    finally:
        acking.clear()
        sys.setswitchinterval(switch)
    assert outcomes == [None] * n_waiters
    assert t.checkpoint(commits.append) == seqs[-1]
    assert commits == sorted(set(commits))
    assert t.tracked == () and t._processed == set() and t.is_complete


def test_watcher_racing_the_completing_ack_is_never_lost():
    """A watcher registers while the ack that completes the shard lands.
    The long queue makes the completeness check slow, so without one lock
    around check and register the ack would fall between them."""
    rounds, n = 100, 2_000
    seqs = [SequenceNumber(i) for i in range(n)]
    trackers = []
    for _ in range(rounds):
        t = ShardCheckpointTracker("shard-w")
        t.track(seqs)
        for s in seqs[:-1]:
            t.process(s)
        trackers.append(t)
    fired: list[list[BaseException | None]] = [[] for _ in range(rounds)]
    go = threading.Barrier(2, timeout=60.0)

    def register() -> None:
        for t, f in zip(trackers, fired):
            go.wait()
            t.watch_completion(f.append)

    watcher = threading.Thread(target=register, daemon=True)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        watcher.start()
        for t in trackers:
            go.wait()
            t.process(seqs[-1])
        watcher.join(timeout=60.0)
        assert not watcher.is_alive()
    finally:
        sys.setswitchinterval(switch)
    assert fired == [[None]] * rounds


# --- the mailbox: acks are posted, and applied when a read drains them ------


def test_ack_during_a_blocked_checkpoint_returns_at_once():
    """An ack sent while a checkpointer blocks does not wait for it: it
    queues in the inbox, as a message queues in the actor's mailbox, and
    the next read applies it."""
    t = ShardCheckpointTracker("shard-b", CheckpointConfig(max_buffer_size=1))
    t.track(sq(1, 2))
    t.process(SequenceNumber(1))
    entered, release, acked = threading.Event(), threading.Event(), threading.Event()

    def blocking(seq: SequenceNumber) -> None:
        entered.set()
        release.wait(timeout=60.0)

    def ack() -> None:
        t.process(SequenceNumber(2))
        acked.set()

    commit = threading.Thread(target=t.checkpoint_if_needed, args=(blocking,), daemon=True)
    acker = threading.Thread(target=ack, daemon=True)
    commit.start()
    try:
        assert entered.wait(timeout=60.0)
        acker.start()
        assert acked.wait(timeout=5.0), "the ack waited for the checkpointer"
    finally:
        release.set()
        commit.join(timeout=60.0)
        acker.join(timeout=60.0)
    assert not commit.is_alive() and not acker.is_alive()
    assert t.last_checkpoint == SequenceNumber(1)
    assert t.checkpoint(RecordingCheckpointer()) == SequenceNumber(2)


def _contiguous_end(seqs: list[int], acked: set[int]) -> int | None:
    """The model: the last number of the longest fully acked run."""
    end = None
    for s in seqs:
        if s not in acked:
            break
        end = s
    return end


def test_concurrent_acks_checkpoints_and_snapshots_match_the_model():
    """Four threads ack a shuffled schedule, with stragglers, duplicates
    and late acks, while a fifth checkpoints and snapshots without pause.
    A commit made mid-round may land anywhere between the model's
    checkpoint before and after the round; once the round's acks have all
    returned, a forced checkpoint and a snapshot must equal the model's,
    and at the end no ack is lost."""
    rounds, per_round, n_ackers = 20, 300, 4
    rng = random.Random(3)
    t = ShardCheckpointTracker("shard-m", CheckpointConfig(max_buffer_size=10**9))
    commits: list[SequenceNumber] = []
    seqs: list[int] = []
    acked: set[int] = set()
    last: int | None = None
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for r in range(rounds):
            batch = list(range(r * per_round, (r + 1) * per_round))
            t.track(sq(*batch))
            seqs.extend(batch)
            unacked = [s for s in seqs if s not in acked]
            # about 2% of the open numbers straggle into a later round
            fresh = [s for s in unacked if rng.random() >= 0.02 or r == rounds - 1]
            repeats = rng.sample(sorted(acked), min(len(acked), 30))  # late or duplicate
            schedule = fresh + repeats + rng.sample(fresh, min(len(fresh), 10))
            rng.shuffle(schedule)
            ceiling = _contiguous_end(seqs, acked | set(fresh))
            running = threading.Event()
            running.set()
            seen: list[int] = []

            def reads() -> None:
                while running.is_set():
                    t.snapshot()
                    got = t.checkpoint_if_needed(commits.append, force=True)
                    if got is not None:
                        seen.append(got.seq)

            def ack(part: list[int]) -> None:
                for s in part:
                    t.process(SequenceNumber(s))

            reader = threading.Thread(target=reads, daemon=True)
            ackers = [
                threading.Thread(target=ack, args=(schedule[i::n_ackers],), daemon=True)
                for i in range(n_ackers)
            ]
            for thread in (reader, *ackers):
                thread.start()
            for a in ackers:
                a.join(timeout=60.0)
                assert not a.is_alive()
            running.clear()
            reader.join(timeout=60.0)
            assert not reader.is_alive()
            assert all((last if last is not None else -1) < c <= ceiling for c in seen)
            acked |= set(fresh)
            last = _contiguous_end(seqs, acked)
            t.checkpoint_if_needed(commits.append, force=True)
            assert t.last_checkpoint == (None if last is None else SequenceNumber(last))
            assert t.snapshot()[:3] == (
                len(seqs) - (0 if last is None else last + 1),
                sum(1 for s in acked if last is None or s > last),
                t.last_checkpoint,
            )
    finally:
        sys.setswitchinterval(switch)
    assert commits == sorted(set(commits)) and commits[-1] == SequenceNumber(seqs[-1])
    assert t.tracked == () and t._processed == set() and not t._inbox


def test_watcher_registered_while_acks_race_in_fires_exactly_once():
    """The watcher registers while four threads ack the shard; whichever
    drain applies the completing ack, the watcher fires once."""
    rounds, n, n_ackers = 40, 300, 4
    rng = random.Random(5)
    fired: list[list[BaseException | None]] = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(rounds):
            seqs = sq(*range(n))
            t = ShardCheckpointTracker("shard-w")
            t.track(seqs)
            order = seqs[:]
            rng.shuffle(order)
            calls: list[BaseException | None] = []
            fired.append(calls)
            go = threading.Barrier(n_ackers + 1, timeout=60.0)

            def register() -> None:
                go.wait()
                t.watch_completion(calls.append)

            def ack(part: list[SequenceNumber]) -> None:
                go.wait()
                for s in part:
                    t.process(s)

            threads = [threading.Thread(target=register, daemon=True)] + [
                threading.Thread(target=ack, args=(order[i::n_ackers],), daemon=True)
                for i in range(n_ackers)
            ]
            for thread in threads:
                thread.start()
            for thread in threads:
                thread.join(timeout=60.0)
                assert not thread.is_alive()
    finally:
        sys.setswitchinterval(switch)
    assert fired == [[None]] * rounds


def test_inbox_bound_holds_under_duplicate_acks():
    """``track`` drains an inbox holding more than ``max_buffer_size``
    acks, so 100k duplicate acks never pile up between two tracks."""
    bound, every = 1_000, 100
    t = ShardCheckpointTracker("shard-f", CheckpointConfig(max_buffer_size=bound))
    t.track(sq(*range(10)))
    peak = 0
    for i in range(100_000):
        if i % every == 0:
            t.track(sq(10 + i // every))
            assert len(t._inbox) <= bound
        if i == 50_000:
            assert t.checkpoint(RecordingCheckpointer()) == SequenceNumber(9)
        t.process(SequenceNumber(i % 10))
        peak = max(peak, len(t._inbox))
    assert peak <= bound + every
    assert t.snapshot()[:3] == (1_000, 0, SequenceNumber(9))
    assert t._processed == set()


# --- CheckpointTrackerActorSpec (registry) cases -----------------------------


def test_registry_track_requires_create():
    # spec :38-46, :48-56
    reg = CheckpointTracker("worker-1")
    with pytest.raises(TrackerInactiveError):
        reg.track("shard-9", sq(1))
    reg.start_shard("shard-9")
    assert reg.track("shard-9", sq(1)) == 1


def test_registry_process_after_shard_shutdown_is_benign():
    # spec :70-85 — ack for a lease that moved away is a no-op
    reg = CheckpointTracker("worker-1")
    reg.start_shard("shard-1")
    reg.track("shard-1", sq(1))
    reg.shutdown_shard("shard-1")
    reg.process("shard-1", SequenceNumber(1))  # must not raise


def test_registry_worker_shutdown_stops_all_children():
    # CheckpointTrackerActor.scala:72-79
    reg = CheckpointTracker("worker-1")
    a = reg.start_shard("shard-a")
    b = reg.start_shard("shard-b")
    reg.shutdown()
    assert not a.is_active and not b.is_active


def test_wait_for_completion_drain(clock):
    # CheckpointTracker.scala:89-93 façade: blocking drain with timeout
    t = make(clock)
    t.track(sq(1))
    with pytest.raises(TimeoutError):
        t.wait_for_completion(timeout_s=0.05)
    t.process(SequenceNumber(1))
    t.wait_for_completion(timeout_s=0.05)  # returns promptly
