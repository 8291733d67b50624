"""Out-of-order ack tracking with contiguous-prefix checkpointing.

Semantics preserved 1:1 from the reference (file:line cites are into
`/root/reference`):

- a sequence number is checkpointable iff **every number tracked before it
  has been processed** — ``tracked.takeWhile(processed.contains)``
  (`ShardCheckpointTrackerActor.scala:86`);
- a checkpoint commits the **highest** checkpointable number
  (`ShardCheckpointTrackerActor.scala:48`);
- checkpoints fire when ``len(tracked) >= max_buffer_size`` or
  ``elapsed >= max_duration`` (`:90-94`), or unconditionally on ``force``
  (`:49`);
- the checkpointed prefix is dropped from tracking and remembered as
  ``last_checkpoint`` (`:57-60`);
- late/duplicate acks at or below ``last_checkpoint`` are ignored (`:35-37`);
- completion = nothing tracked, or everything tracked processed (`:111`);
  watchers are notified on completion and failed on shutdown-before-
  completion (`:254-303` of the spec);
- defaults: buffer 10_000, duration 60 s (`CheckpointTracker.scala:142-147`,
  `reference.conf:15-18`).

This is a deliberately dependency-free, synchronous re-expression of the
actor. As in the reference, an ack is a message: ``process`` appends it
to the shard's inbox (a ``deque``), and the contiguous-prefix state
changes only when the tracker reads its mailbox. Every call that reads
the processed set (``checkpoint_if_needed`` once it is due or forced,
``checkpointable``, ``is_complete``, ``snapshot``, ``watch_completion``)
first drains the inbox under the shard lock, dropping acks at or below
``last_checkpoint`` (`:35-37`). As messages queue in the actor's
mailbox behind a slow checkpoint, acks sent during a checkpointer call
wait in the inbox and are applied by the next read; the sender never
waits for it.

Cost model: an ack is an O(1) append that takes no lock, unless a
completion watcher waits: then the ack drains the inbox under the lock
and runs an O(tracked) completeness check. A drain costs O(1) per ack,
in C (``popleft`` through ``starmap``, ``filter``, ``set.update``).
``track`` drains once the inbox holds more than ``max_buffer_size``
acks, which bounds it. A checkpoint costs O(1) plus O(1) amortized per
committed number, since the prefix scan stops at the first gap and each
number is scanned into one commit and released once; the scan and
release run in C too (``takewhile``, ``set.difference_update``). The
lock covers reads, checkpoints and the rare watcher wake; it is
re-entrant because watcher callbacks run under it and may call back
into the tracker. Only a drain pops the inbox, always under the lock,
and producers only append, so a drain of the ``len(inbox)`` acks it saw
is safe against concurrent acks, also without a global interpreter
lock.
"""

from __future__ import annotations

import threading
import time
from collections import deque
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from itertools import repeat, starmap, takewhile
from typing import NamedTuple


class SequenceNumber(NamedTuple):
    """Total order key within a shard.

    Analog of KCL's ``ExtendedSequenceNumber`` (`Record.scala:22`): Kinesis
    sequence numbers are decimal big-ints (held as ``int`` here; pass
    strings through :meth:`of`), ``sub`` is the KPL aggregation sub-record
    index. Tuple comparison == compare sequence then sub-sequence
    (`ShardCheckpointTrackerActor.scala:15-16`).
    """

    seq: int
    sub: int = 0

    @classmethod
    def of(cls, seq: int | str, sub: int = 0) -> "SequenceNumber":
        return cls(int(seq), int(sub))


class TrackerInactiveError(RuntimeError):
    """Operation against a shard with no active tracker (registry parity:
    track before Create fails — `CheckpointTrackerActorSpec.scala:48-56`)."""


class CheckpointTimeoutError(TimeoutError):
    """A checkpoint call overran ``CheckpointConfig.timeout_s`` — FATAL
    (`CheckpointTracker.CheckpointTimeoutException`, rethrown at
    `RecordProcessorImpl.scala:131-133`)."""


class ShutdownException(RuntimeError):
    """Tracker was shut down while a completion watcher was pending
    (`ShardCheckpointTrackerActorSpec` shutdown-before-completion case)."""


@dataclass(frozen=True)
class CheckpointConfig:
    """Reference defaults from `CheckpointTracker.scala:142-147` /
    `reference.conf:15-18`."""

    max_buffer_size: int = 10_000
    max_duration_s: float = 60.0
    completion_timeout_s: float = 30.0
    # ask-timeout for a single checkpoint call (`reference.conf:16`
    # checkpoint.timeout, default 20s); a call that overruns it raises
    # CheckpointTimeoutError, FATAL per the O7 taxonomy (streaming/errors.py)
    timeout_s: float = 20.0


class ShardSnapshot(NamedTuple):
    """One shard tracker's state at one instant (:meth:`ShardCheckpointTracker.snapshot`)."""

    tracked: int  # sequence numbers tracked and not yet checkpointed
    pending: int  # acks held that the next checkpoint cannot commit yet
    last_checkpoint: SequenceNumber | None
    since_checkpoint_s: float  # since the last checkpoint, or since start


class ShardCheckpointTracker:
    """Per-shard tracker (analog of ``ShardCheckpointTrackerActor``).

    ``checkpointer`` is any callable ``(seq: SequenceNumber) -> None`` —
    the durable-commit side effect (KCL's ``checkpoint(seq, sub)`` in the
    reference; a Spark commit-log append / offset write here). It may raise;
    failures propagate to the caller and tracker state is NOT advanced
    (matching the actor replying Failure without mutating).
    """

    def __init__(
        self,
        shard_id: str,
        config: CheckpointConfig | None = None,
        *,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.shard_id = shard_id
        self.config = config or CheckpointConfig()
        self._clock = clock
        self._lock = threading.RLock()
        self._tracked: deque[SequenceNumber] = deque()
        self._processed: set[SequenceNumber] = set()
        # acks not yet applied to ``_processed``; only ``_drain`` pops it
        self._inbox: deque[SequenceNumber] = deque()
        self._last_checkpoint: SequenceNumber | None = None
        self._last_checkpoint_time: float = clock()
        self._watchers: list[Callable[[BaseException | None], None]] = []
        self._active = True

    # -- introspection (actor `Get` message) --------------------------------
    @property
    def tracked(self) -> tuple[SequenceNumber, ...]:
        with self._lock:
            return tuple(self._tracked)

    @property
    def last_checkpoint(self) -> SequenceNumber | None:
        return self._last_checkpoint

    @property
    def is_active(self) -> bool:
        return self._active

    # -- protocol ------------------------------------------------------------
    def track(self, seqs: Iterable[SequenceNumber]) -> int:
        """Register in-flight sequence numbers (must arrive in shard order,
        as KCL delivers them). Returns the number tracked."""
        with self._lock:
            if not self._active:
                raise self._inactive()
            if len(self._inbox) > self.config.max_buffer_size:
                self._drain()
            n = len(self._tracked)
            self._tracked.extend(seqs)
            return len(self._tracked) - n

    def process(self, seq: SequenceNumber) -> None:
        """Mark one sequence number processed (the ``markProcessed`` ack,
        `Record.scala:33-34`): post it to the shard's inbox. Acks at/below
        the last checkpoint are dropped when the inbox is drained — they
        were already durably committed (`:35-37`)."""
        if not self._active:
            raise self._inactive()
        self._inbox.append(seq)
        # only an ack can complete the shard (a checkpoint releases
        # processed numbers alone), so a waiting watcher is woken here
        if self._watchers:
            self._wake_watchers()

    def checkpointable(self) -> list[SequenceNumber]:
        """Longest processed prefix of the tracked queue (`:86`)."""
        with self._lock:
            self._drain()
            return self._prefix()

    def should_checkpoint(self) -> bool:
        """Trigger policy (`:90-94`): buffer full or duration elapsed."""
        with self._lock:
            return self._due()

    def checkpoint_if_needed(
        self,
        checkpointer: Callable[[SequenceNumber], None],
        *,
        force: bool = False,
    ) -> SequenceNumber | None:
        """Checkpoint the highest contiguous processed number if the trigger
        policy (or ``force``) says so. Returns the checkpointed number, or
        None when nothing was checkpointable / thresholds unmet.

        A ``checkpointer`` call that raises, or that overruns
        ``config.timeout_s`` on the tracker's clock
        (:class:`CheckpointTimeoutError`), commits nothing: the state is as
        if every ack sent before the call had been applied."""
        with self._lock:
            if not self._active:
                raise self._inactive()
            if not (force or self._due()):
                return None
            self._drain()
            prefix = self._prefix()
            if not prefix:
                # force with a gap at the head still checkpoints nothing
                return None
            highest = prefix[-1]
            start = self._clock()
            checkpointer(highest)
            now = self._clock()
            if now - start > self.config.timeout_s:
                raise CheckpointTimeoutError(
                    f"shard {self.shard_id}: checkpoint at {highest} took {now - start:.3f}s"
                    f" > {self.config.timeout_s}s"
                )
            # n poplefts in C (the itertools ``consume`` recipe)
            deque(starmap(self._tracked.popleft, repeat((), len(prefix))), maxlen=0)
            self._processed.difference_update(prefix)
            self._last_checkpoint = highest
            self._last_checkpoint_time = now
            return highest

    def checkpoint(self, checkpointer: Callable[[SequenceNumber], None]) -> SequenceNumber | None:
        """Forced checkpoint (shard-end / shutdown path, O6)."""
        return self.checkpoint_if_needed(checkpointer, force=True)

    # -- completion / lifecycle ----------------------------------------------
    @property
    def is_complete(self) -> bool:
        """Nothing in flight (`ShardCheckpointTrackerActor.scala:111`)."""
        with self._lock:
            self._drain()
            return self._complete()

    def snapshot(self) -> ShardSnapshot:
        """Read-only view of the shard's state (the observability half of
        the actor's ``Get``). ``pending`` counts acks held beyond the
        checkpointable prefix: behind a gap, or not yet tracked."""
        with self._lock:
            self._drain()
            return ShardSnapshot(
                tracked=len(self._tracked),
                pending=len(self._processed) - len(self._prefix()),
                last_checkpoint=self._last_checkpoint,
                since_checkpoint_s=self._clock() - self._last_checkpoint_time,
            )

    def watch_completion(self, callback: Callable[[BaseException | None], None]) -> None:
        """Invoke ``callback(None)`` once all tracked records are processed,
        or ``callback(ShutdownException(...))`` if shut down first. Fires
        immediately if already complete."""
        with self._lock:
            # registered before the drain: an ack that lands after the
            # drain sees the watcher and wakes it
            self._watchers.append(callback)
            self._wake_watchers()

    def wait_for_completion(self, timeout_s: float | None = None) -> None:
        """Blocking drain (the façade's ``watchCompletion`` +
        ``completionTimeout``, `CheckpointTracker.scala:89-93,143`)."""
        timeout = self.config.completion_timeout_s if timeout_s is None else timeout_s
        done = threading.Event()
        result: list[BaseException | None] = [None]

        def cb(err: BaseException | None) -> None:
            result[0] = err
            done.set()

        self.watch_completion(cb)
        if not done.wait(timeout):
            raise TimeoutError(
                f"shard {self.shard_id}: in-flight records not drained in {timeout}s"
            )
        if result[0] is not None:
            raise result[0]

    def shutdown(self) -> None:
        """Deactivate; pending watchers fail (spec shutdown case)."""
        with self._lock:
            if not self._active:
                return
            self._active = False
            watchers, self._watchers = self._watchers, []
        err = ShutdownException(f"shard {self.shard_id} tracker shut down before completion")
        for w in watchers:
            w(err)

    # -- internals: callers hold the lock (_wake_watchers takes it) -----------
    def _inactive(self) -> TrackerInactiveError:
        return TrackerInactiveError(f"tracker for shard {self.shard_id} is inactive")

    def _drain(self) -> None:
        """Apply the acks in the inbox: ``len(inbox)`` poplefts in C,
        dropping acks at or below the last checkpoint."""
        inbox = self._inbox
        acks = starmap(inbox.popleft, repeat((), len(inbox)))
        last = self._last_checkpoint
        self._processed.update(acks if last is None else filter(last.__lt__, acks))

    def _wake_watchers(self) -> None:
        """Apply the inbox; if the shard is complete, fire every watcher."""
        with self._lock:
            self._drain()
            if self._watchers and self._complete():
                watchers, self._watchers = self._watchers, []
                for w in watchers:
                    w(None)

    def _due(self) -> bool:
        return (
            len(self._tracked) >= self.config.max_buffer_size
            or (self._clock() - self._last_checkpoint_time) >= self.config.max_duration_s
        )

    def _prefix(self) -> list[SequenceNumber]:
        return list(takewhile(self._processed.__contains__, self._tracked))

    def _complete(self) -> bool:
        return all(map(self._processed.__contains__, self._tracked))


@dataclass
class CheckpointTracker:
    """Per-worker registry of shard trackers (analog of
    ``CheckpointTrackerActor``: children keyed by shardId, `:111-118`).

    Registry parity semantics (`CheckpointTrackerActorSpec.scala`):
    - ``track`` against a shard that was never started raises
      :class:`TrackerInactiveError` (`:48-56`);
    - ``process`` after the shard was shut down is benign — the record was
      in flight when the lease moved; its ack is moot (`:70-85`,
      `CheckpointTrackerActor.scala:42-50`).
    """

    worker_id: str
    config: CheckpointConfig = field(default_factory=CheckpointConfig)
    clock: Callable[[], float] = time.monotonic
    _shards: dict[str, ShardCheckpointTracker] = field(default_factory=dict)
    _lock: threading.RLock = field(default_factory=threading.RLock)

    def start_shard(self, shard_id: str) -> ShardCheckpointTracker:
        """Create (or return) the shard's tracker — the ``initialize``
        registration (`RecordProcessorImpl.scala:35-40`)."""
        with self._lock:
            tracker = self._shards.get(shard_id)
            if tracker is None or not tracker.is_active:
                tracker = ShardCheckpointTracker(shard_id, self.config, clock=self.clock)
                self._shards[shard_id] = tracker
            return tracker

    def _get(self, shard_id: str) -> ShardCheckpointTracker:
        tracker = self._shards.get(shard_id)
        if tracker is None or not tracker.is_active:
            raise TrackerInactiveError(f"no active tracker for shard {shard_id}")
        return tracker

    def track(self, shard_id: str, seqs: Iterable[SequenceNumber]) -> int:
        return self._get(shard_id).track(seqs)

    def process(self, shard_id: str, seq: SequenceNumber) -> None:
        tracker = self._shards.get(shard_id)
        if tracker is None or not tracker._active:
            return  # benign: ack for a shard whose lease is gone
        # ShardCheckpointTracker.process inlined: this is the per-record path
        tracker._inbox.append(seq)
        if tracker._watchers:
            tracker._wake_watchers()

    def checkpoint_if_needed(
        self,
        shard_id: str,
        checkpointer: Callable[[SequenceNumber], None],
        *,
        force: bool = False,
    ) -> SequenceNumber | None:
        return self._get(shard_id).checkpoint_if_needed(checkpointer, force=force)

    def snapshot(self) -> dict[str, ShardSnapshot]:
        """:meth:`ShardCheckpointTracker.snapshot` of every active shard."""
        with self._lock:
            shards = [t for t in self._shards.values() if t.is_active]
        return {t.shard_id: t.snapshot() for t in shards}

    def shutdown_shard(self, shard_id: str) -> None:
        """Shard lease lost / shard end (`StreamScheduler.scala:115-125`)."""
        tracker = self._shards.get(shard_id)
        if tracker is not None:
            tracker.shutdown()

    def shutdown(self) -> None:
        """Worker shutdown: stop every child (`CheckpointTrackerActor.scala:72-79`)."""
        with self._lock:
            shards = list(self._shards.values())
        for t in shards:
            t.shutdown()
