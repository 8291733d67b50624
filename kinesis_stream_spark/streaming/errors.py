"""Error propagation / kill switch (reference O7).

The reference classifies checkpoint failures in ``checkpointIfNeeded``
(`RecordProcessorImpl.scala:126-148`):

- ``CheckpointTimeoutException``  → log + **rethrow** (fatal),
- ``ThrottlingException``         → log + **continue** (transient),
- ``KinesisClientLibDependencyException`` → log + **continue** (transient),
- ``ShutdownException`` (lease lost) → log + **stop this shard**,
- anything else                   → rethrow (fatal),

and aborts the whole stream through a kill switch when shard-end
checkpointing fails (`RecordProcessorImpl.scala:214-221`
``abortStreamOnError`` → ``killSwitch.abort``; termination then shuts the
scheduler down, `StreamScheduler.scala:29-44`).

Spark mapping: "abort the stream" = fail/stop the ``StreamingQuery`` (an
exception escaping ``foreachBatch`` fails the query; the commit log makes
the in-flight batch replayable, so aborting is safe). "Stop this shard" has
no per-shard unit inside a micro-batch — we stop tracking the shard in the
parity ``CheckpointTracker`` and keep the query alive, which is exactly the
reference behavior (other shards continue). The ``StreamScheduler``'s
termination watch maps to a ``StreamingQueryListener`` that records the
terminating exception and trips the kill switch.
"""

from __future__ import annotations

import enum
import logging
import threading
from collections.abc import Callable

# raised by the tracker when a checkpoint call overruns its timeout
from kinesis_stream_spark.checkpoint.tracker import CheckpointTimeoutError

log = logging.getLogger(__name__)


# --- exception taxonomy (KCL analogs) ----------------------------------------


class ThrottlingError(Exception):
    """Rate-limited by the durable store — TRANSIENT
    (`ThrottlingException`, swallowed at `RecordProcessorImpl.scala:135-136`)."""


class DependencyError(Exception):
    """A dependency of the checkpoint store failed — TRANSIENT
    (`KinesisClientLibDependencyException`, swallowed at
    `RecordProcessorImpl.scala:138-139`)."""


class ShardShutdownError(Exception):
    """Lease lost / shard shutting down — STOP THIS SHARD
    (`ShutdownException`, `RecordProcessorImpl.scala:141-143`)."""


class Disposition(enum.Enum):
    CONTINUE = "continue"  # transient: log, keep the shard and the stream
    STOP_SHARD = "stop-shard"  # benign: stop this shard, keep the stream
    FAIL = "fail"  # fatal: propagate → query fails / kill switch


# Foreign exception types (boto3, KCL-over-JNI, HTTP clients) classify by
# class NAME so the taxonomy applies without importing optional SDKs.
_TRANSIENT_NAMES = frozenset(
    {
        "ThrottlingException",
        "ProvisionedThroughputExceededException",
        "LimitExceededException",
        "KinesisClientLibDependencyException",
    }
)
_STOP_SHARD_NAMES = frozenset({"ShutdownException"})


def classify(exc: BaseException) -> Disposition:
    """The reference's catch-block taxonomy as a total function."""
    if isinstance(exc, CheckpointTimeoutError):
        return Disposition.FAIL  # timeout is fatal BEFORE the TimeoutError check
    if isinstance(exc, (ThrottlingError, DependencyError)):
        return Disposition.CONTINUE
    if isinstance(exc, ShardShutdownError):
        return Disposition.STOP_SHARD
    name = type(exc).__name__
    if name in _TRANSIENT_NAMES:
        return Disposition.CONTINUE
    if name in _STOP_SHARD_NAMES:
        return Disposition.STOP_SHARD
    return Disposition.FAIL


def checkpoint_with_taxonomy(
    checkpoint_call: Callable[[], None],
    shard_id: str,
    *,
    on_stop_shard: Callable[[str], None] | None = None,
) -> bool:
    """Run a checkpoint attempt under the reference's error taxonomy.

    Returns ``True`` if the shard should keep processing, ``False`` if it
    must stop (lease lost). Fatal errors propagate to the caller — inside
    ``foreachBatch`` that fails the micro-batch and hence the query, which
    is the kill-switch path. A transient error is logged and the shard
    continues; the next batch's checkpoint retries, as in the reference.
    """
    try:
        checkpoint_call()
        return True
    except BaseException as exc:  # noqa: BLE001 — taxonomy decides
        disp = classify(exc)
        if disp is Disposition.CONTINUE:
            log.error("transient checkpoint failure on %s: %r", shard_id, exc)
            return True  # next batch retries
        if disp is Disposition.STOP_SHARD:
            log.error("lease lost on %s; stopping shard: %r", shard_id, exc)
            if on_stop_shard is not None:
                on_stop_shard(shard_id)
            return False
        log.error("fatal checkpoint failure on %s: %r", shard_id, exc)
        raise


# --- kill switch + termination watch -----------------------------------------


class KillSwitch:
    """Abort-the-stream handle (`killSwitch.abort(ex)` analog).

    ``abort`` records the first cause and stops the attached
    ``StreamingQuery``; idempotent and thread-safe (listener threads and
    foreachBatch workers may race)."""

    def __init__(self, query=None) -> None:
        self._query = query
        self._lock = threading.Lock()
        self.cause: BaseException | None = None

    def attach(self, query) -> None:
        with self._lock:
            self._query = query

    @property
    def aborted(self) -> bool:
        return self.cause is not None

    def abort(self, cause: BaseException) -> None:
        with self._lock:
            if self.cause is not None:
                return
            self.cause = cause
            query = self._query
        log.error("aborting stream: %r", cause)
        if query is not None:
            query.stop()


def abort_stream_on_error(name: str, kill_switch: KillSwitch, block: Callable[[], None]) -> None:
    """`abortStreamOnError` parity (`RecordProcessorImpl.scala:214-221`):
    run ``block``; on ANY error log it, trip the kill switch, and swallow
    the exception (the abort, not the raise, is the propagation path)."""
    try:
        block()
    except BaseException as exc:  # noqa: BLE001 — mirror catch-Throwable
        log.error("aborting on %s: %r", name, exc)
        kill_switch.abort(exc)


def make_termination_listener(on_terminated: Callable[[str | None], None]):
    """StreamingQueryListener analog of the scheduler's termination watch
    (`StreamScheduler.scala:29-44`): observes query termination and hands
    the exception message (or ``None`` for clean completion) to the
    callback — e.g. ``lambda err: kill_switch.abort(...)`` or an alerting
    hook. Register with ``spark.streams.addListener(...)``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _TerminationListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            pass

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            on_terminated(event.exception)

    return _TerminationListener()
