"""In-memory spans for the traced run.

Spans are recorded from the benchmark's own files around calls into the
package's public functions: nothing inside ``kinesis_stream_spark`` is
instrumented. Each span has a name, a start, an end and the index of
the span that was open around it on the same thread. Fine-grained calls
(one per ack) keep only their duration, not a span record.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

from harness import percentile


class Spans:
    def __init__(self) -> None:
        self.records: list[tuple[str, float, float, int | None]] = []
        self.durations: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)
        self._open = threading.local()
        # perf_counter -> wall clock, to line spans up with Spark's event log
        self._epoch = time.time() - time.perf_counter()

    # -- recording -----------------------------------------------------------
    def add(self, name: str, start: float, end: float) -> None:
        """A finished span, start and end in ``time.perf_counter`` seconds."""
        stack = getattr(self._open, "stack", None)
        parent = stack[-1] if stack else None
        self.records.append((name, start, end, parent))
        self.durations[name].append(end - start)

    def span(self, name: str):
        return _Span(self, name)

    def call(self, name: str, fn, *args, **kwargs):
        """Time one fine-grained call; keeps its duration only."""
        t0 = time.perf_counter_ns()
        out = fn(*args, **kwargs)
        self.durations[name].append((time.perf_counter_ns() - t0) / 1e9)
        return out

    def wrap_tracker(self, tracker) -> "TimedTracker":
        return TimedTracker(tracker, self)

    # -- reporting -----------------------------------------------------------
    def p(self, name: str, q: float, scale: float = 1.0) -> float:
        return percentile(self.durations.get(name, []), q) * scale

    def extent(self, name: str) -> tuple[float, float]:
        """First start and last end of the spans called ``name``."""
        spans = [(s, e) for n, s, e, _ in self.records if n == name]
        return min(s for s, _ in spans), max(e for _, e in spans)

    def epoch_ms(self, start: float, end: float) -> tuple[float, float]:
        return (start + self._epoch) * 1e3, (end + self._epoch) * 1e3

    def write(self, path: str) -> None:
        origin = min((r[1] for r in self.records), default=0.0)
        doc = {
            "spans": [
                {"name": n, "start_s": s - origin, "end_s": e - origin, "parent": p}
                for n, s, e, p in self.records
            ],
            "calls": {k: len(v) for k, v in self.durations.items()},
            "counts": dict(self.counts),
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)


class _Span:
    def __init__(self, spans: Spans, name: str) -> None:
        self.spans, self.name = spans, name

    def __enter__(self):
        local = self.spans._open
        if not hasattr(local, "stack"):
            local.stack = []
        self.index = len(self.spans.records)
        self.spans.records.append((self.name, 0.0, 0.0, local.stack[-1] if local.stack else None))
        local.stack.append(self.index)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        t1 = time.perf_counter()
        self.spans._open.stack.pop()
        name, _, _, parent = self.spans.records[self.index]
        self.spans.records[self.index] = (name, self.t0, t1, parent)
        self.spans.durations[name].append(t1 - self.t0)


def timed(spans: Spans, name: str, fn):
    """``fn`` wrapped in a span named ``name``."""

    def wrapper(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    return wrapper


class TimedTracker:
    """A ``CheckpointTracker`` stand-in that times each protocol call and
    counts checkpoint attempts, commits and the largest tracked queue."""

    def __init__(self, inner, spans: Spans) -> None:
        self._inner = inner
        self._spans = spans
        self._tracked: dict[str, int] = {}
        self.max_tracked = 0

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def track(self, shard_id, seqs):
        n = self._spans.call("tracker.track", self._inner.track, shard_id, seqs)
        self._tracked[shard_id] = self._tracked.get(shard_id, 0) + n
        self.max_tracked = max(self.max_tracked, self._tracked[shard_id])
        return n

    def process(self, shard_id, seq):
        return self._spans.call("tracker.process", self._inner.process, shard_id, seq)

    def checkpoint_if_needed(self, shard_id, checkpointer, *, force=False):
        out = self._spans.call(
            "tracker.checkpoint_if_needed",
            self._inner.checkpoint_if_needed,
            shard_id,
            checkpointer,
            force=force,
        )
        self._spans.counts["tracker.checkpoint_calls"] += 1
        if out is not None:
            self._spans.counts["tracker.checkpoints"] += 1
            # the queue only shrinks on a commit: read its length back then
            # (the public ``tracked`` property copies the queue)
            self._tracked[shard_id] = len(self._inner.start_shard(shard_id).tracked)
        return out
