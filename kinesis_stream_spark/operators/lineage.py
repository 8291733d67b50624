"""Every lineage cut in the package: pin, advance, release.

The rule: no other module calls ``localCheckpoint`` or ``checkpoint``;
it calls :func:`pin`, so the choice between lineage and checkpoint is
made here, in one place (*Discretized Streams*, SOSP 2013).
``tests/test_lineage.py`` fails when a call elsewhere appears.

Two forms of cut:

- eager, ``pin(df)``: materialize now;
- lazy, ``pin(df, eager=False)``: materialize on the first action that
  reads the frame, and let later readers reuse the blocks. The call
  runs no job, except that adaptive execution (on in the package
  session) runs the shuffle stages below the cut to plan the stage
  above them.

The loop operators (operators/graph.py, operators/components.py and
dedup.connected_components) also free each superseded round's blocks
(:func:`advance`, :func:`release`) so a finished call holds one
result-sized block, not one per round. A one-shot cut inside an
operator is not released: the operator returns a lazy frame that still
reads it.

The cut is a ``localCheckpoint``, whose blocks live in executor block
managers and are lost with the executor. Making every cut survive
executor loss is one edit here — ``pin`` becomes
``df.checkpoint(eager=eager)`` under ``setCheckpointDir`` on durable
storage — with ``release`` unchanged (a reliable checkpoint's RDD
unpersists the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: materialize it now, or with ``eager=False``
    on the first action that reads it."""
    return df.localCheckpoint(eager=eager)


def pin_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """:func:`pin` with aggregate ``metrics`` riding the same job as an
    ``Observation``: returns the pinned frame and the metric values by
    alias — a loop's convergence scalar costs no job of its own."""
    obs = Observation()
    out = pin(df.observe(obs, *metrics))
    return out, obs.get


def advance(prev: DataFrame, nxt: DataFrame) -> DataFrame:
    """One round step: pin ``nxt``, THEN release ``prev``. The order is
    the invariant — ``nxt``'s lineage reads ``prev``'s blocks, so they
    may only go once ``nxt`` no longer needs them."""
    out = pin(nxt)
    release(prev)
    return out


def release(*frames: DataFrame | None) -> None:
    """Free the block-manager storage behind pinned frames whose data
    has been fully consumed downstream. A lazy frame over pinned ones
    (an operator's projected or aggregated result) releases the pins it
    reads, so call it only when nothing else reads them. ``None`` is
    skipped, a checkpoint reached twice is released once, and a frame
    that reads no pin is left alone.

    ``Dataset.unpersist()`` only covers cache-manager entries (it leaves
    localCheckpoint blocks resident), so this reaches through the
    plan's ``LogicalRDD`` leaves to the persisted RDDs themselves.
    Best-effort by design — py4j internals; a miss just leaves the
    blocks held until session end."""
    seen: set[int] = set()
    for df in frames:
        if df is None:
            continue
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if not leaf.getClass().getName().endswith("LogicalRDD"):
                    continue
                rdd = leaf.rdd()
                if rdd.id() not in seen:
                    seen.add(rdd.id())
                    rdd.unpersist(False)
        except Exception:
            pass
