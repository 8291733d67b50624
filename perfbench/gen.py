"""Seeded input generators for the streaming workloads.

Everything here is a pure function of the seed and the sizes: the same
arguments give byte-identical backlog files and the same ack schedule.
The expected results (committed counts, per-shard final checkpoints,
per-(shard, event_type) totals) are computed here with NumPy and plain
Python, never with Spark, so the benchmark checks the program against an
independent account of its input.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 8
N_KEYS = 2000
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "error")
EVENT_WEIGHTS = (0.55, 0.25, 0.1, 0.07, 0.03)
#: share of records that are KPL sub-records of the record before them
#: (same sequence number, next sub-sequence number)
AGGREGATED_SHARE = 0.05
#: Kinesis sequence numbers are ~56-digit decimals: a fixed 36-digit
#: per-shard prefix followed by a 20-digit, zero-padded monotone offset
_SEQ_OFFSET_DIGITS = 20
_ARRIVAL_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

ENVELOPE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("partitionKey", pa.string(), nullable=False),
        pa.field("data", pa.binary()),
        pa.field("sequenceNumber", pa.string(), nullable=False),
        pa.field("subSequenceNumber", pa.int64(), nullable=False),
        pa.field("shardId", pa.string(), nullable=False),
        pa.field("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def shard_name(i: int) -> str:
    return f"shardId-{i:012d}"


def _key_shard(key: str) -> int:
    """Kinesis maps the MD5 of the partition key onto a shard's hash-key
    range; with equal ranges that is the hash modulo the shard count."""
    return int.from_bytes(hashlib.md5(key.encode()).digest(), "big") % N_SHARDS


@dataclass
class Backlog:
    """What the generator wrote, and the totals the program must reach."""

    files: list[str]
    n_records: int
    #: shard -> (seq, sub) of its last record, the final checkpoint
    final_checkpoint: dict[str, tuple[int, int]]
    #: (shard, event_type) -> [count, sum of value]
    totals: dict[tuple[str, str], list]


def backlog_columns(seed: int, n_records: int) -> dict[str, np.ndarray]:
    """The whole stream in arrival order, as NumPy columns."""
    rng = np.random.default_rng(seed)
    # skewed keys: Zipf-like popularity over N_KEYS users
    weights = 1.0 / np.arange(1, N_KEYS + 1) ** 1.1
    key_idx = rng.choice(N_KEYS, size=n_records, p=weights / weights.sum())
    key_shard = np.array([_key_shard(f"user-{k:05d}") for k in range(N_KEYS)])
    shard = key_shard[key_idx]
    # per-shard monotone (offset, sub): each record advances its shard's
    # offset by a random gap, except KPL sub-records, which repeat the
    # previous record's sequence number with the next sub number
    gaps = rng.integers(1, 1 << 20, size=n_records)
    aggregated = rng.random(n_records) < AGGREGATED_SHARE
    offset = np.empty(n_records, dtype=np.int64)
    sub = np.zeros(n_records, dtype=np.int64)
    for s in range(N_SHARDS):
        idx = np.flatnonzero(shard == s)
        if idx.size == 0:
            continue
        agg = aggregated[idx].copy()
        agg[0] = False
        step = np.where(agg, 0, gaps[idx])
        offset[idx] = np.cumsum(step)
        # sub = position inside the run of records sharing one offset
        run_start = np.flatnonzero(~agg)
        run_id = np.cumsum(~agg) - 1
        sub[idx] = np.arange(idx.size) - run_start[run_id]
    prefixes = [
        str(rng.integers(10**17, 10**18)) + f"{rng.integers(0, 10**18):018d}"
        for _ in range(N_SHARDS)
    ]
    event = rng.choice(len(EVENT_TYPES), size=n_records, p=EVENT_WEIGHTS)
    value = np.round(rng.lognormal(3.0, 1.2, size=n_records), 3)
    return {
        "key_idx": key_idx,
        "shard": shard,
        "offset": offset,
        "sub": sub,
        "prefix": np.array(prefixes, dtype=object),
        "event": event,
        "value": value,
    }


def write_backlog(seed: int, out_dir: str, n_files: int, records_per_file: int) -> Backlog:
    """Write ``n_files`` envelope parquet files of ``records_per_file``
    records each, atomically (temp name, then rename), with strictly
    increasing modification times so the file source reads them in
    stream order. Returns the expected totals."""
    n = n_files * records_per_file
    c = backlog_columns(seed, n)
    os.makedirs(out_dir, exist_ok=True)
    keys = [f"user-{k:05d}" for k in range(N_KEYS)]
    shards = [shard_name(s) for s in range(N_SHARDS)]
    files = []
    mtime0 = 1_700_000_000
    for f in range(n_files):
        lo, hi = f * records_per_file, (f + 1) * records_per_file
        sh, ev, val = c["shard"][lo:hi], c["event"][lo:hi], c["value"][lo:hi]
        seqs = [
            c["prefix"][s] + f"{o:0{_SEQ_OFFSET_DIGITS}d}"
            for s, o in zip(sh.tolist(), c["offset"][lo:hi].tolist())
        ]
        data = [
            f'{{"event_type":"{EVENT_TYPES[e]}","value":{v!r},"props":"p{k % 97}"}}'.encode()
            for e, v, k in zip(ev.tolist(), val.tolist(), c["key_idx"][lo:hi].tolist())
        ]
        table = pa.table(
            {
                "partitionKey": [keys[k] for k in c["key_idx"][lo:hi].tolist()],
                "data": data,
                "sequenceNumber": seqs,
                "subSequenceNumber": c["sub"][lo:hi],
                "shardId": [shards[s] for s in sh.tolist()],
                "approximateArrivalTimestamp": np.arange(lo, hi, dtype=np.int64) * 1000
                + _ARRIVAL_BASE_US,
            },
            schema=ENVELOPE_ARROW_SCHEMA,
        )
        final = os.path.join(out_dir, f"part-{f:05d}.parquet")
        tmp = os.path.join(out_dir, f".tmp-part-{f:05d}.parquet")
        pq.write_table(table, tmp)
        os.utime(tmp, (mtime0 + f, mtime0 + f))
        os.replace(tmp, final)
        files.append(final)
    final_checkpoint = {}
    for s in range(N_SHARDS):
        idx = np.flatnonzero(c["shard"] == s)
        if idx.size:
            last = idx[-1]
            seq = int(c["prefix"][s] + f"{c['offset'][last]:0{_SEQ_OFFSET_DIGITS}d}")
            final_checkpoint[shard_name(s)] = (seq, int(c["sub"][last]))
    totals: dict[tuple[str, str], list] = {}
    for s in range(N_SHARDS):
        for e, name in enumerate(EVENT_TYPES):
            mask = (c["shard"] == s) & (c["event"] == e)
            count = int(mask.sum())
            if count:
                totals[(shard_name(s), name)] = [count, float(c["value"][mask].sum())]
    return Backlog(files, n, final_checkpoint, totals)


@dataclass(frozen=True)
class AckSchedule:
    """A seeded KCL-style ack stream for one worker.

    ``batches[i]`` is ``(shard, [(seq, sub), ...])``: the i-th batch the
    worker tracks. ``acks[i]`` lists the acks that arrive during cycle i,
    after that cycle's track, each as ``(batch, position)`` of the
    number acked. Shards are unevenly loaded, so hot shards reach the
    buffer threshold while cold ones reach the time threshold. Acks
    come back shuffled; about 1% straggle for up to ``max_delay``
    cycles, and about 0.1% arrive twice, the second time possibly after
    their number was checkpointed.
    """

    batches: list[tuple[str, list[tuple[int, int]]]]
    acks: list[list[tuple[int, int]]]
    n_acks: int


#: relative batch rate per shard
SHARD_WEIGHTS = (8, 4, 2, 1, 1, 1, 1, 1)


def ack_schedule(
    seed: int,
    n_seqs: int,
    *,
    batch_size: int = 100,
    straggler_share: float = 0.01,
    duplicate_share: float = 0.001,
    max_delay: int = 50,
) -> AckSchedule:
    rng = np.random.default_rng(seed)
    n_batches = -(-n_seqs // batch_size)
    weights = np.array(SHARD_WEIGHTS, dtype=float)
    batch_shard = rng.choice(N_SHARDS, size=n_batches, p=weights / weights.sum()).tolist()
    next_seq = [int(rng.integers(10**17, 10**18)) * 10**38 for _ in range(N_SHARDS)]
    batches: list[tuple[str, list[tuple[int, int]]]] = []
    acks: list[list[tuple[int, int]]] = [[] for _ in range(n_batches + 2 * max_delay + 1)]
    n_acks = 0
    for b in range(n_batches):
        s = batch_shard[b]
        size = min(batch_size, n_seqs - b * batch_size)
        seqs = []
        for g in rng.integers(1, 1000, size=size).tolist():
            next_seq[s] += g
            seqs.append((next_seq[s], 0))
        batches.append((shard_name(s), seqs))
        order = rng.permutation(size).tolist()
        straggle = (rng.random(size) < straggler_share).tolist()
        delay = rng.integers(1, max_delay + 1, size=size).tolist()
        dup = (rng.random(size) < duplicate_share).tolist()
        dup_delay = rng.integers(0, max_delay + 1, size=size).tolist()
        for i in order:
            when = b + delay[i] if straggle[i] else b
            acks[when].append((b, i))
            n_acks += 1
            if dup[i]:
                acks[when + dup_delay[i]].append((b, i))
                n_acks += 1
    while acks and not acks[-1]:
        acks.pop()
    return AckSchedule(batches, acks, n_acks)
