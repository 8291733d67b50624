"""The generators are pure functions of the seed."""

import filecmp
import os

import gen


def test_backlog_is_deterministic_per_seed(tmp_path):
    a = gen.write_backlog(3, str(tmp_path / "a"), 3, 500)
    b = gen.write_backlog(3, str(tmp_path / "b"), 3, 500)
    c = gen.write_backlog(4, str(tmp_path / "c"), 3, 500)
    for fa, fb in zip(a.files, b.files):
        assert filecmp.cmp(fa, fb, shallow=False)
    assert (a.totals, a.final_checkpoint) == (b.totals, b.final_checkpoint)
    assert a.final_checkpoint != c.final_checkpoint
    assert not filecmp.cmp(a.files[0], c.files[0], shallow=False)


def test_backlog_is_shard_ordered_and_complete(tmp_path):
    import pyarrow.parquet as pq

    backlog = gen.write_backlog(5, str(tmp_path), 4, 1000)
    assert sorted(os.listdir(tmp_path)) == [f"part-{i:05d}.parquet" for i in range(4)]
    mtimes = [os.stat(f).st_mtime for f in backlog.files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    rows = [r for f in backlog.files for r in pq.read_table(f).to_pylist()]
    assert len(rows) == backlog.n_records == sum(n for n, _ in backlog.totals.values())
    last = {}
    for r in rows:
        key = (int(r["sequenceNumber"]), r["subSequenceNumber"])
        assert len(r["sequenceNumber"]) == 56
        assert key > last.get(r["shardId"], (-1, -1)), "per-shard (seq, sub) must increase"
        last[r["shardId"]] = key
    assert last == backlog.final_checkpoint
    assert any(r["subSequenceNumber"] > 0 for r in rows), "KPL sub-records present"


def test_ack_schedule_is_deterministic_per_seed():
    a = gen.ack_schedule(9, 5000)
    assert a == gen.ack_schedule(9, 5000)
    assert a != gen.ack_schedule(10, 5000)
    acked = sorted(a.acks[c][i] for c in range(len(a.acks)) for i in range(len(a.acks[c])))
    every = sorted((b, i) for b, (_, seqs) in enumerate(a.batches) for i in range(len(seqs)))
    assert sorted(set(acked)) == every, "every tracked number is acked at least once"
    assert a.n_acks == len(acked) > len(every), "some acks are duplicated"
