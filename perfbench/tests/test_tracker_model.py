"""The brute-force model agrees with the tracker and catches a wrong
checkpoint."""

import gen
import pytest
import tracker_acks as ta
from kinesis_stream_spark.checkpoint import CheckpointConfig


def test_model_matches_tracker_on_a_seeded_schedule():
    schedule = gen.ack_schedule(2, 60_000)
    expected = ta.reference_commits(schedule)
    result = ta.replay(*ta.prepare(schedule))
    assert result["failures"] == 0
    assert ta.check(result["commits"], expected) == []
    # both triggers fire: buffer-size commits on the hot shard, time
    # commits elsewhere, and the forced shutdown commits at the end
    assert len(expected) > len({shard for _, shard, _ in expected})


def test_check_rejects_an_injected_wrong_checkpoint():
    schedule = gen.ack_schedule(2, 30_000)
    commits = ta.replay(*ta.prepare(schedule))["commits"]
    expected = ta.reference_commits(schedule)
    cycle, shard, (seq, sub) = commits[1]
    wrong = list(commits)
    wrong[1] = (cycle, shard, (seq - 1, sub))
    assert ta.check(wrong, expected)
    assert ta.check(commits[:-1], expected)
    assert ta.check(commits, expected) == []


def test_model_on_a_hand_made_case():
    # track 1..4 on one shard, ack 3, 2, 1: the prefix 1..3 commits once
    # the buffer threshold of 1 fires (the reference's first spec case)
    schedule = gen.AckSchedule(
        batches=[(ta.SHARDS[0], [(1, 0), (2, 0), (3, 0), (4, 0)])],
        acks=[[(0, 2), (0, 1), (0, 0)]],
        n_acks=3,
    )
    got = ta.reference_commits(schedule, CheckpointConfig(max_buffer_size=1))
    assert got[0] == (0, ta.SHARDS[0], (3, 0))
    assert len(got) == 1, "4 is never acked, so the forced checkpoint adds nothing"


def test_scaling_uses_the_probes_around_each_chunk():
    every, ref = ta.PROBE_EVERY, ta.PROBE_REF_S
    times = [1.0] * (every + 1)
    # the host runs at half the reference speed over the first chunk,
    # then at the reference speed
    probes = [2 * ref, 2 * ref, ref]
    out = ta.scaled(times, probes)
    assert out[:every] == pytest.approx([0.5] * every)
    assert out[every] == pytest.approx(1 / 1.5)
    result = ta.replay(*ta.prepare(gen.ack_schedule(3, 2_000)))
    assert len(result["probe_s"]) == -(-len(result["cycle_s"]) // every) + 1
    assert result["pass_s"] > 0
