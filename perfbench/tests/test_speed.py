"""The host-speed sampler scales by the probes inside a window."""

import time

import harness
import pytest


def test_scale_uses_the_probes_in_the_window_and_falls_back_to_all():
    ref = harness.PROBE_REF_S
    sampler = harness.SpeedSampler()
    sampler.samples = [(1.0, 2 * ref), (2.0, 2 * ref), (3.0, ref), (4.0, ref), (5.0, ref)]
    assert sampler.scale(0.5, 2.5) == pytest.approx(0.5)
    assert sampler.scale(2.5, 5.5) == pytest.approx(1.0)
    # no probe in the window: the median of all of them
    assert sampler.scale(6.0, 7.0) == pytest.approx(1.0)
    assert harness.SpeedSampler().scale() == 1.0


def test_sampler_probes_while_open_and_stops_on_exit():
    with harness.SpeedSampler(every_s=0.01) as sampler:
        time.sleep(0.2)
    n = len(sampler.samples)
    assert n > 0 and all(p > 0 for _, p in sampler.samples)
    assert not sampler._thread.is_alive()
    time.sleep(0.05)
    assert len(sampler.samples) == n
