"""The slow-tier switch in conftest.py: unset, 0 and 1 only, and the tier
named with its skipped count after collection."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOW_MODULE = "tests/test_fuzz_parity.py"  # marked slow module-wide


def collect(value: str | None) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SLOW_TESTS"}
    if value is not None:
        env["SPARK_GRAFT_SLOW_TESTS"] = value
    return subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-p", "no:cacheprovider", SLOW_MODULE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


@pytest.mark.parametrize("value", [None, "0"])
def test_slow_tier_off_reports_skipped_count(value):
    out = collect(value)
    assert out.returncode == 0, out.stdout + out.stderr
    skipped = re.search(r"slow tier: off, (\d+) slow tests skipped", out.stdout)
    collected = re.search(r"(\d+) tests collected", out.stdout)
    assert skipped and collected, out.stdout
    assert int(skipped.group(1)) == int(collected.group(1)) > 0


def test_slow_tier_on():
    out = collect("1")
    assert out.returncode == 0, out.stdout + out.stderr
    assert "slow tier: on (SPARK_GRAFT_SLOW_TESTS=1)" in out.stdout


@pytest.mark.parametrize("value", ["yes", "true", "", "2"])
def test_unknown_slow_tier_value_is_a_usage_error(value):
    out = collect(value)
    assert out.returncode == pytest.ExitCode.USAGE_ERROR
    assert "SPARK_GRAFT_SLOW_TESTS" in out.stderr
