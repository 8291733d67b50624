from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Two-tier suite (VERDICT r12 item 1): the full suite outgrew the
# driver's verify window (~1130 tests, tests_ok timed out at ~82% on a
# pass-dot tail in r12), which killed the contract's test signal. Tests
# marked ``slow`` — the heavy ANN/dedup oracle replays that the r13
# driver window re-verifies at sf0.01 anyway, the fuzz suites, and the
# per-family duplicates of the shared fixed-point invariance property —
# are skipped by DEFAULT so `python -m pytest tests/` completes inside
# the window, and run with SPARK_GRAFT_SLOW_TESTS=1 (the builder runs
# the full two-tier suite in-session each round; see OPTIMIZATION_r13.md).
# Any other value than unset, 0 or 1 is a usage error, so a mistyped
# switch cannot silently pick a tier, and the line printed after
# collection names the tier and the number of slow tests it skipped.
SLOW_ENV = "SPARK_GRAFT_SLOW_TESTS"


def slow_tier_on() -> bool:
    value = os.environ.get(SLOW_ENV, "0")
    if value not in ("0", "1"):
        raise pytest.UsageError(
            f"{SLOW_ENV}={value!r}: set 1 to run the slow tier, 0 or unset to skip it"
        )
    return value == "1"


def pytest_configure(config):
    slow_tier_on()
    config.addinivalue_line(
        "markers",
        f"slow: opt-in tier (set {SLOW_ENV}=1); see conftest.py",
    )


def pytest_collection_modifyitems(config, items):
    if slow_tier_on():
        return
    skip = pytest.mark.skip(reason=f"slow tier: set {SLOW_ENV}=1 to run")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_report_collectionfinish(config, items):
    # after collection, not in pytest_report_header: the count is known
    # only then, and -q hides the header but not this line
    if slow_tier_on():
        return f"slow tier: on ({SLOW_ENV}=1)"
    n = sum("slow" in item.keywords for item in items)
    return f"slow tier: off, {n} slow tests skipped (set {SLOW_ENV}=1 to run them)"


@pytest.fixture(scope="session")
def spark():
    from kinesis_stream_spark.session import get_spark

    spark = get_spark("kinesis-stream-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST
