"""Unit tests for the Poisson-bootstrap CI — a plain-python replay of
the deterministic draws, CI sanity, contracts, partition invariance."""

from __future__ import annotations

import hashlib
import math

import pytest

FX = 1 << 20


def _u(b, rid):
    return int(
        hashlib.md5(f"{b}|{rid}".encode()).hexdigest()[:15], 16
    )


def _python_boot(rows, b_reps=64, alpha_ppm=50_000):
    from kinesis_stream_spark.operators.experiment import POISSON_T

    means = []
    for b in range(b_reps):
        n = s = 0
        for rid, v in rows:
            u = _u(b, rid)
            w = sum(1 for t in POISSON_T if u >= t)
            n += w
            s += w * math.floor(v * FX)
        if n > 0:
            means.append(s / n / FX)
    means.sort()
    lo = (alpha_ppm * (b_reps - 1)) // 2_000_000 + 1
    hi = b_reps - lo + 1
    return means[lo - 1], means[hi - 1]


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_id long, value double")


class TestMatchesPython:
    def test_ci_replay(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        rows = [(i, float((i * 17) % 31) + 0.5) for i in range(60)]
        got = bootstrap_ci(_df(spark, rows)).collect()[0]
        lo, hi = _python_boot(rows)
        assert got.n_rows == 60 and got.b_replicates == 64
        assert got.ci_lo == pytest.approx(lo, rel=1e-12)
        assert got.ci_hi == pytest.approx(hi, rel=1e-12)
        mean = sum(math.floor(v * FX) for _, v in rows) / 60 / FX
        assert got.mean_value == pytest.approx(mean, rel=1e-12)
        # a 95% percentile CI must bracket sanely
        assert got.ci_lo <= got.ci_hi
        assert got.ci_lo < got.mean_value < got.ci_hi

    def test_ci_narrows_with_n(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        def width(n):
            rows = [(i, float((i * 13) % 23)) for i in range(n)]
            r = bootstrap_ci(_df(spark, rows)).collect()[0]
            return r.ci_hi - r.ci_lo

        assert width(400) < width(40)


class TestContracts:
    def test_empty_one_row(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        got = bootstrap_ci(_df(spark, [])).collect()
        assert len(got) == 1
        assert got[0].n_rows == 0
        assert got[0].mean_value is None
        assert got[0].ci_lo is None and got[0].ci_hi is None

    def test_nulls_excluded(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        rows = [(1, 2.0), (None, 9.0), (3, None)]
        got = bootstrap_ci(_df(spark, rows)).collect()[0]
        assert got.n_rows == 1

    def test_validation(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        with pytest.raises(ValueError, match="b_replicates"):
            bootstrap_ci(_df(spark, []), b_replicates=2)
        with pytest.raises(ValueError, match="alpha_ppm"):
            bootstrap_ci(_df(spark, []), alpha_ppm=0)

    def test_partition_invariance(self, spark):
        from kinesis_stream_spark.operators.experiment import bootstrap_ci

        rows = [(i, float((i * 7) % 19)) for i in range(80)]
        base = str(bootstrap_ci(_df(spark, rows)).collect())
        re9 = str(bootstrap_ci(_df(spark, rows).repartition(9)).collect())
        assert re9 == base
