"""Regression guards for the round-11 review findings: asof string-id
tie-break and output-collision validation, seasonal/bootstrap wide-sum
overflow paths, pre-epoch bucket parity of the new grid twins."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd
import pytest

FX = 1 << 20


class TestAsofStringIdTieBreak:
    def test_string_ids_break_ties_like_the_oracle(self, spark):
        from kinesis_stream_spark.operators.asof import asof_join

        t = dt.datetime(2024, 1, 1, 12)
        left = spark.createDataFrame(
            [(1, "u", t)], "event_id long, user_id string, ts timestamp"
        )
        right = spark.createDataFrame(
            [("a", "u", t, 1.0), ("b", "u", t, 2.0)],
            "rid string, user_id string, ts timestamp, value double",
        )
        got = asof_join(
            left,
            right,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_id="rid",
            right_vals=("value",),
        ).collect()
        # largest id 'b' wins deterministically (native-type ordering,
        # never a cast-to-long that would NULL both)
        assert got[0].asof_rid == "b" and got[0].asof_value == 2.0

    def test_duplicate_output_columns_rejected(self, spark):
        from kinesis_stream_spark.operators.asof import asof_join

        t = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, "u", t)], "event_id long, user_id string, ts timestamp"
        )
        right = spark.createDataFrame(
            [(2, "u", t, 1.0)],
            "event_id long, user_id string, ts timestamp, value double",
        )
        with pytest.raises(ValueError, match="duplicate asof output"):
            asof_join(
                left, right, on="user_id", left_ts="ts", right_ts="ts",
                right_id="event_id", right_vals=("event_id",),
            )
        with pytest.raises(ValueError, match="duplicate asof output"):
            asof_join(
                left, right, on="user_id", left_ts="ts", right_ts="ts",
                right_id="event_id", right_vals=("value", "value"),
            )


class TestWideSumHeadroom:
    def test_bootstrap_huge_values_stay_exact(self, spark):
        """The widened DECIMAL w·xfx path must match the python
        replay at the top of the fx range. Since ADVICE-r12 landed
        the ±FX_V_CAP input clamp, the largest reachable xfx is
        exactly 2^40·2^20 = 2^60 — and a 64-bit w·xfx product still
        wraps there (w = 8 gives 8·2^60 = 2^63), so the DECIMAL
        widening this r11 fix added remains load-bearing. The replay
        applies the same clamp the engines do."""
        from kinesis_stream_spark.operators.experiment import (
            FX_V_CAP,
            POISSON_T,
            bootstrap_ci,
        )

        rows = [(i, 2.5e12) for i in range(8)]  # beyond the cap
        got = bootstrap_ci(
            spark.createDataFrame(rows, "event_id long, value double"),
            b_replicates=8,
        ).collect()[0]
        means = []
        for b in range(8):
            n = s = 0
            for rid, v in rows:
                u = int(
                    hashlib.md5(f"{b}|{rid}".encode()).hexdigest()[:15], 16
                )
                w = sum(1 for t in POISSON_T if u >= t)
                n += w
                vc = min(max(v, -FX_V_CAP), FX_V_CAP)
                s += w * math.floor(vc * FX)
            if n:
                means.append(s / n / FX)
        means.sort()
        assert math.floor(min(2.5e12, FX_V_CAP) * FX) == 1 << 60
        assert got.ci_lo == pytest.approx(means[0], rel=1e-12)

    def test_seasonal_huge_errors_stay_exact(self, spark):
        """Per-period fx errors ≈ 4.2e18: summing three in 64-bit
        would wrap; DECIMAL(38,0) sums must divide exactly."""
        from kinesis_stream_spark.operators.temporal import seasonal_naive

        def d(day):
            return dt.datetime(2024, 1, 1 + day)

        vals = [0.0, 4.0e12, 0.0, 4.0e12, 0.0, 4.0e12]
        rows = [("k", d(i), v) for i, v in enumerate(vals)]
        got = seasonal_naive(
            spark.createDataFrame(
                rows, "event_type string, ts timestamp, value double"
            ),
            season=7,  # unevaluable -> exercises only the naive path
        ).collect()[0]
        err = math.floor(4.0e12 * FX)  # |v(t) - v(t-1)| each step
        assert got.n_eval_naive == 5
        assert got.mae_naive_fx == 5 * err // 5
        assert got.mae_snaive_fx is None and got.mase_ppm is None


class TestPreEpochBucketParity:
    """DuckDB's integer `//` truncates toward zero exactly like
    Spark's `div` (verified: -7 // 2 = -3 on the pinned 1.0.0), so the
    bare-`//` grid twins agree with Spark even for pre-1970 events —
    these tests PIN that semantic equivalence on real pre-epoch
    rows."""

    ROWS = [
        (1, dt.datetime(1969, 12, 31, 23, 59), 5.0),
        (1, dt.datetime(1970, 1, 1, 0, 1), 7.0),
        (2, dt.datetime(1969, 12, 30, 5), 1.0),
    ]

    def _pdf(self):
        return pd.DataFrame(
            self.ROWS, columns=["user_id", "ts", "value"]
        ).assign(event_type="e")

    def test_rolling_distinct(self, spark):
        from kinesis_stream_spark.operators.temporal import (
            rolling_distinct,
            sql_rolling_distinct,
        )

        sdf = spark.createDataFrame(
            self.ROWS, "user_id long, ts timestamp, value double"
        )
        got = sorted(
            (r.day_bucket, r.dau, r.wau)
            for r in rolling_distinct(sdf, window=2).collect()
        )
        con = duckdb.connect()
        con.register("events_t", self._pdf())
        oracle = sorted(
            (b, d, w)
            for b, d, w, _ in con.execute(
                sql_rolling_distinct(table="events_t", window=2)
            ).fetchall()
        )
        assert got == oracle
        # truncation semantics: -60e6 us (1969-12-31 23:59) is day 0
        # like +60e6 us, while 1969-12-30 05:00 is day -1 — a flooring
        # oracle would have split the 23:59 event into day -1
        assert got == [(-1, 1, 1), (0, 1, 2)]

    def test_seasonal_naive(self, spark):
        from kinesis_stream_spark.operators.temporal import (
            seasonal_naive,
            sql_seasonal_naive,
        )

        sdf = spark.createDataFrame(
            [("e", ts, v) for _, ts, v in self.ROWS],
            "event_type string, ts timestamp, value double",
        )
        got = seasonal_naive(sdf, season=1).collect()
        con = duckdb.connect()
        con.register("events_t", self._pdf())
        oracle = con.execute(
            sql_seasonal_naive(table="events_t", season=1)
        ).fetchdf()
        assert len(got) == len(oracle) == 1
        g, o = got[0], oracle.iloc[0]
        # every output field, so a bucket divergence anywhere (incl.
        # the forecast slot _maxb + 1 - season) breaks the pin
        for f in (
            "n_periods", "n_eval_snaive", "n_eval_naive",
            "mae_snaive_fx", "mae_naive_fx", "mase_ppm",
            "forecast_next_fx", "forecast_next",
        ):
            gv, ov = getattr(g, f), o[f]
            if gv is None:
                assert pd.isna(ov), (f, gv, ov)
            else:
                assert gv == ov, (f, gv, ov)
