"""Regression guards for the ADVICE-r11 fixes: the asof oracle's
NULL-left_id contract (lq filter + documented non-NULL requirement),
the asof right_id per-(key, ts) uniqueness contract note, and the
±FX_V_CAP saturation clamps on the CUPED / bootstrap-CI /
total-reconciliation fx floors. Each test exercises the divergence
the advice described, on BOTH engines where the fix is cross-engine."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest


class TestAsofOracleNullLeftId:
    """ADVICE r11 item 1: the oracle's final LEFT JOIN on left_id
    never matched a NULL left_id row, silently yielding NULL asof
    columns where the Spark operator (no left_id concept) matched.
    The fix filters left_id IS NOT NULL in the lq CTE so a contract
    violation surfaces as a loud row-count mismatch, and the
    contract now requires a unique NON-NULL left_id."""

    def test_null_left_id_rows_are_excluded_from_oracle(self):
        from kinesis_stream_spark.operators.asof import sql_asof_join

        ts = dt.datetime(2024, 1, 1, 12, 0, 0)
        left = pd.DataFrame(
            {
                "lid": [1, None],
                "k": [7, 7],
                "lts": [ts, ts],
            }
        )
        right = pd.DataFrame(
            {"k": [7], "rid": [100], "rts": [ts - dt.timedelta(seconds=5)]}
        )
        con = duckdb.connect()
        con.register("lt", left)
        con.register("rt", right)
        q = sql_asof_join(
            left_sql="SELECT * FROM lt",
            right_sql="SELECT * FROM rt",
            on="k",
            left_id="lid",
            left_cols=("lid", "k", "lts"),
            left_ts="lts",
            right_ts="rts",
            right_id="rid",
        )
        rows = con.execute(q).fetchall()
        # the NULL-lid row is OUT of the oracle's qualifying set (a
        # loud row-count divergence vs an operator fed NULL row ids),
        # and the surviving row matches — no silent NULL asof columns
        assert len(rows) == 1
        assert rows[0][0] == 1 and rows[0][3] == 100

    def test_docstrings_state_the_contracts(self):
        from kinesis_stream_spark.operators import asof

        assert "NON-NULL" in asof.sql_asof_join.__doc__
        assert "UNIQUE within each (key, right_ts)" in asof.asof_join.__doc__


def _one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


class TestCupedFxSaturationClamp:
    """ADVICE r11 item 3: a per-unit DECIMAL(27,6) total beyond
    ~2^63/2^20 saturated Spark's non-ANSI double→long cast while the
    DuckDB twin raised. Both engines now clamp the total to
    ±FX_V_CAP before the fx floor — same finite answer, no raise."""

    def _rows(self):
        split = dt.datetime(2024, 6, 1)
        pre = split - dt.timedelta(days=1)
        post = split + dt.timedelta(days=1)
        rows = []
        for uid in (1, 2, 3, 4):
            rows.append((uid, pre, 2.0e13 if uid == 1 else float(uid)))
            rows.append((uid, post, -2.0e13 if uid == 2 else float(uid * 3)))
        return rows, int(split.timestamp() * 1_000_000)

    def test_both_engines_agree_on_huge_unit_totals(self, spark):
        from kinesis_stream_spark.operators.experiment import (
            FX_V_CAP,
            ab_cuped,
            sql_ab_cuped,
        )

        rows, split_us = self._rows()
        assert 2.0e13 > FX_V_CAP  # the fixture actually exceeds the cap
        sdf = spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, value double"
        )
        got = _one_row(ab_cuped(sdf, split_us=split_us))

        con = duckdb.connect()
        con.register(
            "events_t", pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        )
        # pre-fix this raised in DuckDB (CAST out of range) while
        # Spark saturated; post-fix both clamp identically
        oracle = con.execute(
            sql_ab_cuped(table="events_t", split_us=split_us)
        ).fetchdf().iloc[0]
        assert got.n_control + got.n_treatment == 4
        assert int(oracle["n_control"]) == got.n_control
        assert oracle["theta"] == pytest.approx(got.theta, abs=0.0)

    def test_bootstrap_ci_clamps_row_values(self, spark):
        from kinesis_stream_spark.operators.experiment import (
            bootstrap_ci,
            sql_bootstrap_ci,
        )

        rows = [(1, 3.0e13), (2, 5.0), (3, -3.0e13), (4, 7.5)]
        sdf = spark.createDataFrame(rows, "event_id bigint, value double")
        got = _one_row(bootstrap_ci(sdf))
        con = duckdb.connect()
        con.register(
            "events_t", pd.DataFrame(rows, columns=["event_id", "value"])
        )
        (o_n, _o_b, o_mean, o_lo, o_hi) = con.execute(
            sql_bootstrap_ci(table="events_t")
        ).fetchall()[0]
        assert got.n_rows == 4 == o_n
        assert o_mean == pytest.approx(got.mean_value, abs=0.0)
        # tiny input: a rank can exceed the realized replicate list on
        # BOTH engines (honest undersampling -> NULL CI bound)
        for o_v, s_v in ((o_lo, got.ci_lo), (o_hi, got.ci_hi)):
            if s_v is None:
                assert o_v is None
            else:
                assert o_v == pytest.approx(s_v, abs=0.0)


class TestReconciliationFxSaturationClamp:
    def test_huge_totals_clamp_identically(self, spark):
        from kinesis_stream_spark.operators.profile import (
            sql_total_reconciliation,
            total_reconciliation,
        )

        parent = [(1, 4.0e13), (2, 10.0)]
        children = [(1, 4.0e13), (2, 10.0)]
        psdf = spark.createDataFrame(parent, "pk bigint, total double")
        csdf = spark.createDataFrame(children, "ck bigint, contrib double")
        got = {
            r.bucket: r
            for r in total_reconciliation(
                psdf,
                csdf,
                parent_key="pk",
                total_col="total",
                child_key="ck",
                contribution_col="contrib",
            ).collect()
        }
        # key 1's stored total and single contribution both clamp to
        # the SAME +FX_V_CAP grid point — no raise on either engine;
        # the r12 second review buckets cap-hits as 'saturated'
        # instead of vacuously matching them, so key 1 reports
        # saturated and key 2 (in-range) matches
        assert {k: v.n_keys for k, v in got.items()} == {
            "saturated": 1,
            "match": 1,
        }

        con = duckdb.connect()
        con.register("pt", pd.DataFrame(parent, columns=["pk", "total"]))
        con.register("ct", pd.DataFrame(children, columns=["ck", "contrib"]))
        o = con.execute(
            sql_total_reconciliation(
                parent_table="pt",
                child_table="ct",
                parent_key="pk",
                total_col="total",
                child_key="ck",
                contribution_expr="contrib",
            )
        ).fetchall()
        assert sorted((r[0], r[1]) for r in o) == [
            ("match", 1),
            ("saturated", 1),
        ]
