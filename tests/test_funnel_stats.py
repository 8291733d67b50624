"""Strict time-budget funnel, lead-lag cross-correlation
(operators/temporal.py), and the chi-square independence audit
(operators/profile.py) against hand-built fixtures / Python
references. Cross-engine parity for the registered queries runs in
test_oracle_parity.py."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from kinesis_stream_spark.operators.profile import chisq_independence
from kinesis_stream_spark.operators.temporal import (
    lead_lag_correlation,
    strict_funnel,
)

_SCHEMA = "user_id long, ts timestamp, event_type string, value double"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, e, 1.0) for u, t, e in rows], _SCHEMA
    )


def test_strict_funnel_budget_and_order(spark):
    """u1 completes all 3 steps inside budget; u2's purchase comes
    BEFORE its view (order violation); u3's view exceeds the 1-day
    budget. Only u1 converts past step 2."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "signup"),
        (1, dt.datetime(2024, 1, 1, 6), "view"),
        (1, dt.datetime(2024, 1, 1, 12), "purchase"),
        (2, dt.datetime(2024, 1, 1, 0), "signup"),
        (2, dt.datetime(2024, 1, 1, 1), "purchase"),  # before its view
        (2, dt.datetime(2024, 1, 1, 2), "view"),
        (3, dt.datetime(2024, 1, 1, 0), "signup"),
        (3, dt.datetime(2024, 1, 3, 0), "view"),  # > 1 day after signup
    ]
    got = {
        r.step_idx: r
        for r in strict_funnel(
            _ev(spark, rows), ["signup", "view", "purchase"],
        ).collect()
    }
    assert got[1].n_units == 3 and got[1].conversion_ppm == 1_000_000
    assert got[2].n_units == 2  # u1 and u2 view within budget
    # u2's purchase precedes its earliest-view binding -> no step 3
    assert got[3].n_units == 1
    assert got[3].conversion_ppm == 1_000_000 // 3
    with pytest.raises(ValueError):
        strict_funnel(_ev(spark, rows), ["signup"])


def test_strict_funnel_earliest_binding_is_greedy(spark):
    """Step 2 binds to the EARLIEST qualifying view — a later view
    inside whose budget the purchase would fall cannot rescue the
    chain (deterministic greedy contract, not an any-path search)."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "signup"),
        (1, dt.datetime(2024, 1, 1, 1), "view"),      # binds here
        (1, dt.datetime(2024, 1, 1, 20), "view"),     # ignored
        (1, dt.datetime(2024, 1, 2, 18), "purchase"), # >1d after 1st view
    ]
    got = {
        r.step_idx: r.n_units
        for r in strict_funnel(
            _ev(spark, rows), ["signup", "view", "purchase"],
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 0}


def test_lead_lag_detects_shifted_series(spark):
    """b is a one-day-delayed copy of a (up to scale): r at lag +1 must
    be ~1.0 and dominate the other lags."""
    vals = [5.0, 9.0, 2.0, 7.0, 4.0, 8.0, 3.0]
    rows = []
    for d, v in enumerate(vals):
        rows.append((1, dt.datetime(2024, 1, 1 + d, 12), "a", v))
        rows.append((1, dt.datetime(2024, 1, 2 + d, 12), "b", 2.0 * v))
    df = spark.createDataFrame(rows, _SCHEMA)
    got = {
        r.lag: r
        for r in lead_lag_correlation(
            df, type_a="a", type_b="b", max_lag=2
        ).collect()
    }
    assert got[1].r == pytest.approx(1.0, abs=1e-6)
    assert got[1].n_pairs == len(vals)
    for lag in (-2, -1, 0, 2):
        assert got[lag].r is None or abs(got[lag].r) < 0.99


def test_lead_lag_constant_series_null(spark):
    rows = []
    for d in range(4):
        rows.append((1, dt.datetime(2024, 1, 1 + d), "a", 3.0))  # constant
        rows.append((1, dt.datetime(2024, 1, 1 + d), "b", float(d)))
    got = {
        r.lag: r.r
        for r in lead_lag_correlation(
            _mk(spark, rows), type_a="a", type_b="b", max_lag=0
        ).collect()
    }
    assert got[0] is None
    with pytest.raises(ValueError):
        lead_lag_correlation(_mk(spark, rows), type_a="a", type_b="b", max_lag=-1)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(u, t, e, v) for u, t, e, v in rows], _SCHEMA
    )


def test_chisq_independence_analytic(spark):
    """Perfectly independent 2x2 table: every contribution is 0.
    Then a fully dependent one: contributions are positive and the
    per-cell expectation matches row*col/N."""
    # construct exact independence: 2 x values x 2 y values, balanced
    rows = []
    for a in ("x", "y"):
        for b in ("p", "q"):
            rows += [(a, b)] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    for r in chisq_independence(df, "a", "b").collect():
        assert r.expected == pytest.approx(3.0)
        assert r.chi2_contrib == pytest.approx(0.0)
    dep = spark.createDataFrame(
        [("x", "p")] * 5 + [("y", "q")] * 5, "a string, b string"
    )
    got = {(r.a, r.b): r for r in chisq_independence(dep, "a", "b").collect()}
    # only the diagonal cells exist; exp = 5*5/10 = 2.5, contrib = 2.5
    for cell, r in got.items():
        assert r.expected == pytest.approx(2.5)
        assert r.chi2_contrib == pytest.approx((5 - 2.5) ** 2 / 2.5)


def test_ohlc_hand_traced(spark):
    """Open = value at earliest ts, Close at latest, tie on ts breaks
    by event id; NULL ts excluded."""
    from kinesis_stream_spark.operators.temporal import ohlc_bars

    rows = [
        (1, dt.datetime(2024, 1, 1, 1), "a", 10.0),
        (2, dt.datetime(2024, 1, 1, 5), "a", 99.0),
        (3, dt.datetime(2024, 1, 1, 9), "a", 7.0),
        (4, dt.datetime(2024, 1, 1, 9), "a", 3.0),  # ties ts with 3 -> id 4 wins close
        (5, None, "a", 1000.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ohlc_bars(df).collect()[0]
    assert r.n_events == 4
    assert r.open == 10.0 and r.close == 3.0
    assert r.high == 99.0 and r.low == 3.0
    assert r.volume == pytest.approx(119.0)


def test_chisq_null_categories_form_cells(spark):
    """NULL categories are real cells (groupBy convention): they must
    survive the marginal joins, and the emitted cells' marginals must
    be consistent with the N used for expectations."""
    df = spark.createDataFrame(
        [("a", "p"), (None, "p"), ("a", None)], "a string, b string"
    )
    got = {(r.a, r.b): r for r in chisq_independence(df, "a", "b").collect()}
    assert set(got) == {("a", "p"), (None, "p"), ("a", None)}
    r = got[("a", "p")]
    assert (r.row_n, r.col_n, r.total) == (2, 2, 3)
    assert r.expected == pytest.approx(2 * 2 / 3)


def test_lead_lag_all_null_value_bucket_excluded(spark):
    """A bucket whose events all carry NULL values has NO observation:
    it must not align as a pair (COUNT would include what the SUMs
    skip, corrupting every moment)."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 12), "a", None),   # a: day-1 all-NULL
        (1, dt.datetime(2024, 1, 2, 12), "a", 4.0),
        (1, dt.datetime(2024, 1, 3, 12), "a", 9.0),
        (1, dt.datetime(2024, 1, 1, 12), "b", 1.0),
        (1, dt.datetime(2024, 1, 2, 12), "b", 2.0),
        (1, dt.datetime(2024, 1, 3, 12), "b", 3.0),
    ]
    got = {
        r.lag: r
        for r in lead_lag_correlation(
            _mk(spark, rows), type_a="a", type_b="b", max_lag=0
        ).collect()
    }
    assert got[0].n_pairs == 2  # day 1's NULL bucket excluded


def test_keyword_extraction_rare_term_wins(spark):
    """A document's corpus-rare term must outrank its common terms;
    ties break lexicographically; k caps rows per doc."""
    from kinesis_stream_spark.operators.text import keyword_extraction

    docs = spark.createDataFrame(
        [
            (1, "shared shared unique1"),
            (2, "shared filler"),
            (3, "shared filler"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.rank): r
        for r in keyword_extraction(docs, k=2).collect()
    }
    # doc 1: 'unique1' df=1 beats 'shared' df=3 despite tf 1 < 2
    assert got[(1, 1)].keyword == "unique1"
    assert got[(1, 2)].keyword == "shared"
    # doc 2: 'filler' (df=2) beats 'shared' (df=3)
    assert got[(2, 1)].keyword == "filler"
    assert max(r for (_, r) in got) == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        keyword_extraction(docs, k=0)


def test_seasonal_outliers_flag_calendar_aware(spark):
    """A value that is normal FOR ITS SLOT must not flag even though a
    plain per-key MAD rule would flag it; a same-sized value on the
    other slot must flag."""
    from kinesis_stream_spark.operators.temporal import (
        seasonal_residual_outliers,
    )

    rows = []
    eid = 0
    # slot A (2024-01-01 = slot 4): baseline 100; slot B (01-02 = slot 5): 1
    for week in range(4):
        for v in (99.0, 100.0, 101.0):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, eid % 12) + dt.timedelta(days=7 * week), "m", v))
        for v in (0.0, 1.0, 2.0):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 2, eid % 12) + dt.timedelta(days=7 * week), "m", v))
    # anomaly: a 100-sized reading on the LOW slot
    rows.append((9999, dt.datetime(2024, 1, 9), "m", 100.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    flagged = {r.event_id for r in seasonal_residual_outliers(df).collect()}
    assert 9999 in flagged
    # none of the in-pattern high-slot readings flag
    assert all(e == 9999 for e in flagged)


def test_seasonal_outliers_degenerate_mad_flags_nothing(spark):
    """Residual MAD 0 (constant value per slot, one spike -> >=50% of
    residuals identical) flags nothing per the documented contract and
    never reaches the ANSI double/0 score divide."""
    from kinesis_stream_spark.operators.temporal import (
        seasonal_residual_outliers,
    )

    # one weekday slot, constant value, one spike: every non-spike
    # residual is identical -> med = that residual, MAD = 0
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(days=7 * (i % 5)),
         "m", 7.0)
        for i in range(20)
    ]
    rows.append((9999, dt.datetime(2024, 1, 8), "m", 1000.0))  # spike
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    assert seasonal_residual_outliers(df).count() == 0
