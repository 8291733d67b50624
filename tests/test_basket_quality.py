"""Association rules (operators/basket.py), Pearson correlations and
CDC merge (operators/profile.py), quantile normalization
(operators/skew.py) against hand-built fixtures / Python references.
Cross-engine parity for the registered queries runs in
test_oracle_parity.py."""

from __future__ import annotations

import math

import pytest

from kinesis_stream_spark.operators.basket import association_rules
from kinesis_stream_spark.operators.profile import cdc_apply, numeric_correlations
from kinesis_stream_spark.operators.skew import quantile_normalize


def test_association_rules_hand_counts(spark):
    # baskets: {1: ab, 2: ab, 3: a, 4: bc}
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "b"), (4, "c")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r.antecedent, r.consequent): r
        for r in association_rules(df, min_support=2).collect()
    }
    # only the a-b pair reaches support 2; both directions emitted
    assert set(got) == {("a", "b"), ("b", "a")}
    ab = got[("a", "b")]
    assert (ab.n_baskets, ab.sup_a, ab.sup_b, ab.sup_ab) == (4, 3, 3, 2)
    assert ab.confidence_ppm == 2 * 1_000_000 // 3
    assert ab.lift_ppm == 2 * 1_000_000 * 4 // (3 * 3)
    ba = got[("b", "a")]
    assert ba.confidence_ppm == 2 * 1_000_000 // 3
    assert ba.lift_ppm == ab.lift_ppm  # lift is symmetric
    with pytest.raises(ValueError):
        association_rules(df, min_support=0)


def test_association_rules_set_semantics(spark):
    """Duplicate (basket, item) rows must not inflate supports."""
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "basket long, item string")
    r = association_rules(df, min_support=2).collect()[0]
    assert r.sup_a == 2 and r.sup_ab == 2


def test_numeric_correlations_analytic(spark):
    """Perfect positive line -> r = 1; anti-line -> r = -1; constant
    column -> NULL (zero variance)."""
    rows = [(float(i), float(2 * i + 3), float(-i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double, z double, c double")
    got = {
        (r.col_x, r.col_y): r
        for r in numeric_correlations(
            df, [("x", "y"), ("x", "z"), ("x", "c")]
        ).collect()
    }
    assert got[("x", "y")].r == pytest.approx(1.0, abs=1e-9)
    assert got[("x", "z")].r == pytest.approx(-1.0, abs=1e-9)
    assert got[("x", "c")].r is None
    assert got[("x", "y")].n == 10
    with pytest.raises(ValueError):
        numeric_correlations(df, [])


def test_numeric_correlations_matches_python(spark):
    """Noisy data: replay the exact quantize-then-moments arithmetic."""
    vals = [(i * 0.37, math.sin(i) * 5 + i * 0.1) for i in range(50)]
    df = spark.createDataFrame(vals, "x double, y double")
    r = numeric_correlations(df, [("x", "y")]).collect()[0]
    s = float(1 << 20)
    q = [(math.floor(x * s), math.floor(y * s)) for x, y in vals]
    n = len(q)
    sx = sum(x for x, _ in q)
    sy = sum(y for _, y in q)
    sxy = sum(x * y for x, y in q)
    sxx = sum(x * x for x, _ in q)
    syy = sum(y * y for _, y in q)
    want = float(n * sxy - sx * sy) / (
        math.sqrt(float(n * sxx - sx * sx)) * math.sqrt(float(n * syy - sy * sy))
    )
    assert r.r == pytest.approx(want, rel=1e-12)


def test_cdc_apply_merge_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    chg = spark.createDataFrame(
        [(2, "U", "B"), (3, "D", None), (4, "I", "d")],
        "k long, op string, v string",
    )
    got = {r.k: r.v for r in cdc_apply(snap, chg, val_cols=["v"]).collect()}
    # 1 untouched, 2 updated, 3 deleted, 4 inserted
    assert got == {1: "a", 2: "B", 4: "d"}


def test_cdc_apply_upsert_is_idempotent(spark):
    """Replaying the same change batch converges to the same state."""
    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    chg = spark.createDataFrame(
        [(1, "U", "z"), (9, "I", "n")], "k long, op string, v string"
    )
    once = cdc_apply(snap, chg, val_cols=["v"])
    twice = cdc_apply(once, chg, val_cols=["v"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_quantile_normalize_ties_and_bounds(spark):
    rows = [(1, 10.0), (2, 10.0), (3, 20.0), (4, 30.0), (5, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r.id: r.cdf_ppm for r in quantile_normalize(df, id_col="id", val_col="v").collect()}
    # N = 4 non-null; ties share a position (rows <= 10 is 2 of 4)
    assert got == {1: 500_000, 2: 500_000, 3: 750_000, 4: 1_000_000}
    assert 5 not in got  # NULL value -> no rank position


def test_spearman_hand_computed(spark):
    from kinesis_stream_spark.operators.profile import spearman_correlation

    df = spark.createDataFrame(
        # group g: x ranks (1..5), y ranks (2,1,4,3,5) -> rho = 0.8
        [("g", 1.0, 20.0), ("g", 2.0, 10.0), ("g", 3.0, 40.0),
         ("g", 4.0, 30.0), ("g", 5.0, 50.0),
         # group t: x ties (1,1,2) vs y (1,2,3) -> rho = 1.5/sqrt(3)
         ("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0),
         # group d: perfect anti-correlation -> rho = -1
         ("d", 1.0, 9.0), ("d", 2.0, 8.0), ("d", 3.0, 7.0),
         # group c: constant y -> NULL rho
         ("c", 1.0, 5.0), ("c", 2.0, 5.0)],
        "grp string, x double, y double",
    )
    out = {
        r.group_key: r
        for r in spearman_correlation(
            df, group_col="grp", x_col="x", y_col="y"
        ).collect()
    }
    assert abs(out["g"].spearman_rho - 0.8) < 1e-12 and out["g"].n == 5
    assert abs(out["t"].spearman_rho - 1.5 / 3.0**0.5) < 1e-12
    # 1-ulp excursion past -1 is the pinned chain's sqrt(24)^2 != 24
    assert abs(out["d"].spearman_rho - (-1.0)) < 1e-12
    assert out["c"].spearman_rho is None


def test_spearman_monotone_vs_pearson_leverage(spark):
    """A convex monotone map keeps rho = 1 while Pearson r < 1 — the
    operator's reason to exist, verified on the same frame."""
    from kinesis_stream_spark.operators.profile import spearman_correlation

    rows = [("m", float(i), float(i * i * i)) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    rho = spearman_correlation(
        df, group_col="grp", x_col="x", y_col="y"
    ).collect()[0].spearman_rho
    r = numeric_correlations(df, [("x", "y")]).collect()[0].r
    assert rho == 1.0 and r < 0.96
