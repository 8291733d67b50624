"""Unit semantics of the temporal operators (gap fill, SCD2 compaction)
on hand-built frames — the oracle parity suite covers the events table;
these pin the boundary behavior the parity data may not exercise."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kinesis_stream_spark.operators.temporal import (
    gap_fill_forward,
    scd2_compact,
)


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_gap_fill_dense_grid_and_forward_fill(spark):
    ev = spark.createDataFrame(
        [
            ("a", _ts(0), 1.0),
            ("a", _ts(0, 30), 2.0),   # same bucket as above
            ("a", _ts(3), 10.0),      # buckets 1,2 are gaps
            ("b", _ts(5), 7.0),       # single-bucket key: no gaps
        ],
        "key string, ts timestamp, value double",
    )
    out = {
        (r.key, r.bucket): r
        for r in gap_fill_forward(
            ev, key_col="key", ts_col="ts", value_col="value"
        ).collect()
    }
    a_buckets = sorted(b for k, b in out if k == "a")
    assert a_buckets == list(range(a_buckets[0], a_buckets[0] + 4))
    b0 = a_buckets[0]
    assert out[("a", b0)].n_events == 2 and out[("a", b0)].filled_sum == 3.0
    # gap buckets: flagged, zero events, carry the last observed sum
    for g in (b0 + 1, b0 + 2):
        assert out[("a", g)].is_gap and out[("a", g)].n_events == 0
        assert out[("a", g)].filled_sum == 3.0
    assert out[("a", b0 + 3)].filled_sum == 10.0 and not out[("a", b0 + 3)].is_gap
    assert len([k for k in out if k[0] == "b"]) == 1


def test_linear_interpolation_hand_computed(spark):
    from kinesis_stream_spark.operators.temporal import linear_interpolation

    ev = spark.createDataFrame(
        [
            ("a", _ts(0), 4.0),
            ("a", _ts(0, 30), 6.0),   # bucket 0 sums to 10.0
            ("a", _ts(3), 4.0),       # buckets 1,2 are gaps
            ("b", _ts(5), 7.0),       # single-bucket key: no gaps
        ],
        "key string, ts timestamp, value double",
    )
    out = {
        (r.key, r.bucket): r
        for r in linear_interpolation(
            ev, key_col="key", ts_col="ts", value_col="value"
        ).collect()
    }
    a_buckets = sorted(b for k, b in out if k == "a")
    assert a_buckets == list(range(a_buckets[0], a_buckets[0] + 4))
    b0 = a_buckets[0]
    # observed buckets emit their own sum (no 0/0, bit-exact)
    assert out[("a", b0)].n_events == 2 and out[("a", b0)].interp_sum == 10.0
    assert out[("a", b0 + 3)].interp_sum == 4.0 and not out[("a", b0 + 3)].is_gap
    # gaps: 10 + (4-10)*k/3 for k = 1, 2
    assert out[("a", b0 + 1)].is_gap and out[("a", b0 + 1)].interp_sum == 8.0
    assert out[("a", b0 + 2)].is_gap and out[("a", b0 + 2)].interp_sum == 6.0
    assert len([k for k in out if k[0] == "b"]) == 1
    assert out[("b", next(b for k, b in out if k == "b"))].interp_sum == 7.0


def test_gap_fill_empty_input(spark):
    ev = spark.createDataFrame([], "key string, ts timestamp, value double")
    assert (
        gap_fill_forward(ev, key_col="key", ts_col="ts", value_col="value").count()
        == 0
    )


def test_scd2_runs_collapse_and_intervals_chain(spark):
    # u1: A(day0,day1) -> B(day2) -> A(day4)   (day3 missing: no snapshot row)
    ev = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1, 5), "A"),
            ("u1", dt.datetime(2024, 1, 2, 5), "A"),
            ("u1", dt.datetime(2024, 1, 3, 5), "B"),
            ("u1", dt.datetime(2024, 1, 5, 5), "A"),
            # u2: two same-day observations, later one wins the snapshot
            ("u2", dt.datetime(2024, 1, 1, 5), "A"),
            ("u2", dt.datetime(2024, 1, 1, 6), "B"),
        ],
        "user_id string, ts timestamp, event_type string",
    )
    rows = sorted(
        scd2_compact(ev, key_col="user_id", ts_col="ts", status_col="event_type")
        .collect(),
        key=lambda r: (r.key, r.valid_from),
    )
    u1 = [r for r in rows if r.key == "u1"]
    assert [r.status for r in u1] == ["A", "B", "A"]
    assert [r.n_days for r in u1] == [2, 1, 1]
    # intervals chain: each valid_to is the next valid_from; last is open
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current
    u2 = [r for r in rows if r.key == "u2"]
    assert len(u2) == 1 and u2[0].status == "B" and u2[0].is_current


def test_multires_rollup_grains_are_consistent(spark):
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import multires_rollup

    ev = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 0, 10), 1.0),
            ("a", dt.datetime(2024, 1, 1, 0, 50), 2.0),
            ("a", dt.datetime(2024, 1, 1, 5, 0), 4.0),
            ("a", dt.datetime(2024, 1, 2, 0, 0), 8.0),
            ("b", dt.datetime(2024, 1, 1, 0, 0), 16.0),
        ],
        "event_type string, ts timestamp, value double",
    )
    rows = multires_rollup(ev).collect()
    grains = {}
    for r in rows:
        grains.setdefault(r.grain, []).append(r)
    assert len(grains["hour"]) == 4 and len(grains["day"]) == 3
    a_total = [r for r in grains["key_total"] if r.key == "a"][0]
    assert a_total.n_events == 4 and a_total.value_sum == 15.0
    assert a_total.day is None and a_total.hour is None
    # day rows sum their hour rows
    a_day1 = [r for r in grains["day"] if r.key == "a" and r.n_events == 3][0]
    hour_sum = sum(
        r.value_sum for r in grains["hour"] if r.key == "a" and r.day == a_day1.day
    )
    assert a_day1.value_sum == hour_sum == 7.0


def test_mad_outliers_flags_known_spike_and_resists_burst(spark):
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import mad_outliers

    base = dt.datetime(2024, 1, 1)
    rows = [(i, "a", base, 10.0 + (i % 3)) for i in range(30)]
    rows += [(100 + i, "a", base, 500.0) for i in range(3)]  # spike burst
    ev = spark.createDataFrame(
        rows, "event_id int, event_type string, ts timestamp, value double"
    )
    out = mad_outliers(ev).collect()
    # the whole burst is flagged — median/MAD didn't chase the spike
    assert {r.event_id for r in out} == {100, 101, 102}
    assert all(r.mad_score > 3 for r in out)


def test_mad_outliers_degenerate_scale_flags_nothing(spark):
    """A key whose values are >=50% identical has MAD 0; the documented
    contract flags nothing there (and the score divide never runs —
    Spark 4 ANSI would raise on double/0)."""
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import mad_outliers

    base = dt.datetime(2024, 1, 1)
    rows = [(i, "const", base, 7.0) for i in range(20)]
    rows += [(99, "const", base, 1000.0)]  # outlier, but MAD = 0
    rows += [(200 + i, "live", base, 10.0 + (i % 5)) for i in range(20)]
    rows += [(299, "live", base, 9000.0)]
    ev = spark.createDataFrame(
        rows, "event_id int, event_type string, ts timestamp, value double"
    )
    out = mad_outliers(ev).collect()
    assert {r.event_id for r in out} == {299}


def test_transition_matrix_hand_checked(spark):
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import transition_matrix

    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # user 1: view -> click -> click -> buy
        (1, t, 1, "view"), (2, t + s, 1, "click"),
        (3, t + 2 * s, 1, "click"), (4, t + 3 * s, 1, "buy"),
        # user 2: same-timestamp burst — order falls to event_id tiebreak
        (10, t, 2, "view"), (11, t, 2, "click"),
        # NULL timestamp carries no order: excluded entirely
        (20, None, 1, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r.from_state, r.to_state): (r.n_transitions, r.prob)
        for r in transition_matrix(ev).collect()
    }
    assert out == {
        ("view", "click"): (2, 1.0),
        ("click", "click"): (1, 0.5),
        ("click", "buy"): (1, 0.5),
    }


def test_snapshot_diff_hand_checked(spark):
    import hashlib

    from kinesis_stream_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "doc_id long, fp string"
    )
    out = {r.status: r for r in snapshot_diff(old, new).collect()}
    assert {s: out[s].n_rows for s in out} == {
        "added": 1, "removed": 1, "changed": 1, "same": 1,
    }
    # key checksums replay from a hashlib sum of the affected keys
    def cks(keys):
        return str(sum(
            int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) for k in keys
        ))

    assert out["added"].key_checksum == cks([4])
    assert out["removed"].key_checksum == cks([1])
    assert out["changed"].key_checksum == cks([3])
    assert out["same"].key_checksum == cks([2])


def test_winsorize_stats_hand_checked(spark):
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import winsorize_stats

    t = dt.datetime(2024, 1, 1)
    rows = [(i, "a", t, float(i)) for i in range(101)]  # 0..100
    rows.append((200, "a", t, 1000.0))  # asymmetric tail
    rows.append((201, "a", t, None))  # NULL passes through untouched
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    r = winsorize_stats(ev).collect()[0]
    # 102 non-null values 0..100,1000: p05 interpolates to 5.05, p95 to
    # 95.95 (up to interpolation ulps)
    assert r.n_rows == 103
    assert abs(r.p_low - 5.05) < 1e-9 and abs(r.p_high - 95.95) < 1e-9
    assert r.n_clamped_low == 6  # 0..5
    assert r.n_clamped_high == 6  # 96..100, 1000
    # winsorized sum ≈ 6*p05 + sum(6..95) + 6*p95 (NULL contributes
    # nothing; DECIMAL(27,6) accumulation quantizes each clamped value)
    expected = 6 * 5.05 + sum(range(6, 96)) + 6 * 95.95
    assert abs(r.w_sum - expected) < 1e-4
    assert r.w_mean == r.w_sum / 102


def test_simpson_diversity_invariants(spark):
    """Structural identities that must hold on ANY corpus: simpson in
    (0, 1], diversity = 1 - simpson, sum_sq bounds (n²/k ≤ Σc² ≤ n²),
    and n_events partitioned exactly by the per-user event counts."""
    import random

    from kinesis_stream_spark.operators.temporal import simpson_diversity

    rng = random.Random(21)
    rows = [
        (i, rng.randint(1, 9), rng.choice("abcde"))
        for i in range(400)
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    out = simpson_diversity(ev).collect()
    per_user: dict[int, int] = {}
    for _, uid, _t in rows:
        per_user[uid] = per_user.get(uid, 0) + 1
    assert {r.user_id: r.n_events for r in out} == per_user
    for r in out:
        ss = int(r.sum_sq)
        n, k = r.n_events, r.n_categories
        assert n * n // k <= ss <= n * n
        assert 0.0 < r.simpson <= 1.0
        assert r.diversity == 1.0 - r.simpson


def test_mann_kendall_known_series(spark):
    """Hand-computable series: strictly increasing, strictly decreasing,
    constant, and single-period keys."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import mann_kendall

    def ev(uid, day, val):
        return (uid, dt.datetime(2024, 1, day, 12, 0, 0), val)

    rows = (
        [ev(1, d, float(d)) for d in range(1, 5)]        # up: S = 6
        + [ev(2, d, float(10 - d)) for d in range(1, 4)]  # down: S = -3
        + [ev(3, d, 5.0) for d in range(1, 4)]            # flat: S = 0
        + [ev(4, 1, 1.0)]                                 # one period
        # key 5: two events same day sum to tie day 2 -> one up, one tie
        + [ev(5, 1, 2.0), ev(5, 1, 3.0), ev(5, 2, 5.0), ev(5, 3, 1.0)]
    )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = {
        r.key: (r.n_periods, r.n_pairs, r.s_stat, r.trend)
        for r in mann_kendall(df).collect()
    }
    assert got[1] == (4, 6, 6, "increasing")
    assert got[2] == (3, 3, -3, "decreasing")
    assert got[3] == (3, 3, 0, "flat")
    assert got[4] == (1, 0, 0, "flat")
    # key 5 daily sums: d1=5, d2=5, d3=1 -> pairs (1,2)=0, (1,3)=-1,
    # (2,3)=-1 -> S=-2
    assert got[5] == (3, 3, -2, "decreasing")


def test_mann_kendall_excludes_null_timestamps(spark):
    """The family contract (shared with ewma/cusum/holt): a NULL ts is
    not a period — it must not inflate n_periods or join into pairs."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import mann_kendall

    rows = [
        (1, dt.datetime(2024, 1, d, 12), float(d)) for d in range(1, 4)
    ] + [(1, None, 999.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = {r.key: (r.n_periods, r.n_pairs, r.s_stat) for r in
           mann_kendall(df).collect()}
    assert got[1] == (3, 3, 3)


def test_ewma_fold_known_values(spark):
    """Hand-computable fold: values 4, 8, 16 on consecutive days with
    alpha = 1/4 -> s1 = 4, s2 = (3*4+8)/4 = 5, s3 = (3*5+16)/4 = 7.75
    (floored in 2^20 fx)."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import EWMA_SCALE, ewma

    rows = [
        (1, dt.datetime(2024, 1, d, 1, 0, 0), float(v))
        for d, v in ((1, 4), (2, 8), (3, 16))
    ] + [(2, dt.datetime(2024, 1, 9, 1, 0, 0), 3.25)]  # single period: seed
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.key: r for r in ewma(df).collect()}
    s1 = 4 * EWMA_SCALE
    s2 = (3 * s1 + 8 * EWMA_SCALE) // 4
    s3 = (3 * s2 + 16 * EWMA_SCALE) // 4
    assert got[1].n_periods == 3 and got[1].ewma_fx == s3
    assert abs(got[1].ewma - 7.75) < 1e-5
    assert got[2].n_periods == 1 and got[2].ewma_fx == int(3.25 * EWMA_SCALE)


def test_ewma_order_is_bucket_order_not_arrival(spark):
    """The fold must follow bucket (time) order even when input rows
    arrive reversed."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import ewma

    fwd = [(1, dt.datetime(2024, 1, d, 1), float(d * d)) for d in (1, 2, 3, 4)]
    df_fwd = spark.createDataFrame(fwd, "user_id long, ts timestamp, value double")
    df_rev = spark.createDataFrame(
        list(reversed(fwd)), "user_id long, ts timestamp, value double"
    )
    a = ewma(df_fwd).collect()[0]
    b = ewma(df_rev).collect()[0]
    assert a.ewma_fx == b.ewma_fx


def test_fold_operators_exclude_null_timestamps(spark):
    """NULL-ts rows are excluded BY CONTRACT from ewma/cusum/holt: a
    NULL bucket has no defined fold position, and the engines disagree
    on where NULLs sort (Spark array_sort NULLS FIRST vs DuckDB LIST
    ORDER BY NULLS LAST) — so the operator result with a NULL-ts row
    present must equal the result with it dropped."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import cusum, ewma, holt

    clean = [
        (1, dt.datetime(2024, 1, d, 1), float(v))
        for d, v in ((1, 10.0), (2, 20.0), (3, 30.0))
    ]
    dirty = clean + [(1, None, 1000.0)]
    schema = "user_id long, ts timestamp, value double"
    df_clean = spark.createDataFrame(clean, schema)
    df_dirty = spark.createDataFrame(dirty, schema)
    for op in (ewma, cusum, holt):
        a = [tuple(r) for r in op(df_clean).collect()]
        b = [tuple(r) for r in op(df_dirty).collect()]
        assert a == b, op.__name__


def test_period_fx_matches_python_replay(spark):
    """The period-series contract the temporal family builds on, against
    a plain-Python replay: integer day buckets, NULL timestamps form no
    period, exact sums floored into 2^20 fixed point (negative sums
    included), and a bucket whose values are all NULL has a NULL vfx.
    Values are exact in binary and in 6 decimals, so the DECIMAL(27,6)
    accumulation loses nothing the replay keeps."""
    import math
    from decimal import Decimal

    from kinesis_stream_spark.operators.temporal import (
        DAY_US,
        EWMA_SCALE,
        _period_fx,
    )

    def ts(d: int, h: int) -> dt.datetime:
        return dt.datetime(2024, 1, d, h, tzinfo=dt.timezone.utc)

    rows = [
        ("a", ts(1, 1), 1.5),
        ("a", ts(1, 23), -0.25),
        ("a", ts(2, 0), -3.125),
        ("a", ts(2, 12), 0.015625),
        ("a", ts(4, 6), 2.75),       # day 3 is a gap
        ("a", None, 1000.0),         # NULL timestamp: no period
        ("b", ts(1, 5), -7.5),
        ("b", ts(3, 2), None),       # day 3 of b: every value NULL
        ("b", ts(3, 9), None),
        ("b", ts(5, 9), 0.5),
        ("b", ts(5, 10), None),      # a NULL beside a value is skipped
        ("c", None, 4.0),            # a key with only NULL timestamps
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")

    cells: dict = {}
    for k, t, v in rows:
        if t is None:
            continue
        cells.setdefault((k, int(t.timestamp() * 1_000_000) // DAY_US), []).append(v)
    want = {}
    for cell, vs in cells.items():
        vals = [Decimal(repr(v)) for v in vs if v is not None]
        want[cell] = math.floor(float(sum(vals)) * EWMA_SCALE) if vals else None

    out = _period_fx(df, "k", "ts", "v")
    assert out.columns == ["key", "bucket", "vfx"]
    assert dict(out.dtypes)["bucket"] == "bigint" and dict(out.dtypes)["vfx"] == "bigint"
    got = {(r.key, r.bucket): r.vfx for r in out.collect()}
    assert got == want
    assert sum(1 for k, _ in got if k == "a") == 3 and not any(k == "c" for k, _ in got)
    assert [v for (k, _), v in sorted(got.items()) if k == "b"] == [
        -7_864_320, None, 524_288
    ]


def test_cusum_hand_traced_fold(spark):
    """Python replay of the integer fold on a hand-built series with a
    level shift — the alarm must fire after the shift, and every state
    component must match the reference replay exactly."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import EWMA_SCALE, cusum

    # 16 quiet periods then a large spike: MAD ≈ 2X/17 so the spike
    # excursion (≈ 0.89·X) clears h = 4·MAD (≈ 0.44·X) decisively
    vals = [10.0] * 16 + [10000.0]
    rows = [
        (1, dt.datetime(2024, 1, 1, 6, 0, 0) + dt.timedelta(days=d), v)
        for d, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = cusum(df).collect()[0]

    # reference replay in exact ints
    vfx = [int(v * EWMA_SCALE) for v in vals]
    mu = sum(vfx) // len(vfx)
    mad = sum(abs(v - mu) for v in vfx) // len(vfx)
    k, h = mad // 2, 4 * mad
    sp = sn = al = mx_p = mx_n = 0
    for x in vfx:
        sp = max(0, sp + (x - mu - k))
        sn = max(0, sn + (mu - x - k))
        al += 1 if (sp > h or sn > h) else 0
        mx_p, mx_n = max(mx_p, sp), max(mx_n, sn)
    assert (
        got.n_periods,
        got.mu_fx,
        got.mad_fx,
        got.cusum_pos_fx,
        got.cusum_neg_fx,
        got.n_alarms,
        got.max_pos_fx,
        got.max_neg_fx,
    ) == (len(vals), mu, mad, sp, sn, al, mx_p, mx_n)
    # the spike must drive the upward arm past h exactly once
    assert got.n_alarms >= 1 and got.max_pos_fx > 4 * mad


def test_cusum_flat_series_never_alarms(spark):
    """A constant series has mu = value, MAD = 0, k = 0, h = 0; both
    arms stay at 0, which never EXCEEDS h — zero alarms."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import cusum

    rows = [
        (7, dt.datetime(2024, 2, d, 1, 0, 0), 42.5) for d in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = cusum(df).collect()[0]
    assert got.n_alarms == 0
    assert got.cusum_pos_fx == 0 and got.cusum_neg_fx == 0
    assert got.mad_fx == 0


def test_cusum_empty_input(spark):
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import cusum

    df = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    assert cusum(df).count() == 0


def test_holt_hand_traced_fold(spark):
    """Python replay of the 2-state Holt fold on a linear ramp — the
    trend component must turn positive and the forecast must continue
    the ramp direction."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import EWMA_SCALE, holt

    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    rows = [
        (1, dt.datetime(2024, 3, d + 1, 3, 0, 0), v)
        for d, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = holt(df).collect()[0]

    import math

    lvl, tr = int(vals[0] * EWMA_SCALE), 0
    for v in vals[1:]:
        x = int(v * EWMA_SCALE)
        new_lvl = math.floor((x + 3 * (lvl + tr)) / 4.0)
        tr = math.floor(((new_lvl - lvl) + 3 * tr) / 4.0)
        lvl = new_lvl
    assert (got.level_fx, got.trend_fx, got.forecast_fx) == (lvl, tr, lvl + tr)
    assert got.trend_fx > 0
    assert got.forecast_fx > got.level_fx


def test_holt_single_period_is_seed(spark):
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import EWMA_SCALE, holt

    df = spark.createDataFrame(
        [(5, dt.datetime(2024, 3, 1, 3), 7.5)],
        "user_id long, ts timestamp, value double",
    )
    got = holt(df).collect()[0]
    assert got.level_fx == int(7.5 * EWMA_SCALE)
    assert got.trend_fx == 0 and got.forecast_fx == got.level_fx


def test_peak_concurrency_sweep_hand_traced(spark):
    """Three overlapping intervals peak at 3; back-to-back intervals
    (one ends exactly where the next starts) never double-count
    because the close processes before the open."""
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import peak_concurrency

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = (
        # key a: starts at 0, 5, 10 min with 15-min duration -> all
        # three open in [10, 15) -> peak 3 at t0+10min
        [("a", t0), ("a", t0 + 5 * m), ("a", t0 + 10 * m)]
        # key b: back-to-back (15 min apart, duration 15 min) -> peak 1
        + [("b", t0), ("b", t0 + 15 * m)]
    )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r.key: r
        for r in peak_concurrency(
            df, duration_us=15 * 60 * 1_000_000
        ).collect()
    }
    us0 = int(t0.timestamp() * 1_000_000)
    assert got["a"].peak_concurrency == 3
    assert got["a"].peak_at_us == us0 + 10 * 60 * 1_000_000
    assert got["a"].n_events == 3
    assert got["b"].peak_concurrency == 1
    assert got["b"].peak_at_us == us0


def test_top_paths_orders_and_bounds(spark):
    import datetime as dt
    from kinesis_stream_spark.operators.temporal import top_paths

    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = []
    eid = 0
    # two users walk view>click>buy; one walks view>click>view
    for uid, states in ((1, "vcb"), (2, "vcb"), (3, "vcv")):
        for i, st in enumerate(states):
            rows.append((eid, t + i * s, uid, {"v": "view", "c": "click", "b": "buy"}[st]))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = top_paths(df, depth=3, k=10).collect()
    assert got[0].path == "view > click > buy"
    assert got[0].n_occurrences == 2 and got[0].n_users == 2
    assert got[1].path == "view > click > view"
    assert got[1].n_occurrences == 1
    import pytest

    with pytest.raises(ValueError):
        top_paths(df, depth=1)
