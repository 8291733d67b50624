"""Group-size guard for the vectorized cosine_pairs kernel: groups above
``max_group_vectorized`` must route to the spill-safe JVM join path with
identical results (the two paths share exact fixed-point arithmetic)."""

from __future__ import annotations

from kinesis_stream_spark.operators.similarity import _cosine_pairs_jvm, cosine_pairs


def _emb(spark):
    rows = [
        # hot group: 5 vectors (over a guard of 3)
        ("hot", 1, [1.0, 0.0, 0.0]),
        ("hot", 2, [0.9, 0.1, 0.0]),
        ("hot", 3, [0.0, 1.0, 0.0]),
        ("hot", 4, [0.5, 0.5, 0.0]),
        ("hot", 5, [1.0, 0.1, 0.1]),
        # cold group: 2 vectors (under the guard)
        ("cold", 6, [0.0, 0.0, 1.0]),
        ("cold", 7, [0.1, 0.0, 0.9]),
    ]
    return spark.createDataFrame(rows, "grp string, vec_id long, embedding array<double>")


def _collect(df):
    return {
        (r.grp, r.id_a, r.id_b, round(r.cosine, 12)) for r in df.collect()
    }


def test_forced_large_group_falls_back_and_matches(spark):
    emb = _emb(spark)
    guarded = cosine_pairs(
        emb, group_cols=["grp"], threshold=0.1, max_group_vectorized=3
    )
    jvm = _cosine_pairs_jvm(
        emb, group_cols=["grp"], threshold=0.1, id_col="vec_id", vec_col="embedding"
    )
    vec = cosine_pairs(emb, group_cols=["grp"], threshold=0.1)  # guard not hit
    got = _collect(guarded)
    assert got == _collect(jvm) == _collect(vec)
    # both groups produced pairs — the union really ran both branches
    assert any(g == "hot" for g, *_ in got) and any(g == "cold" for g, *_ in got)


def test_guard_zero_routes_everything_to_jvm(spark):
    emb = _emb(spark)
    guarded = cosine_pairs(
        emb, group_cols=["grp"], threshold=0.1, max_group_vectorized=0
    )
    jvm = _cosine_pairs_jvm(
        emb, group_cols=["grp"], threshold=0.1, id_col="vec_id", vec_col="embedding"
    )
    assert _collect(guarded) == _collect(jvm)


def test_guard_none_skips_window_and_matches(spark):
    """max_group_vectorized=None: same results, and the plan is just
    partition → kernel — no window count, no JVM-branch union."""
    emb = _emb(spark)
    ungated = cosine_pairs(
        emb, group_cols=["grp"], threshold=0.1, max_group_vectorized=None
    )
    assert _collect(ungated) == _collect(
        cosine_pairs(emb, group_cols=["grp"], threshold=0.1)
    )
    plan = ungated._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Union" not in plan
