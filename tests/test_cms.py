"""Count-Min sketch (operators/cms.py): estimate bounds and exactness
at no-collision scale. Cross-engine parity for the registered query
runs in test_oracle_parity.py."""

from __future__ import annotations

from kinesis_stream_spark.operators.cms import CM_WIDTH, cm_heavy_hitters


def test_cms_overcount_nonnegative_and_topk_order(spark):
    docs = spark.createDataFrame(
        [(i, ("alpha " * (20 - i) + f"tok{i} beta").strip()) for i in range(10)],
        "doc_id long, text string",
    )
    rows = cm_heavy_hitters(docs, top_k=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.overcount >= 0
        assert r.cm_est >= r.exact_cnt
    by_token = {r.token: r.exact_cnt for r in rows}
    # 'alpha' dominates: 20+19+...+11 = 155
    assert by_token["alpha"] == 155
    assert by_token["beta"] == 10


def test_cms_exact_when_tokens_fit_without_collisions(spark):
    """A vocabulary far below WIDTH almost surely maps injectively in
    at least one of the 4 rows — the min-estimate is then exact. Use a
    tiny fixed vocabulary and assert estimates equal exact counts."""
    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    rows = cm_heavy_hitters(docs, top_k=3).collect()
    got = {r.token: (r.exact_cnt, r.cm_est) for r in rows}
    assert got["a"][0] == 3 and got["b"][0] == 2 and got["c"][0] == 1
    for exact, est in got.values():
        assert est == exact  # 3 tokens in 4x1024 cells: no shared min

    assert CM_WIDTH >= 1024


def test_cms_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert cm_heavy_hitters(docs).count() == 0


def test_shard_prelists_contain_global_topk(spark):
    """The union of per-shard top-k pre-lists must be a superset of the
    global top-k (the selection-correctness property the candidate
    swap rests on): build a skewed vocabulary, replay the pre-list in
    Python, and check the final output still equals the direct global
    top-k."""
    from kinesis_stream_spark.operators.cms import cm_heavy_hitters

    rows = []
    # token "wNN" appears NN times -> global top-5 is w60..w56
    for n in range(1, 61):
        rows.extend([(f"w{n:02d} ",)] * n)
    docs = spark.createDataFrame(
        [("".join(t for t, in rows[i::7]),) for i in range(7)],
        "text string",
    )
    out = cm_heavy_hitters(docs, top_k=5).collect()
    got = {r.token: r.exact_cnt for r in out}
    assert got == {f"w{n:02d}": n for n in range(56, 61)}
    assert all(r.overcount >= 0 for r in out)
