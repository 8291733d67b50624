"""Product-quantization operator tests (pytest-only this round — the
query + DuckDB oracle registration is scheduled for the next
verification-window rotation; these pin the semantics the oracle will
replay).

Key property (test_adc_equals_exact_score_on_reconstructions): ADC is
EXACT scoring of reconstructed vectors — subspaces occupy disjoint
coordinate slots, so Σ_j (2·q_j·c_j − c_j·c_j) = 2·q·v̂ − ‖v̂‖² with no
cross terms. A numpy replay verifies it to fixed-point resolution.
"""

from __future__ import annotations

import numpy as np
import pytest

from kinesis_stream_spark.operators.quantization import (
    pq_encode,
    pq_reconstruction_mse,
    pq_topk_adc,
    pq_train,
)

DIM = 8
M = 2
KSUB = 2


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def corpus(spark):
    # two clear clusters per half-space so ksub=2 training is stable:
    # first half ~ +1 or -1, second half ~ +2 or -2, with small jitter
    rng = np.random.default_rng(7)
    vecs = []
    for _ in range(40):
        a = rng.choice([1.0, -1.0])
        b = rng.choice([2.0, -2.0])
        v = np.concatenate(
            [
                a * np.ones(DIM // 2) + rng.uniform(-0.05, 0.05, DIM // 2),
                b * np.ones(DIM // 2) + rng.uniform(-0.05, 0.05, DIM // 2),
            ]
        )
        vecs.append(np.round(v, 3))
    return _emb(spark, vecs), vecs


def test_codebook_shape_and_codes_in_range(spark, corpus):
    emb, _ = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    rows = book.collect()
    assert {r.sub for r in rows} == set(range(M))
    for r in rows:
        assert 0 <= r.cid < KSUB
        assert len(r.centroid) == DIM // M
    codes = pq_encode(emb, book, m=M, dim=DIM).collect()
    assert len(codes) == 40
    for r in codes:
        assert len(r.codes) == M
        assert all(0 <= c < KSUB for c in r.codes)


def test_encode_is_partition_invariant(spark, corpus):
    emb, _ = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    a = sorted((r.vid, tuple(r.codes)) for r in pq_encode(emb, book, m=M, dim=DIM).collect())
    b = sorted(
        (r.vid, tuple(r.codes))
        for r in pq_encode(emb.repartition(7), book, m=M, dim=DIM).collect()
    )
    assert a == b


def test_adc_equals_exact_score_on_reconstructions(spark, corpus):
    emb, vecs = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    queries = _emb(spark, vecs[:3]).withColumnRenamed("vec_id", "query_id")
    out = pq_topk_adc(codes, book, queries, k=40, m=M, dim=DIM).collect()

    cents = {(r.sub, r.cid): np.array(r.centroid) for r in book.collect()}
    code_map = {r.vid: list(r.codes) for r in codes.collect()}
    subdim = DIM // M

    def recon(vid):
        return np.concatenate([cents[(j, code_map[vid][j])] for j in range(M)])

    for r in out:
        q = np.array(vecs[r.query_id])
        v_hat = recon(r.vec_id)
        exact = 2 * np.dot(q, v_hat) - np.dot(v_hat, v_hat)
        # fixed-point quantization: each of the 2·M dot terms carries
        # ≤ dim·2^-40 floor error, so agreement is to ~1e-9, not 1e-15
        assert abs(r.approx_score - exact) < 1e-6, (r, exact)


def test_adc_ranks_reconstruction_neighbors_first(spark, corpus):
    emb, vecs = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    # a query sitting exactly on vector 0: its own quantization cell
    # must rank at the top (all cell members share the reconstruction,
    # ties broken by vec_id)
    queries = _emb(spark, vecs[:1]).withColumnRenamed("vec_id", "query_id")
    out = pq_topk_adc(codes, book, queries, k=5, m=M, dim=DIM).collect()
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    top = min(out, key=lambda r: r.rank)
    code_map = {r.vid: tuple(r.codes) for r in codes.collect()}
    # the rank-1 vector shares the query vector's own cell
    assert code_map[top.vec_id] == code_map[0]


def test_reconstruction_mse_small_on_clustered_data(spark, corpus):
    emb, _ = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    rows = pq_reconstruction_mse(emb, codes, book, m=M, dim=DIM).collect()
    # one overall row (sub = -1) then the M per-subspace rows
    assert [r.sub for r in rows] == [-1, *range(M)]
    for r in rows:
        assert r.n_vectors == 40
    # jitter is ±0.05 uniform per dim: per-subspace MSE ≪ 0.01·subdim,
    # overall gets the summed bound (not the loose one for every row)
    for r in rows[1:]:
        assert 0.0 <= r.mse < 0.01 * (DIM // M)
    assert 0.0 <= rows[0].mse < 0.01 * DIM
    # disjoint subspaces: overall MSE is exactly the sum of per-sub MSEs
    # up to the two final IEEE divides (~1e-12 at this magnitude)
    overall = rows[0].mse
    assert abs(overall - sum(r.mse for r in rows[1:])) < 1e-9


def test_pq_plans_broadcast_codebook_no_cartesian(spark, corpus):
    from test_plans import _explain

    emb, _ = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(emb, book, m=M, dim=DIM)

    # r12: encode is a pure projection over the scan — the literal
    # codebook removed the broadcast join AND both corpus-sized
    # aggregation exchanges; pin the stronger shape (no join of ANY
    # kind, no exchange)
    enc_plan = _explain(pq_encode(emb, book, m=M, dim=DIM))
    assert "CartesianProduct" not in enc_plan
    assert "Join" not in enc_plan
    assert "Exchange" not in enc_plan
    adc_plan = _explain(
        pq_topk_adc(
            codes,
            book,
            _emb(spark, [[0.0] * DIM]).withColumnRenamed("vec_id", "query_id"),
            k=3,
            m=M,
            dim=DIM,
        )
    )
    # r12: candidates score map-side against the broadcast Q-row query
    # frame (each row carrying its literal-book lookup table); the only
    # remaining join is that broadcast nested-loop against the serving
    # batch — never a CartesianProduct, never a corpus shuffle join
    assert "CartesianProduct" not in adc_plan
    assert "BroadcastNestedLoopJoin" in adc_plan
    assert "SortMergeJoin" not in adc_plan


def test_pq_empty_inputs(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    book = spark.createDataFrame(
        [], "sub int, cid int, n_members long, centroid array<double>"
    )
    codes = spark.createDataFrame([], "vid long, codes array<int>")
    assert pq_encode(empty, book, m=M, dim=DIM).count() == 0
    empty_q = empty.withColumnRenamed("vec_id", "query_id")
    assert pq_topk_adc(codes, book, empty_q, k=3, m=M, dim=DIM).count() == 0
    assert pq_reconstruction_mse(empty, codes, book, m=M, dim=DIM).count() == 0


def test_pq_adc_cross_engine_parity_on_real_embeddings(spark, sf_dir):
    """End-to-end PQ parity against the staged DuckDB oracle on the real
    embeddings table: train (per-subspace Lloyd), encode, ADC top-k —
    every value string-compared, the same bar the driver gate applies.
    This is the round-6 promotion test running early."""
    import duckdb

    from kinesis_stream_spark.operators.quantization_sql import sql_pq_adc_topk
    from kinesis_stream_spark.operators.similarity import CENTROID_SCALE
    from kinesis_stream_spark.operators.quantization_sql import _CS
    from kinesis_stream_spark.sources.batch import load_table

    assert float(_CS) == float(CENTROID_SCALE)

    M_, KSUB_, DIM_, IT_, NQ_, K_ = 2, 4, 64, 2, 3, 8
    emb = load_table(spark, sf_dir, "embeddings")
    book = pq_train(emb, m=M_, ksub=KSUB_, dim=DIM_, iterations=IT_)
    codes = pq_encode(emb, book, m=M_, dim=DIM_)
    queries = (
        emb.where("vec_id < %d" % NQ_)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    got = [
        (r.query_id, r.vec_id, repr(r.approx_score), r.rank)
        for r in pq_topk_adc(
            codes, book, queries, k=K_, m=M_, dim=DIM_
        ).orderBy("query_id", "rank").collect()
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = [
        (r[0], r[1], repr(float(r[2])), r[3])
        for r in con.execute(
            sql_pq_adc_topk(m=M_, ksub=KSUB_, dim=DIM_, iterations=IT_,
                            n_queries=NQ_, k=K_)
        ).fetchall()
    ]
    con.close()
    assert got  # a both-sides-empty result would pass vacuously
    assert got == want


def test_pq_assumes_guarded_vectors_like_similarity_family(spark, corpus):
    """Contract: PQ operators consume PRE-VALIDATED vectors (the query
    wrapper applies valid_vector at the scan edge, as the similarity
    family does). A corrupt vector filtered by the guard simply doesn't
    appear; this pins that the guard composes cleanly with encode."""
    from pyspark.sql import functions as F

    from kinesis_stream_spark.functions.vectors import valid_vector

    emb, vecs = corpus
    corrupt = spark.createDataFrame(
        [
            (900, None),                       # NULL vector
            (901, [float("nan")] * DIM),       # NaN elements
            (902, [1.0] * (DIM - 1)),          # wrong dimension
            (903, [0.0] * DIM),                # zero norm
        ],
        "vec_id long, embedding array<double>",
    )
    mixed = emb.unionAll(corrupt)
    guarded = mixed.where(valid_vector(F.col("embedding"), DIM))
    book = pq_train(guarded, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(guarded, book, m=M, dim=DIM).collect()
    ids = {r.vid for r in codes}
    assert len(codes) == 40
    assert ids.isdisjoint({900, 901, 902, 903})


def test_ivfpq_score_equals_reconstruction_score(spark, corpus):
    """IVF-PQ's decomposed score (per-list base + per-subspace residual
    contributions) must equal 2·q·v̂ − ‖v̂‖² for v̂ = c_list + v̂r — the
    cross terms are carried exactly, not dropped. numpy replays the
    reconstruction; agreement to fixed-point resolution."""
    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )

    emb, vecs = corpus
    coarse, book = ivfpq_train(emb, k_coarse=2, m=M, ksub=KSUB, dim=DIM)
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    queries = _emb(spark, vecs[:3]).withColumnRenamed("vec_id", "query_id")
    out = ivfpq_topk(
        index, coarse, book, queries, k=40, nprobe=2, m=M, dim=DIM
    ).collect()
    assert out, "nprobe=2 of 2 lists must score every candidate"

    cents = {r.cid: np.array(r.centroid) for r in coarse.collect()}
    subcents = {(r.sub, r.cid): np.array(r.centroid) for r in book.collect()}
    idx = {r.vid: (r.list_id, list(r.codes)) for r in index.collect()}

    for r in out:
        q = np.array(vecs[r.query_id])
        list_id, codes = idx[r.vec_id]
        v_hat = cents[list_id] + np.concatenate(
            [subcents[(j, codes[j])] for j in range(M)]
        )
        exact = 2 * np.dot(q, v_hat) - np.dot(v_hat, v_hat)
        assert abs(r.approx_score - exact) < 1e-6, (r, exact)


def test_ivfpq_nprobe_prunes_lists(spark, corpus):
    """With nprobe=1 every returned candidate lives in the query's single
    best coarse list — the pruning that makes IVF-PQ sublinear."""
    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )
    from kinesis_stream_spark.operators.similarity import assign_to_centroids

    emb, vecs = corpus
    coarse, book = ivfpq_train(emb, k_coarse=2, m=M, ksub=KSUB, dim=DIM)
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    queries = _emb(spark, vecs[:4]).withColumnRenamed("vec_id", "query_id")
    out = ivfpq_topk(
        index, coarse, book, queries, k=40, nprobe=1, m=M, dim=DIM
    ).collect()
    # the query's own best list via the same assignment operator
    best = {
        r.vid: r.cid
        for r in assign_to_centroids(queries, coarse, id_col="query_id").collect()
    }
    lists = {r.vid: r.list_id for r in index.collect()}
    assert out
    for r in out:
        assert lists[r.vec_id] == best[r.query_id]
    # and nprobe=1 returns a subset of nprobe=2's candidate set per query
    out2 = ivfpq_topk(
        index, coarse, book, queries, k=40, nprobe=2, m=M, dim=DIM
    ).collect()
    c1 = {(r.query_id, r.vec_id) for r in out}
    c2 = {(r.query_id, r.vec_id) for r in out2}
    assert c1 <= c2


def test_ivfpq_residual_encoding_beats_nothing(spark, corpus):
    """Self-retrieval sanity: with full probing, a query equal to corpus
    vector i must rank a member of i's own quantization cell first —
    and residual MSE must be below the coarse-only MSE (the reason
    IVFPQ encodes residuals)."""
    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )

    emb, vecs = corpus
    coarse, book = ivfpq_train(emb, k_coarse=2, m=M, ksub=KSUB, dim=DIM)
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    cents = {r.cid: np.array(r.centroid) for r in coarse.collect()}
    subcents = {(r.sub, r.cid): np.array(r.centroid) for r in book.collect()}
    idx = {r.vid: (r.list_id, list(r.codes)) for r in index.collect()}
    res_err, coarse_err = 0.0, 0.0
    for vid, (lid, codes) in idx.items():
        v = np.array(vecs[vid])
        v_hat = cents[lid] + np.concatenate(
            [subcents[(j, codes[j])] for j in range(M)]
        )
        res_err += float(np.sum((v - v_hat) ** 2))
        coarse_err += float(np.sum((v - cents[lid]) ** 2))
    assert res_err < coarse_err


def test_ivfpq_empty_inputs(spark):
    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    coarse = spark.createDataFrame([], "cid int, centroid array<double>")
    book = spark.createDataFrame(
        [], "sub int, cid int, centroid array<double>"
    )
    index = spark.createDataFrame([], "vid long, list_id int, codes array<int>")
    assert ivfpq_encode(empty, coarse, book, m=M, dim=DIM).count() == 0
    empty_q = empty.withColumnRenamed("vec_id", "query_id")
    assert (
        ivfpq_topk(index, coarse, book, empty_q, k=3, m=M, dim=DIM).count() == 0
    )


def test_ivfpq_cross_engine_parity_on_real_embeddings(spark, sf_dir):
    """End-to-end IVF-PQ parity against the staged DuckDB oracle on the
    real embeddings table: coarse train, assignment, residual PQ train,
    encode, routing, compressed top-k — every value string-compared at
    the driver bar. The round-6 promotion test running early."""
    import duckdb

    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )
    from kinesis_stream_spark.operators.quantization_sql import sql_ivfpq_topk
    from kinesis_stream_spark.sources.batch import load_table

    KC_, M_, KSUB_, DIM_, IT_, NQ_, NP_, K_ = 2, 2, 4, 64, 2, 3, 2, 8
    emb = load_table(spark, sf_dir, "embeddings")
    coarse, book = ivfpq_train(
        emb, k_coarse=KC_, m=M_, ksub=KSUB_, dim=DIM_, iterations=IT_
    )
    index = ivfpq_encode(emb, coarse, book, m=M_, dim=DIM_)
    queries = emb.where("vec_id < %d" % NQ_).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = [
        (r.query_id, r.vec_id, repr(r.approx_score), r.rank)
        for r in ivfpq_topk(
            index, coarse, book, queries, k=K_, nprobe=NP_, m=M_, dim=DIM_
        ).orderBy("query_id", "rank").collect()
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = [
        (r[0], r[1], repr(float(r[2])), r[3])
        for r in con.execute(
            sql_ivfpq_topk(k_coarse=KC_, m=M_, ksub=KSUB_, dim=DIM_,
                           iterations=IT_, n_queries=NQ_, nprobe=NP_, k=K_)
        ).fetchall()
    ]
    con.close()
    assert got == want


def test_sql_pq_mse_empty_corpus_emits_zero_rows():
    """Oracle twin of the operator's empty-input contract: an empty (or
    fully-guarded-out) corpus must yield ZERO rows, not one all-NULL
    overall row from the global aggregate (round-6 review finding)."""
    import duckdb

    from kinesis_stream_spark.operators.quantization_sql import sql_pq_mse

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        "SELECT CAST(NULL AS BIGINT) AS vec_id, "
        "CAST(NULL AS DOUBLE[]) AS embedding WHERE 1 = 0"
    )
    rows = con.execute(sql_pq_mse(m=2, ksub=2, dim=8, iterations=1)).fetchall()
    con.close()
    assert rows == []


def test_ivfpq_pruned_matches_broadcast_twin(spark, corpus, tmp_path):
    """The PARTITION BY list_id layout + routed-IN pruned scan must
    return exactly what the in-memory index returns — pruning only
    removes rows the twin discarded after its scan."""
    from kinesis_stream_spark.operators.quantization import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_topk_pruned,
        ivfpq_train,
        write_partitioned_index,
    )

    emb, vecs = corpus
    coarse, book = ivfpq_train(emb, k_coarse=2, m=M, ksub=KSUB, dim=DIM)
    index = ivfpq_encode(emb, coarse, book, m=M, dim=DIM)
    queries = _emb(spark, vecs[:2]).withColumnRenamed("vec_id", "query_id")
    want = sorted(
        map(tuple, ivfpq_topk(
            index, coarse, book, queries, k=4, nprobe=1, m=M, dim=DIM
        ).collect())
    )
    path = str(tmp_path / "ivfpq_idx")
    write_partitioned_index(index, path)
    got = sorted(
        map(tuple, ivfpq_topk_pruned(
            spark, path, coarse, book, queries, k=4, nprobe=1, m=M, dim=DIM
        ).collect())
    )
    assert got == want and len(got) > 0


def test_mse_direct_equals_join_form(spark, corpus):
    """r12 fused MSE: ``pq_reconstruction_mse_direct(corpus, book)``
    must reproduce ``pq_reconstruction_mse(corpus, pq_encode(corpus,
    book), book)`` exactly — the fusion relies on the identity
    ``sqerr_fx = fx(s,s) − score_fx(assigned)`` over the SAME
    fixed-point terms, with the assignment argmax taken in the
    dbl-score domain exactly as pq_encode takes it."""
    from kinesis_stream_spark.operators.quantization import (
        pq_reconstruction_mse_direct,
    )

    emb, _ = corpus
    book = pq_train(emb, m=M, ksub=KSUB, dim=DIM)
    codes = pq_encode(emb, book, m=M, dim=DIM)
    want = [
        (r["sub"], r["n_vectors"], r["mse"])
        for r in pq_reconstruction_mse(emb, codes, book, m=M, dim=DIM).collect()
    ]
    got = [
        (r["sub"], r["n_vectors"], r["mse"])
        for r in pq_reconstruction_mse_direct(emb, book, m=M, dim=DIM).collect()
    ]
    assert got == want and len(got) == M + 1


def test_mse_direct_empty_inputs(spark):
    from kinesis_stream_spark.operators.quantization import (
        pq_reconstruction_mse_direct,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    book = spark.createDataFrame(
        [], "sub int, cid int, n_members long, centroid array<double>"
    )
    assert pq_reconstruction_mse_direct(empty, book, m=M, dim=DIM).count() == 0


def test_kmeans_literal_centroids_roundtrip_exact(spark):
    """The r12 driver-iterated k-means hinges on literal injection
    being bit-exact: a collected double re-embedded through
    centroid_rows_sql_array must come back as the identical IEEE
    value (repr is shortest-round-trip; Spark's literal parser is
    correctly rounded)."""
    import math

    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.similarity import (
        centroid_rows_sql_array,
    )

    vals = [
        0.1, -0.1, 1.0 / 3.0, -1e-17, 2.0**-40, 1e300, -0.0,
        math.nextafter(1.0, 2.0), 0.30000000000000004,
    ]
    arr = centroid_rows_sql_array([(0, vals)])
    got = spark.range(1).select(F.expr(arr)[0]["centroid"].alias("c")).collect()[0]["c"]
    assert [x.hex() for x in got] == [float(v).hex() for v in vals]
