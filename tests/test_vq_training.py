"""Training in the vector-quantization family: the shared Lloyd loop and
the artifact frames the trainers return.

- ``lloyd_rows`` (flat k-means is its one-subspace case, PQ trains all
  subspaces in it) matches a plain-Python replay of its rules: seeds are
  the rows with the smallest (md5(id), id), assignment is the argmax of
  ``2·v·c − c·c`` over fixed-point dots with ties to the lower cid, and
  the update is a floor-fixed-point mean.
- ``kmeans_fit``, ``pq_train`` and ``ivfpq_train`` return local
  relations: collecting one, also after a ``.select``, runs no Spark job
  and returns the trained doubles bit for bit.
"""

from __future__ import annotations

import hashlib
import math
import uuid

import numpy as np
import pytest

from kinesis_stream_spark.functions.vectors import SCALE
from kinesis_stream_spark.operators.quantization import ivfpq_train, pq_train
from kinesis_stream_spark.operators.similarity import (
    CENTROID_SCALE,
    kmeans_fit,
    lloyd_rows,
)

DIM = 4


def _emb(spark, vecs, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )


def _dot(a, b):
    return float(sum(math.floor(x * y * SCALE) for x, y in zip(a, b))) / SCALE


def _reference_lloyd(ids, vecs, *, m, k, dim, iterations):
    """Plain-Python Lloyd's k-means with the operator's fixed-point rules."""
    subdim = dim // m
    by_id = dict(zip(ids, vecs))
    md5 = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)  # noqa: E731
    seeds = sorted(ids, key=lambda i: (md5(i), i))[:k]
    books = {
        j: [(c, by_id[i][j * subdim : (j + 1) * subdim]) for c, i in enumerate(seeds)]
        for j in range(m)
    }
    rows = []
    for _ in range(iterations):
        if not books[0]:
            return []
        rows = []
        for j in range(m):
            members: dict[int, list[list[float]]] = {}
            for v in vecs:
                sv = v[j * subdim : (j + 1) * subdim]
                cid = max(
                    books[j], key=lambda cc: (2 * _dot(sv, cc[1]) - _dot(cc[1], cc[1]), -cc[0])
                )[0]
                members.setdefault(cid, []).append(sv)
            for cid in sorted(members):
                mem = members[cid]
                cent = [
                    float(sum(math.floor(x[d] * float(CENTROID_SCALE)) for x in mem))
                    / float(CENTROID_SCALE)
                    / len(mem)
                    for d in range(subdim)
                ]
                rows.append((j, cid, len(mem), cent))
        books = {j: [(c, cent) for s, c, _n, cent in rows if s == j] for j in range(m)}
    return rows


def _hex(rows):
    return [(s, c, n, [x.hex() for x in cent]) for s, c, n, cent in rows]


@pytest.mark.parametrize(
    "case",
    [
        # (seed, n vectors, m, k, iterations)
        (1, 24, 1, 3, 3),
        (2, 30, 2, 3, 2),
        (3, 16, 4, 2, 4),
    ],
)
def test_lloyd_rows_matches_python_reference(spark, case):
    seed, n, m, k, iterations = case
    rng = np.random.default_rng(seed)
    # a coarse grid makes equal scores common, so the tie-break is exercised
    vecs = [list(rng.integers(-4, 5, DIM) / 4.0) for _ in range(n)]
    ids = [int(i) for i in rng.permutation(1000)[:n]]
    got = lloyd_rows(_emb(spark, vecs, ids), m=m, k=k, dim=DIM, iterations=iterations)
    want = _reference_lloyd(ids, vecs, m=m, k=k, dim=DIM, iterations=iterations)
    assert got and _hex(got) == _hex(want)


def test_lloyd_rows_drops_clusters_when_k_exceeds_distinct_vectors(spark):
    vecs = [[1.0, 0.0, 0.5, 0.25], [-1.0, 0.5, 0.0, 2.0]] * 5
    ids = list(range(10))
    for m in (1, 2):
        got = lloyd_rows(_emb(spark, vecs, ids), m=m, k=6, dim=DIM, iterations=2)
        want = _reference_lloyd(ids, vecs, m=m, k=6, dim=DIM, iterations=2)
        assert _hex(got) == _hex(want)
        # two distinct vectors: at most two clusters survive per subspace
        assert {s for s, *_ in got} == set(range(m))
        assert all(len([r for r in got if r[0] == s]) == 2 for s in range(m))


def test_lloyd_rows_on_an_empty_corpus(spark):
    empty = _emb(spark, [])
    for m in (1, 2):
        assert lloyd_rows(empty, m=m, k=3, dim=DIM, iterations=2) == []


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"vq-training-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _artifacts(emb):
    coarse, book = ivfpq_train(emb, k_coarse=2, m=2, ksub=2, dim=DIM)
    return {
        "kmeans_fit": (kmeans_fit(emb, k=3, dim=DIM), ["cid", "centroid"]),
        "pq_train": (pq_train(emb, m=2, ksub=2, dim=DIM), ["sub", "cid", "centroid"]),
        "ivfpq_train.coarse": (coarse, ["cid", "centroid"]),
        "ivfpq_train.book": (book, ["sub", "cid", "centroid"]),
    }


def test_trained_artifacts_collect_without_a_job_after_a_select(spark):
    rng = np.random.default_rng(11)
    emb = _emb(spark, [list(rng.uniform(-1, 1, DIM)) for _ in range(20)])
    for name, (frame, cols) in _artifacts(emb).items():
        rows, n_jobs = _jobs(spark, lambda: frame.select(*cols).collect())
        assert rows, name
        assert n_jobs == 0, name
    # the artifact holds the trained doubles bit for bit
    fit = kmeans_fit(emb, k=3, dim=DIM)
    assert [
        (r.cid, r.n_members, [x.hex() for x in r.centroid])
        for r in fit.orderBy("cid").collect()
    ] == [
        (c, n, [x.hex() for x in cent])
        for _s, c, n, cent in lloyd_rows(emb, m=1, k=3, dim=DIM, iterations=2)
    ]


def test_empty_trained_artifacts_collect_without_a_job(spark):
    for name, (frame, cols) in _artifacts(_emb(spark, [])).items():
        rows, n_jobs = _jobs(spark, lambda: frame.select(*cols).collect())
        assert rows == [] and n_jobs == 0, name
        assert frame.columns[-1] == "centroid", name
        assert frame.schema["centroid"].dataType.simpleString() == "array<double>", name
