"""Round-7 guard hardening: the VEC_MAX_ABS magnitude clause (fixed-
point headroom, both engines) and the FROM/JOIN-restricted, loudly-
failing oracle rewrite in ``guard_oracles``."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from kinesis_stream_spark.functions.vectors import (
    VEC_MAX_ABS,
    sql_valid_vector,
    valid_vector,
)
from kinesis_stream_spark.queries._emb_family import guard_oracles

DIM = 4

ROWS = [
    (0, [0.5, -0.25, 0.125, 1.0], True),            # clean
    (1, [64.0, 0.0, 0.0, 1.0], True),               # exactly at the bound
    (2, [64.00000762939453, 0.0, 0.0, 1.0], False), # just past (float32-exact)
    (3, [-300.0, 0.5, 0.5, 0.5], False),            # negative out-of-headroom
    (4, [float("inf"), 0.5, 0.5, 0.5], False),      # +inf (isnan misses it)
    (5, [float("-inf"), 0.5, 0.5, 0.5], False),     # -inf
    (6, [float("nan"), 0.5, 0.5, 0.5], False),      # NaN (pre-existing clause)
    (7, [0.0, 0.0, 0.0, 0.0], False),               # zero norm
    (8, None, False),                               # NULL vector
]


def test_magnitude_clause_spark(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v, _ in ROWS], "vec_id long, embedding array<double>"
    )
    kept = {
        r.vec_id for r in df.where(valid_vector(F.col("embedding"), DIM)).collect()
    }
    assert kept == {i for i, _, ok in ROWS if ok}


def test_magnitude_clause_duckdb():
    con = duckdb.connect()
    try:
        con.register(
            "embeddings",
            pd.DataFrame(
                [(i, v) for i, v, _ in ROWS], columns=["vec_id", "embedding"]
            ),
        )
        kept = {
            r[0]
            for r in con.execute(
                "SELECT vec_id FROM embeddings WHERE "
                + sql_valid_vector("embedding", DIM)
            ).fetchall()
        }
        assert kept == {i for i, _, ok in ROWS if ok}
    finally:
        con.close()


def test_bound_value_headroom():
    """The documented invariant behind every fixed-point path: the WORST
    compound expression — residual k-means assignment, elements up to
    2·VEC_MAX_ABS after centroid subtraction, A − 2B + C expansion
    (coefficient sum 4), up to 64 terms — stays inside int64."""
    assert 4 * (2 * VEC_MAX_ABS) ** 2 * (1 << 40) * 64 < 2**63
    # and the re-rank / ADC 2·q·v − ‖v‖² shape on residuals (coeff 3)
    assert 3 * (2 * VEC_MAX_ABS) ** 2 * (1 << 40) * 64 < 2**63


def test_guard_oracles_rewrites_table_positions():
    out = guard_oracles(
        {
            "q": "SELECT a FROM embeddings e JOIN embeddings f ON e.id = f.id",
            "q2": "WITH c AS (SELECT * from embeddings) SELECT * FROM c",
        }
    )
    assert out["q"].count("SELECT * FROM embeddings WHERE") == 2
    assert "from (SELECT * FROM embeddings WHERE" in out["q2"]


def test_guard_oracles_fails_loudly_on_non_table_reference():
    with pytest.raises(ValueError, match="outside FROM/JOIN"):
        guard_oracles({"bad": "SELECT 'embeddings' AS label FROM t"})
    with pytest.raises(ValueError, match="outside FROM/JOIN"):
        guard_oracles({"bad": "SELECT embeddings.vec_id FROM embeddings"})
