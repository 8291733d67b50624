"""DuckDB oracle builders for the rotated-PQ (RR-PQ) pipelines.

Staged with ``operators/opq.py`` for the round-7 window. The rotation
matrix literals come from the SAME Python ``rotation_matrix`` call the
Spark plan uses, so both engines rotate with bit-identical
coefficients and the same exact fixed-point accumulation; downstream
the chains are the proven PQ oracle helpers over the rotated CTE.
"""

from __future__ import annotations

from kinesis_stream_spark.functions.vectors import SCALE, _sql_fixed_sum
from kinesis_stream_spark.operators.opq import rotation_matrix



def _sql_rot_coord(row: tuple[float, ...]) -> str:
    """One rotated coordinate ``R_i · v`` — twin of ``_rot_coord``:
    floor(x·r·2^40) BIGINT sums over the literal row, one scale-back
    divide.

    Literals are emitted in e-notation deliberately: DuckDB lexes
    exponent literals as DOUBLE, whereas plain decimals unify the list
    to DECIMAL(21,20)[] whose decimal→double cast double-rounds
    (int128→double, then ÷10^20) — measured off-by-one-ulp on 18 of 64
    full-mantissa coefficients, which shifted one fixed-point floor and
    broke bit-parity on the fuzz corpus. %.16e (17 significant digits)
    round-trips every double exactly."""
    lits = "[" + ", ".join(f"{r:.16e}" for r in row) + "]"
    prods = (
        f"LIST_TRANSFORM(LIST_ZIP(v, {lits}), "
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))"
    )
    return f"(CAST({_sql_fixed_sum(prods)} AS DOUBLE) / {SCALE})"


def sql_rotate_cte(dim: int = 64) -> str:
    """``rv(vec_id, v)``: the rotated corpus over CTE ``ev(vec_id, v)``."""
    R = rotation_matrix(dim)
    coords = ", ".join(_sql_rot_coord(row) for row in R)
    return f"rv AS (SELECT vec_id, [{coords}] AS v FROM ev)"


def sql_rrpq_adc_topk(
    *,
    m: int = 4,
    ksub: int = 4,
    dim: int = 64,
    iterations: int = 2,
    n_queries: int = 3,
    k: int = 8,
) -> str:
    """Rotated-PQ oracle: rotate → train → encode → ADC top-k. Queries
    are corpus rows, so one rotated CTE serves both sides (exactly as
    the Spark pipeline rotates queries with the same matrix). The
    train/encode/ADC chain is the PROVEN flat-PQ oracle fed through its
    source parameter — no copied SQL to drift."""
    from kinesis_stream_spark.operators.quantization_sql import sql_pq_adc_topk

    return sql_pq_adc_topk(
        m=m, ksub=ksub, dim=dim, iterations=iterations,
        n_queries=n_queries, k=k,
        src_ctes=(
            "ev AS (SELECT vec_id, embedding AS v FROM embeddings)",
            sql_rotate_cte(dim),
        ),
        src="rv",
    )


def sql_subspace_variance(*, m: int = 4, dim: int = 64, rotated: bool = False) -> str:
    """Per-subspace variance shares over the (optionally rotated)
    corpus — twin of ``subspace_variance``: exact fixed-point first and
    second moments, identical per-dimension E[x²] − E[x]² op order,
    ordered left-fold per subspace, one final share divide.

    Per-term headroom: ``FLOOR(x²·2^40) AS BIGINT`` requires
    |x| < 2^11.5 ≈ 2896 — guaranteed by the scan guard's
    ``VEC_MAX_ABS`` (= 64) magnitude bound, which both engines apply
    before this CTE (x² ≤ 2^12 → per-term ≤ 2^52). The DECIMAL(38,0)
    note in ``subspace_variance`` covers the row-count dimension; this
    bound covers the per-term one."""
    assert dim % m == 0
    subdim = dim // m
    src_ctes = ["ev AS (SELECT vec_id, embedding AS v FROM embeddings)"]
    src = "ev"
    if rotated:
        src_ctes.append(sql_rotate_cte(dim))
        src = "rv"
    q_sums = ", ".join(
        f"SUM(CAST(FLOOR(CAST(v[{i + 1}] AS DOUBLE) * CAST(v[{i + 1}] AS DOUBLE)"
        f" * {float(SCALE)!r}) AS BIGINT)) AS q{i}"
        for i in range(dim)
    )
    s_sums = ", ".join(
        f"SUM(CAST(FLOOR(CAST(v[{i + 1}] AS DOUBLE) * {float(SCALE)!r}) AS BIGINT))"
        f" AS s{i}"
        for i in range(dim)
    )
    var_i = [
        f"(CAST(q{i} AS DOUBLE) / {float(SCALE)!r} / n"
        f" - (CAST(s{i} AS DOUBLE) / {float(SCALE)!r} / n)"
        f" * (CAST(s{i} AS DOUBLE) / {float(SCALE)!r} / n))"
        for i in range(dim)
    ]
    sub_exprs = []
    for j in range(m):
        acc = var_i[j * subdim]
        for i in range(j * subdim + 1, (j + 1) * subdim):
            acc = f"({acc} + {var_i[i]})"
        sub_exprs.append(f"{acc} AS v{j}")
    tot = "v0"
    for j in range(1, m):
        tot = f"({tot} + v{j})"
    rows = " UNION ALL ".join(
        f"SELECT {j} AS sub, v{j} AS var_sum, {tot} AS t FROM per" for j in range(m)
    )
    return f"""
    WITH {", ".join(src_ctes)},
    stats AS (SELECT COUNT(*) AS n, {q_sums}, {s_sums} FROM {src}),
    per AS (SELECT {", ".join(sub_exprs)} FROM stats WHERE n > 0)
    SELECT sub, var_sum, var_sum / t AS var_share FROM ({rows})
    ORDER BY sub
    """
