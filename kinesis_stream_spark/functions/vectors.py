"""Exact fixed-point vector math over ``array<float>`` embedding columns.

Float dot products are order-sensitive and engines accumulate differently,
so every product is quantized to fixed-point: ``floor(x*y * 2^40)`` as
BIGINT, summed exactly (integer arithmetic — order-independent), then
scaled back to double. floor() has no tie-breaking semantics to disagree
on (unlike round/decimal-cast), and the double multiply producing each
product is a single IEEE op — bit-identical in Spark and DuckDB. Results
are therefore reproducible across engines, partitionings, and AQE
decisions.

Headroom: admitted vectors are bounded |x| ≤ ``VEC_MAX_ABS`` (= 64) by
the :func:`valid_vector` scan guard, sized for the WORST compound
fixed-point expression in the repo, not just a single dot. That worst
case is residual k-means assignment (IVF-PQ): elements reach
2·``VEC_MAX_ABS`` after coarse-centroid subtraction (centroids are
means of admitted vectors, so themselves within the bound), and the
squared distance expands as A − 2B + C — coefficient sum 4 — over up
to 64 terms: 4 · (2·64)² · 2^40 · 64 = 2^62 < 2^63. Everything else
has more room: plain dot/norm sums ≤ 2^58, the re-rank / ADC
2·q·v − ‖v‖² shape ≤ 3·2^58 (×4 on residuals: 3·2^60), rotation terms
|x·r|·2^40 ≤ 2^52 (row-normalized |r| ≤ 1). Unit-scale embeddings sit
far inside the bound — it exists to turn silent int64 wraparound on
out-of-contract data into a consistent exclusion on BOTH engines.
Chosen over DECIMAL accumulation after measuring: BigDecimal adds
inside the interpreted higher-order-function loop were ~5× slower than
long adds at equal exactness.

All JVM-side (`zip_with` + `aggregate`): at 100 TB a brute-force top-k is
a map-side score + TakeOrdered per query vector; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1 << 40  # fixed-point scale for per-term quantization

#: magnitude bound for admitted vector elements — keeps every scaled
#: fixed-point expression (dots, squares, rotations, residual-distance
#: expansions, the 2·q·v − ‖v‖² re-rank shape) inside int64 on both
#: engines (see module docstring). 2^6: the largest power of two whose
#: worst-case compound sum 4·(2·2^6)²·2^40·2^6 = 2^62 still clears the
#: BIGINT sign bit.
VEC_MAX_ABS = 64.0


def _fixed_sum(products: Column) -> Column:
    """Exact BIGINT sum of floor(p * SCALE) over a double array."""
    return F.aggregate(
        F.transform(products, lambda p: F.floor(p * SCALE)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dot_decimal(a: Column, b: Column) -> Column:
    """Exact fixed-point dot product of two float arrays (as double)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _fixed_sum(prods).cast("double") / SCALE


def norm_decimal(a: Column) -> Column:
    """Exact fixed-point L2 norm (as double)."""
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_fixed_sum(sq).cast("double") / SCALE)


# --- DuckDB twins ------------------------------------------------------------


def _sql_fixed_sum(products_expr: str) -> str:
    return (
        f"LIST_SUM(LIST_TRANSFORM({products_expr}, "
        f"p -> CAST(FLOOR(p * {SCALE}) AS BIGINT)))"
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot_decimal`."""
    prods = (
        f"LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
        f"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))"
    )
    return f"(CAST({_sql_fixed_sum(prods)} AS DOUBLE) / {SCALE})"


def sql_norm(a: str) -> str:
    """DuckDB twin of :func:`norm_decimal`."""
    sq = f"LIST_TRANSFORM({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"SQRT(CAST({_sql_fixed_sum(sq)} AS DOUBLE) / {SCALE})"


def sql_cosine(a: str, b: str) -> str:
    """Cosine similarity of two DuckDB list expressions: :func:`sql_dot`
    over the product of the :func:`sql_norm` terms — exact fixed-point
    accumulation, then single IEEE divide/sqrt ops."""
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


def valid_vector(col: Column, dim: int = 64) -> Column:
    """Admission guard for embedding columns: non-null, exactly ``dim``
    elements, no NULL/NaN elements, nonzero norm, every element within
    the ``VEC_MAX_ABS`` fixed-point headroom. At 100 TB corrupt vectors
    are routine (truncated writes, failed encoders, zero padding) — and
    they don't just skew results: a zero-norm vector is a
    DIVIDE_BY_ZERO crash in ANSI mode, NaN propagates through
    fixed-point floor into engine-dependent territory, and an
    out-of-headroom magnitude would wrap the BIGINT term sums into
    engine-DEPENDENT garbage (Spark ANSI overflow error vs DuckDB cast
    error vs silent wrap). Filter at the scan edge, before any
    arithmetic — both engines exclude the same rows."""
    return (
        col.isNotNull()
        & (F.size(col) == dim)
        & ~F.exists(col, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > VEC_MAX_ABS))
        & F.exists(col, lambda x: x != 0)
    )


def sql_valid_vector(expr: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`valid_vector`."""
    return (
        f"({expr} IS NOT NULL AND LEN({expr}) = {dim}"
        f" AND LEN(LIST_FILTER({expr}, x -> x IS NULL OR ISNAN(CAST(x AS DOUBLE))"
        f" OR ABS(CAST(x AS DOUBLE)) > {VEC_MAX_ABS!r})) = 0"
        f" AND LEN(LIST_FILTER({expr}, x -> x <> 0)) > 0)"
    )
