"""Deterministic weighted sampling (SURVEY.md §2.3 extension row; no
counterpart in the reference — kinesis-stream hands decoded records to
user code (`Record.scala:15`) and downsampling happens downstream;
this is that downstream, re-expressed declaratively).

Training-data pipelines need samples that are (a) weighted — show the
curator more of what matters (high-quality docs, high-value events) —
and (b) REPRODUCIBLE: re-runs, retries, both engines, and next month's
backfill must pick the same rows, or every diff downstream is noise.
Randomness is therefore a deterministic hash, never rand().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.functions.hashing import md5_int64, sql_md5_int64

#: weight quantization (2^20 fx, the engine-wide discipline), the
#: draw's bit width, and the priority numerator scale — sized so every
#: intermediate stays inside BIGINT on BOTH engines (u < 2^31,
#: u·P_SCALE < 2^62; Spark's `div` yields BIGINT, so a wider scale
#: would overflow the quotient for small weights).
W_SCALE = 1 << 20
U_MOD = 1 << 31
P_SCALE = 1 << 31

#: max usable weight: weights clamp to LEAST(w, 2^40) BEFORE the fx
#: floor on BOTH engines, so weight_fx ≤ 2^60 always fits BIGINT.
#: Without the clamp the engines diverge past w ≈ 8.8e12 (Spark's
#: non-ANSI double→long cast saturates at Long.MAX, DuckDB's
#: CAST(FLOOR(..) AS BIGINT) raises — ADVICE r10). Above the cap all
#: weights rank as equally-maximal mass, which is the right
#: saturation semantics for a sampler (the draw u still breaks ties).
W_MAX = float(1 << 40)


def weighted_priority_sample(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Reproducible weighted-priority sample of ``k`` rows per group:
    each row draws the deterministic 31-bit hash u = md5(id) mod 2^31
    and is
    ranked by priority = ⌊u·2^31 / ⌊w·2^20⌋⌋ ascending — heavier rows
    get proportionally smaller priorities, so doubling a weight
    doubles the chance of beating any fixed rival. This is the
    integer-exact sibling of the Efraimidis–Spirakis A-Res scheme
    (rank by u^(1/w)): ES gives exactly probability-proportional-
    to-size inclusion but needs pow, which is off the cross-engine
    table (the repo's transcendental rule); rank-by-u/w keeps the
    properties pipelines actually rely on — monotone in weight
    (w↑ ⇒ priority↓ for fixed u), deterministic, partition-
    independent, and stable under re-runs — with a size-biased (not
    exactly PPS) inclusion law, which the doccard states instead of
    hiding. Eviction-order note: like ES, the TOP-k smallest
    priorities form the sample, so adding rows can only evict the
    current maximum — the sample is mergeable across shards.

    Rows with NULL/non-positive weight or NULL id/group are excluded
    by contract (they carry no sampling mass / identity). Ties (two
    rows, same priority) break on id ascending — total order, both
    engines.

    Output: the selected rows only — (group_key, id, weight_fx,
    sample_rank), rank 1..k per group (the priority stays internal;
    it exists only to be ordered).

    Scale shape: ONE hash-partition exchange on the group key; the
    rank-≤-k filter compiles to Spark's WindowGroupLimit, which
    pre-prunes every map partition to its local top-k BEFORE the
    exchange (plan-pinned in tests/test_plans.py) — per-reducer cost
    is O(groups_in_partition · k), never a corpus-sized sort. The
    priority arithmetic is BIGINT exact end to end (u < 2^31 ⇒
    u·2^31 < 2^62)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(
        F.col(group_col).alias("group_key"),
        F.col(id_col).alias("id"),
        F.floor(
            F.least(F.col(weight_col), F.lit(W_MAX))
            * F.lit(float(W_SCALE))
        )
        .cast("long")
        .alias("weight_fx"),
        (md5_int64(F.col(id_col).cast("string")) % U_MOD).alias("u"),
    ).where(F.col("weight_fx") > 0)
    pri = base.select(
        "group_key",
        "id",
        "weight_fx",
        F.expr(f"(u * {P_SCALE}) div weight_fx").alias("priority"),
    )
    w = Window.partitionBy("group_key").orderBy(
        F.col("priority").asc(), F.col("id").asc()
    )
    return (
        pri.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select(
            "group_key",
            "id",
            "weight_fx",
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


def sql_weighted_priority_sample(
    *,
    table: str,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> str:
    """DuckDB oracle twin of :func:`weighted_priority_sample` —
    identical hash, quantization, priority floor, and tie-break."""
    u = sql_md5_int64(f"CAST({id_col} AS VARCHAR)")
    return f"""
    WITH base AS (
      SELECT {group_col} AS group_key, {id_col} AS id,
             CAST(FLOOR(LEAST({weight_col}, {W_MAX!r})
                        * {float(W_SCALE)!r}) AS BIGINT)
               AS weight_fx,
             {u} % {U_MOD} AS u
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {id_col} IS NOT NULL
        AND {weight_col} IS NOT NULL AND {weight_col} > 0),
    pri AS (
      SELECT group_key, id, weight_fx,
             (u * {P_SCALE}) // weight_fx AS priority
      FROM base WHERE weight_fx > 0),
    ranked AS (
      SELECT group_key, id, weight_fx, priority,
             ROW_NUMBER() OVER (PARTITION BY group_key
               ORDER BY priority ASC, id ASC) AS sample_rank
      FROM pri)
    SELECT group_key, id, weight_fx,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= {k}
    """
