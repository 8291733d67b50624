"""Count-Min sketch (Cormode & Muthukrishnan 2005): fixed-size
frequency summary + heavy-hitter estimation.

The streaming-analytics sketch the exact token-count aggregate can't
replace at 100 TB: the sketch is DEPTH×WIDTH BIGINT cells — a few KB —
built in one map-side-combinable aggregate, mergeable across any
partitioning (cell-wise SUM), and every point estimate is an
overcount-only bound (est ≥ true; est ≤ true + εN with probability
1−δ). Reference scope note: the reference (`500px/kinesis-stream`)
ships no aggregation operators (opaque payloads, `Record.scala:15`);
this extends the sketch family (approx distinct / quantile rows in
SURVEY §2.3) with the point-frequency sketch.

Cross-engine exactness: the row hashes are 2-universal
``((a·h + b) mod p) mod width`` over the md5-derived 60-bit token hash
reduced mod p (functions/hashing.py discipline — no engine-native
hash anywhere), with p = 2^31 − 1 and constants < 2^31, so every
product stays < 2^62 (BIGINT-safe) and both engines replay the cell
assignment bit-identically. Every output column is a BIGINT.

Scale shape: the one corpus-sized pass is the (token, count)
aggregate (combinable); the sketch build explodes that frame ×DEPTH
and re-aggregates into ≤ DEPTH·WIDTH cells (combinable, tiny result).
Candidate selection runs on CONTENT-SHARDED PRE-LISTS: tokens shard by
their reduced hash (h % CM_SHARDS — content-defined, so a shard's
local counts ARE global counts and any partitioning replays it), each
shard keeps its top-k through a per-shard window (parallel, bounded
work per shard), and the final exact top-k sorts only the
≤ CM_SHARDS·k candidate union — never a global order over the full
vocabulary frame. Superset proof: a global top-k token is outranked
by at most k−1 tokens anywhere, in particular inside its own shard,
so it survives its shard's pre-list. The estimation join stays a
broadcast of the DEPTH·WIDTH cells. (The vocabulary-sized exact
aggregate itself remains because exact_cnt/overcount are this
operator's parity diagnostic; a pure-sketch deployment drops those
columns and estimates candidates straight off the broadcast cells.)

Input: the ``text`` column of ``documents`` (the text module's
contract); the DuckDB twin reads the table ``documents``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import (
    md5_int64,
    sql_md5_int64,
    sql_tokens,
    tokens,
)

#: 2^31 − 1 (Mersenne prime) — the hash modulus; constants and the
#: reduced token hash stay < 2^31 so a·h + b < 2^62 fits BIGINT
CM_P = (1 << 31) - 1

#: fixed 2-universal row constants (depth 4) — arbitrary odd values
#: < 2^31, pinned so both engines (and every round) agree
CM_A = (1103515245, 69069, 214013, 1664525)
CM_B = (12345, 362437, 2531011, 1013904223)

CM_WIDTH = 1024

#: content-defined candidate shards — per-shard top-k pre-lists bound
#: the final selection to CM_SHARDS·k rows (see module docstring)
CM_SHARDS = 64


def _cm_bucket_expr(h: str, i: int) -> str:
    """SQL expression for row ``i``'s bucket of reduced hash ``h``."""
    return f"((({CM_A[i]} * {h} + {CM_B[i]}) % {CM_P}) % {CM_WIDTH})"


def cm_heavy_hitters(docs: DataFrame, *, top_k: int = 20) -> DataFrame:
    """Exact top-``top_k`` tokens (by count desc, token asc) with their
    Count-Min estimates: (token, exact_cnt, cm_est, overcount).
    ``overcount = cm_est − exact_cnt ≥ 0`` always (CM never
    undercounts) — the registered parity check therefore also verifies
    the sketch's defining inequality on every row. Candidates come
    from content-sharded per-shard top-k pre-lists (module docstring);
    the result is identical to a direct global top-k, so the oracle
    replays the direct form."""
    tok_counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    hashed = tok_counts.withColumn("h", md5_int64(F.col("token")) % CM_P)
    rows = F.array(
        *[F.expr(_cm_bucket_expr("h", i)) for i in range(len(CM_A))]
    )
    cells = (
        hashed.select(
            "exact_cnt", F.posexplode(rows).alias("row_i", "bucket")
        )
        .groupBy("row_i", "bucket")
        .agg(F.sum("exact_cnt").alias("cell"))
    )
    w_shard = Window.partitionBy("shard").orderBy(
        F.desc("exact_cnt"), F.asc("token")
    )
    prelist = (
        hashed.withColumn("shard", F.col("h") % CM_SHARDS)
        .withColumn("rn", F.row_number().over(w_shard))
        .where(F.col("rn") <= top_k)
        .drop("shard", "rn")
    )
    cand = prelist.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(top_k)
    est = (
        cand.select(
            "token",
            "exact_cnt",
            F.posexplode(rows).alias("row_i", "bucket"),
        )
        .join(F.broadcast(cells), ["row_i", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell").alias("cm_est"))
    )
    return est.select(
        "token",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
    )


def sql_cm_heavy_hitters(*, top_k: int = 20) -> str:
    """DuckDB oracle twin of :func:`cm_heavy_hitters` — identical
    tokenization, md5-derived row hashes, cell sums, and min-estimate."""
    toks = sql_tokens("text")
    h = sql_md5_int64("token")
    buckets = ", ".join(
        f"{_cm_bucket_expr('h', i)} AS b{i}" for i in range(len(CM_A))
    )
    bucket_rows = " UNION ALL ".join(
        f"SELECT token, exact_cnt, {i} AS row_i, b{i} AS bucket FROM hashed"
        for i in range(len(CM_A))
    )
    return f"""
    WITH tok AS (
      SELECT t.token FROM documents, UNNEST({toks}) AS t(token)
      WHERE t.token <> ''
    ),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY 1
    ),
    hashed AS (
      SELECT token, exact_cnt, ({h}) % {CM_P} AS h, {buckets}
      FROM counts
    ),
    brows AS ({bucket_rows}),
    cells AS (
      SELECT row_i, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cell
      FROM brows GROUP BY 1, 2
    ),
    cand AS (
      SELECT token, exact_cnt FROM counts
      ORDER BY exact_cnt DESC, token ASC LIMIT {top_k}
    ),
    est AS (
      SELECT b.token, b.exact_cnt, MIN(c.cell) AS cm_est
      FROM brows b
      JOIN cells c USING (row_i, bucket)
      WHERE b.token IN (SELECT token FROM cand)
      GROUP BY 1, 2
    )
    SELECT token, exact_cnt, cm_est, cm_est - exact_cnt AS overcount
    FROM est
    """
