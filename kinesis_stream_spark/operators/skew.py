"""Skew-mitigation primitives: salted two-phase aggregation and a
distributed (range-partitioned) prefix sum.

The runbook prescribes "salt the key, aggregate twice" wherever a hot
key would overload one reducer (empty-doc hashes, boilerplate bands,
celebrity users). This module makes that prescription a first-class,
tested operator instead of a docstring aside.

Semantics are EXACTLY those of the direct aggregation — the salt only
changes the physical shuffle: phase 1 groups on (key, salt) so a hot
key's rows spread over ``n_salts`` reducers and are partially reduced
there; phase 2 re-aggregates the ≤ n_salts partial rows per key. Counts
add exactly; sums accumulate in exact DECIMAL (queries/_util.py
discipline), so the two-phase result is bit-identical to the one-phase
one and to any SQL oracle's plain GROUP BY.

The salt is md5-derived from a row identity column — deterministic, so
re-runs and retries aggregate identically (a random salt would too, but
determinism keeps every layer of this engine replayable).

At 100 TB: use for aggregations whose key histogram is unknown or known
hot. Cost when keys are uniform: one extra (tiny) shuffle of n_keys ×
n_salts partial rows. AQE's skew handling covers JOINs; aggregation
skew is the caller's job — this is the tool.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.functions.hashing import md5_int64
from kinesis_stream_spark.operators.lineage import pin

DEC = "decimal(27,6)"


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    *,
    salt_col: Column | str,
    sum_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase (count, exact-decimal sum, min, max) aggregation per
    ``key_cols``, salted on ``md5(salt_col) % n_salts``.

    Returns one row per key: (``*key_cols``, n_rows, sum_<sum_col>,
    min_<sum_col>, max_<sum_col>) — identical values to the direct
    single-shuffle aggregation, resilient to any key-frequency skew.
    """
    salt_src = F.col(salt_col) if isinstance(salt_col, str) else salt_col
    salt = (md5_int64(salt_src.cast("string")) % n_salts).alias("_salt")
    partial = (
        df.select(*key_cols, salt, F.col(sum_col).alias("_v"))
        .groupBy(*key_cols, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast(DEC)).alias("_s"),
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
        )
    )
    return (
        partial.groupBy(*key_cols)
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.sum("_s").cast("double").alias(f"sum_{sum_col}"),
            F.min("_mn").alias(f"min_{sum_col}"),
            F.max("_mx").alias(f"max_{sum_col}"),
        )
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    val_col: Column | str,
    out_col: str,
    *,
    num_partitions: int = 32,
) -> DataFrame:
    """Distributed running sum of ``val_col`` in ``order_cols`` order —
    the scale-out replacement for the single-partition global-window
    trick (``Window.partitionBy(<constant>)``), which funnels every row
    through ONE reducer and caps the operator at one task's memory.

    Shape: range-repartition on the order (contiguous, ordered ranges →
    ascending partition ids), local per-partition running sums in an
    ordinary ``_pid``-partitioned window, then one tiny
    (``num_partitions``-row) exclusive prefix of the per-partition
    totals broadcast back as offsets. Parallelism = ``num_partitions``;
    no task ever sees more than its range slice. At 100 TB raise
    ``num_partitions`` to the cluster's width — the offset frame stays
    rows-per-partition tiny.

    REQUIRES a unique order key: ties that straddled a range boundary
    would make per-row prefixes depend on which side each tied row
    landed. Both call sites (equi-depth boundaries, vocabulary
    coverage) order on post-aggregation distinct keys.

    The range-partitioned frame is LAZILY ``localCheckpoint``-ed so the
    window branch and the totals branch read the SAME materialized
    partition ids (within one action the shared range exchange already
    guarantees that — the sampler runs once per shuffle
    materialization; the checkpoint extends the guarantee across
    actions and plan re-optimizations without running any job at
    CONSTRUCTION time, so explain-only and dry-run paths stay free).
    The checkpointed frame is post-aggregation (distinct order keys),
    not corpus-sized; its blocks are non-replicated executor-local
    storage released by the ContextCleaner when the frame is dropped —
    on a real cluster with executor churn, point the job at a durable
    ``checkpoint()`` dir instead (same note as operators/components.py).
    """
    return distributed_cumsums(
        df, order_cols, [(val_col, out_col)], num_partitions=num_partitions
    )


def distributed_cumsums(
    df: DataFrame,
    order_cols: list[Column],
    vals: list[tuple[Column | str, str]],
    *,
    num_partitions: int = 32,
) -> DataFrame:
    """:func:`distributed_cumsum` for SEVERAL running sums that share
    one ordering: every (val, out) pair rides the SAME range exchange,
    the same pid-partitioned local window pass, and one broadcast
    offset frame — n running sums for one shuffle, not n."""
    if not vals:
        raise ValueError("vals must be non-empty")
    cols = [
        (F.col(v) if isinstance(v, str) else v, out) for v, out in vals
    ]
    part = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_ds_pid", F.spark_partition_id()
    )
    for i, (val, _) in enumerate(cols):
        part = part.withColumn(f"_ds_val{i}", val)
    part = pin(part, eager=False)
    w_local = (
        Window.partitionBy("_ds_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part
    for i in range(len(cols)):
        local = local.withColumn(
            f"_ds_loc{i}", F.sum(f"_ds_val{i}").over(w_local)
        )
    # exclusive prefix of per-partition totals: num_partitions rows —
    # the one legitimately tiny single-partition window in this shape
    w_off = Window.orderBy("_ds_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = part.groupBy("_ds_pid").agg(
        *[F.sum(f"_ds_val{i}").alias(f"_ds_tot{i}") for i in range(len(cols))]
    )
    offs = offs.select(
        "_ds_pid",
        *[
            (
                F.sum(f"_ds_tot{i}").over(w_off) - F.col(f"_ds_tot{i}")
            ).alias(f"_ds_off{i}")
            for i in range(len(cols))
        ],
    )
    out = local.join(F.broadcast(offs), "_ds_pid")
    drop = ["_ds_pid"]
    for i, (_, out_col) in enumerate(cols):
        out = out.withColumn(
            out_col, F.col(f"_ds_loc{i}") + F.col(f"_ds_off{i}")
        )
        drop += [f"_ds_val{i}", f"_ds_loc{i}", f"_ds_off{i}"]
    return out.drop(*drop)


def key_concentration_deciles(
    df: DataFrame,
    key_col: str,
    *,
    buckets: int = 10,
) -> DataFrame:
    """Key-skew concentration profile: rank the distinct values of
    ``key_col`` by descending row count, cut the ranking into
    ``buckets`` equal-width rank bands, and report each band's share
    of the total rows — the "top 10% of keys hold X% of rows"
    diagnostic that decides whether a shuffle needs salting BEFORE it
    burns a cluster (the operational companion to :func:`salted_agg`).

    Output per band: (decile, n_keys, band_rows, cum_rows,
    cum_share_ppm) — cum_share_ppm is the integer parts-per-million of
    all rows covered by this band and every hotter one. Integer
    arithmetic end to end.

    Scale shape: the corpus-sized pass is the per-key count
    (map-side combinable); rank AND the running row total ride ONE
    :func:`distributed_cumsums` pass on the post-aggregation key
    frame — one range exchange, range-partitioned local windows, NO
    single-reducer global window — and the band summary is a
    ``buckets``-row aggregate. The oracle deliberately uses the
    textbook single-window formulation — two different prefix-sum
    strategies must agree."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    cnts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cnts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total"),
    )
    order = [F.desc("cnt"), F.asc("key")]
    ranked = distributed_cumsums(
        cnts, order, [("cnt", "cum_rows"), (F.lit(1), "rank")]
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"((rank - 1) * {buckets}) div n_keys").alias("decile"),
            F.col("cnt"),
            F.col("cum_rows"),
            F.col("total"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").cast("long").alias("band_rows"),
            F.max("cum_rows").cast("long").alias("cum_rows"),
            # DECIMAL multiply: BIGINT cum_rows * 1e6 would wrap past
            # ~9.2e12 total rows — a real 100 TB row count
            F.expr(
                "cast(cast(max(cum_rows) as decimal(38,0)) * 1000000"
                " div max(total) as long)"
            ).alias("cum_share_ppm"),
        )
    )


def sql_key_concentration_deciles(
    *,
    table: str,
    key_col: str,
    buckets: int = 10,
) -> str:
    """Oracle for :func:`key_concentration_deciles` via the textbook
    single global window — an INDEPENDENT prefix-sum strategy."""
    return f"""
    WITH cnts AS (
      SELECT {key_col} AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {table} GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM cnts
    ),
    ranked AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_rows
      FROM cnts
    )
    SELECT ((rank - 1) * {buckets}) // n_keys AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS band_rows,
           CAST(MAX(cum_rows) AS BIGINT) AS cum_rows,
           CAST(CAST(MAX(cum_rows) AS HUGEINT) * 1000000
                // MAX(total) AS BIGINT) AS cum_share_ppm
    FROM ranked CROSS JOIN tot
    GROUP BY 1
    """


def quantile_normalize(
    df: DataFrame,
    *,
    id_col: str,
    val_col: str,
) -> DataFrame:
    """Quantile (rank) normalization of a numeric column: map every
    value to its empirical CDF position in integer ppm — the
    distribution-free feature transform (and the input to quantile
    matching across datasets). Ties share one position: cdf_ppm(v) =
    ⌊10^6 · |{rows ≤ v}| / N⌋, computed on the DISTINCT-value frame so
    the heavy corpus never enters a window.

    Output per input row: (id, value, cdf_ppm). NULL values emit no
    row (no rank position).

    Scale shape: one map-side-combinable value-count aggregate, a
    :func:`distributed_cumsum` over the distinct-value frame (bounded
    by the value domain, range-partitioned local windows — NO
    single-reducer global window, the 100× answer to CUME_DIST), and
    one equi-join back to the corpus on the value. The oracle
    deliberately uses the textbook single-window formulation — two
    different prefix-sum strategies must agree."""
    vc = (
        df.where(F.col(val_col).isNotNull())
        .groupBy(F.col(val_col).alias("_qn_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("_qn_cnt"))
    )
    cum = distributed_cumsum(
        vc,
        [F.col("_qn_v").asc()],
        "_qn_cnt",
        "_qn_cum",
        num_partitions=32,
    )
    tot = vc.agg(F.sum("_qn_cnt").cast("long").alias("_qn_total"))
    cdf = cum.crossJoin(F.broadcast(tot)).select(
        "_qn_v",
        F.expr(
            "cast(cast(_qn_cum as decimal(38,0)) * 1000000 div _qn_total"
            " as long)"
        ).alias("cdf_ppm"),
    )
    return (
        df.where(F.col(val_col).isNotNull())
        .select(F.col(id_col), F.col(val_col))
        .join(cdf, F.col(val_col) == F.col("_qn_v"))
        .select(id_col, val_col, "cdf_ppm")
    )


def sql_quantile_normalize(
    *,
    table: str,
    id_col: str,
    val_col: str,
) -> str:
    """Oracle for :func:`quantile_normalize` via the textbook single
    global window — an INDEPENDENT prefix-sum strategy."""
    return f"""
    WITH vc AS (
      SELECT {val_col} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {table} WHERE {val_col} IS NOT NULL GROUP BY 1),
    cum AS (
      SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS total
      FROM vc)
    SELECT t.{id_col}, t.{val_col},
           CAST(CAST(c.cum AS HUGEINT) * 1000000 // c.total AS BIGINT)
             AS cdf_ppm
    FROM {table} t JOIN cum c ON t.{val_col} = c.v
    """


def abc_classification(
    facts: DataFrame,
    *,
    key_col: str,
    value_expr: str,
) -> DataFrame:
    """ABC / Pareto classification: rank keys by descending exact
    revenue, take the running cumulative share, and classify — A while
    the running share is ≤ 800,000 ppm (the "vital few" holding the
    first 80%), B to 950,000 ppm, C after (the long tail) — the
    inventory/catalog segmentation every ops team runs, and the
    concentration profile's per-key companion
    (:func:`key_concentration_deciles` answers "how skewed"; this
    answers "which keys").

    Exactness: revenue is micro-unit integers
    (``DECIMAL(27,6)·10^6 → DECIMAL(38,0)``/HUGEINT — exact at any
    corpus size), the running sum and the ppm floor-divide stay
    integer, and the class thresholds compare integers: bit-stable
    classification on any engine, any partitioning.

    Scale shape: one combinable per-key aggregate, then rank + running
    sum ride :func:`distributed_cumsum` on the post-aggregation key
    frame ((revenue desc, key) — a unique order, as the cumsum
    requires) — no single-partition global window; the grand total is
    a one-row broadcast. Output: (key, revenue_u, cum_ppm, abc_class).
    """
    d38 = "decimal(38,0)"
    # NULL keys are excluded by contract (the sibling convention:
    # rfm_segments, vocabulary_drift) — and necessarily: the tie-break
    # order on key would otherwise diverge (Spark asc = NULLS FIRST,
    # DuckDB ASC = NULLS LAST), moving a tied NULL group's running sum
    rev = (
        facts.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(
            F.expr(
                f"cast(sum(cast(({value_expr})"
                f" as decimal(27,6))) * 1000000 as {d38})"
            ).alias("rev_u")
        )
    )
    cum = distributed_cumsum(
        rev, [F.desc("rev_u"), F.asc("key")], "rev_u", "cum_u"
    )
    # the grand total aggregates the cumsum's checkpointed lineage
    # instead of re-scanning facts. SUM(rev_u), NOT max(cum_u): with a
    # net-negative key the running sum peaks BEFORE the end, so the
    # max is not the total (a refunds column would silently misclass)
    grand = cum.agg(F.sum("rev_u").cast(d38).alias("grand_u"))
    ppm = F.expr(
        "case when grand_u > 0 then"
        " cast(cast(cum_u as decimal(38,0)) * 1000000 div grand_u as long)"
        " end"
    )
    return cum.join(F.broadcast(grand)).select(
        "key",
        F.col("rev_u").cast("long").alias("revenue_u"),
        ppm.alias("cum_ppm"),
        F.when(ppm <= 800_000, "A")
        .when(ppm <= 950_000, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def sql_abc_classification(
    *,
    facts_cte: str,
) -> str:
    """DuckDB oracle twin of :func:`abc_classification` (single-node
    window replay of the distributed running sum). ``facts_cte`` must
    yield (key, v)."""
    return f"""
    WITH facts AS ({facts_cte}),
    rev AS (
      SELECT key,
             CAST(SUM(CAST(v AS DECIMAL(27,6))) * 1000000 AS HUGEINT)
               AS rev_u
      FROM facts WHERE key IS NOT NULL GROUP BY 1),
    cum AS (
      SELECT key, rev_u,
             SUM(rev_u) OVER (ORDER BY rev_u DESC, key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u,
             SUM(rev_u) OVER () AS grand_u
      FROM rev)
    SELECT key, CAST(rev_u AS BIGINT) AS revenue_u,
           CASE WHEN grand_u > 0 THEN
             CAST(cum_u * 1000000 // grand_u AS BIGINT) END AS cum_ppm,
           CASE WHEN CAST(cum_u * 1000000 // grand_u AS BIGINT) <= 800000
                  THEN 'A'
                WHEN CAST(cum_u * 1000000 // grand_u AS BIGINT) <= 950000
                  THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    """


def gini_concentration(
    df: DataFrame,
    *,
    group_col: str,
    key_col: str,
    val_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of the per-key value totals — the
    single-number inequality readout next to :func:`abc_classification`
    (ABC buckets the ranking; Gini scores it: 0 = every key equal,
    → 1 = one key holds everything). The planning signal for salting
    and partition sizing, and the business concentration metric
    ("what's our revenue Gini across customers?").

    With keys ranked ascending by total x (rank i = 1..n, ties broken
    by key id — ties hold identical x, so the tiebreak cannot change
    the sum):

        G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)

    Cross-engine exactness: per-key totals land in exact integer
    micro-units (DECIMAL(27,6) sum × 10^6, the ABC discipline); rank
    products and both Gini terms stay in DECIMAL(38,0)/HUGEINT; the
    output is ⌊10^6·G⌋ — integer end to end. Contract: NULL keys and
    NULL values are excluded; the value domain is assumed non-negative
    (prices/quantities — with negatives Gini is undefined and this
    operator emits whatever the formula yields on the micro-unit
    truncation); groups with Σx = 0 emit NULL gini_ppm via lazy CASE.
    NULL groups aggregate as their own group (a profiler reports on
    the NULL slice rather than hiding it).

    Scale shape: one map-side-combinable (group, key) aggregate over
    the corpus, a group-PARTITIONED rank window on the key frame (no
    global window), one combinable per-group reduce."""
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    per = (
        df.where(F.col(key_col).isNotNull() & F.col(val_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.col(key_col).alias("key")
        )
        .agg(
            F.expr(
                f"cast(sum(cast({val_col} as decimal(27,6))) * 1000000"
                f" as {d38})"
            ).alias("x_u")
        )
    )
    w = Window.partitionBy("grp").orderBy("x_u", "key")
    ranked = per.select(
        "grp", "x_u", F.row_number().over(w).cast("long").alias("rank")
    )
    m = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x_u").cast(d38).alias("sx"),
        F.sum(
            (F.col("rank").cast(d19) * F.col("x_u")).cast(d38)
        )
        .cast(d38)
        .alias("six"),
    )
    num = (
        F.lit(2).cast(d38) * F.col("six")
        - (F.col("n_keys") + 1).cast(d38) * F.col("sx")
    )
    den = F.col("n_keys").cast(d38) * F.col("sx")
    return m.select(
        F.col("grp").alias("group_key"),
        "n_keys",
        # BIGINT presentation cast: keeps the driver's pandas frames
        # integer-typed on both engines (Decimal/HUGEINT output columns
        # upcast differently)
        F.col("sx").cast("long").alias("total_micro"),
        F.when(
            F.col("sx") > 0,
            F.expr(
                f"cast((cast(2 as {d38}) * six"
                f" - cast(n_keys + 1 as {d38}) * sx) * 1000000"
                f" div (cast(n_keys as {d38}) * sx) as long)"
            ),
        ).alias("gini_ppm"),
    )


def sql_gini_concentration(
    *,
    facts_cte: str,
) -> str:
    """DuckDB oracle twin of :func:`gini_concentration`.

    ``facts_cte`` must select columns (grp, key, v)."""
    return f"""
    WITH facts AS ({facts_cte}),
    per AS (
      SELECT grp, key,
             CAST(SUM(CAST(v AS DECIMAL(27,6))) * 1000000 AS HUGEINT)
               AS x_u
      FROM facts WHERE key IS NOT NULL AND v IS NOT NULL GROUP BY 1, 2),
    ranked AS (
      SELECT grp, x_u,
             CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x_u, key)
                  AS BIGINT) AS rank
      FROM per),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(x_u) AS HUGEINT) AS sx,
             CAST(SUM(CAST(rank AS HUGEINT) * x_u) AS HUGEINT) AS six
      FROM ranked GROUP BY 1)
    SELECT grp AS group_key, n_keys,
           CAST(sx AS BIGINT) AS total_micro,
           CASE WHEN sx > 0 THEN
             CAST((2 * six - CAST(n_keys + 1 AS HUGEINT) * sx) * 1000000
                  // (CAST(n_keys AS HUGEINT) * sx) AS BIGINT)
           END AS gini_ppm
    FROM m
    """


def salted_join(
    big: DataFrame,
    small: DataFrame,
    *,
    big_key: str,
    small_key: str,
    salt_src: Column | str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, REPLICATE the small side
    once per salt, join on (key, salt) — the replicate-fragment recipe
    for the case the module docstring defers to AQE: AQE's skew-join
    splits oversized post-shuffle partitions of a sort-merge join, but
    it can't help when the plan isn't SMJ (stream-batch joins, bucketed
    tables whose layout must be preserved), when a single KEY exceeds
    an executor even after splitting, or when the engine runs with AQE
    disabled. Salting fixes the layout itself: a key carrying K rows
    spreads over ``n_salts`` reducers regardless of runtime re-planning.

    Semantics are EXACTLY the plain ``big ⋈ small`` equi-join: every
    big row joins the one replica of its match that carries its salt
    (inner/left ONLY — under right/full the n_salts unmatched replicas
    of a small row would each null-extend, fabricating duplicates, so
    those modes raise). The salt is md5-derived from ``salt_src`` (a
    row-identity column of the big side) — deterministic, so retries
    and replays join identically; a NULL salt_src coalesces to salt 0
    (the row must still join — only its reducer placement is
    arbitrary); NULL big keys behave as in the plain join (inner
    drops, left preserves; a NULL never matches either way).

    Cost: the small side ships ``n_salts`` copies through the shuffle
    (choose n_salts ≈ the hot key's row count / a comfortable reducer
    size, not "big"); the big side ships once, exactly as unsalted.

    The replicated side carries a ``merge`` hint: if the optimizer
    chose broadcast there'd be no shuffle to salt (and no reason to
    call this operator), so the plan is pinned to the shuffled join
    the salt exists to spread — plan tests assert SortMergeJoin with
    the salt in the join keys.

    Returns the joined frame (salt dropped) for the caller to project/
    aggregate; column names pass through, so callers resolve their own
    collisions first."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_col = F.col(salt_src) if isinstance(salt_src, str) else salt_src
    b = big.withColumn(
        "_salt",
        F.coalesce(
            (md5_int64(salt_col.cast("string")) % n_salts).cast("int"),
            F.lit(0),
        ),
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    bb = b.withColumn("_bk", F.col(big_key))
    ss = s.withColumn("_sk", F.col(small_key))
    joined = bb.join(
        ss.hint("merge"),
        (bb["_bk"] == ss["_sk"]) & (bb["_salt"] == ss["_salt"]),
        how,
    )
    drop = [bb["_bk"], ss["_sk"], bb["_salt"], ss["_salt"]]
    for c in drop:
        joined = joined.drop(c)
    return joined


def join_cardinality_profile(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    top_k: int = 10,
) -> DataFrame:
    """Exact join-size profile BEFORE running the join — the planning
    pass behind every salting / broadcast / AQE-skew decision here:
    |A ⋈ B| on key k contributes c_A(k)·c_B(k) rows, so the per-key
    count frames (tiny) price the full join (potentially enormous)
    without materializing a single joined row. The operator answers
    the three planner questions in one pass: how big is the output
    (sum), which keys dominate it (top-k by contribution), and how
    skewed is it (share_ppm of the heavy keys — a single key holding
    >10% of a 10^12-row join output is the salting trigger,
    :func:`salted_join`'s documented use case).

    Output: one ``'__total__'`` row (rows_left/rows_right = full side
    counts, join_rows = exact |A ⋈ B|, share_ppm = 10^6) plus the
    ``top_k`` keys by contribution (ties broken by key ascending),
    each with its per-side counts and integer-ppm share of the join
    output. NULL keys are excluded (equi-joins drop them). Exactness:
    contributions accumulate as DECIMAL(38,0) products of BIGINT
    counts; the REPORTED join_rows CLAMPS to BIGINT max at the edge
    (LEAST(j, 2^63−1) on both engines — exact to 9.2·10^18 output
    rows, saturated above; a join bigger than that is the answer "do
    not run this join" regardless of the last digit). The clamp, not
    a bare cast, because the engines' overflow behaviors differ:
    Spark's non-ANSI DECIMAL→BIGINT cast NULLs while DuckDB's
    HUGEINT→BIGINT raises (ADVICE r10) — saturation is identical on
    both.

    Scale shape: two map-side-combinable per-key counts, one
    keys-sized equi-join (inner — only shared keys produce output),
    a TakeOrderedAndProject top-k (per-partition k-row prune, nothing
    keys-sized sorts globally), and a broadcast 1-row total. The raw
    tables are touched exactly once each, by counting scans."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    d38 = "decimal(38,0)"
    ca = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("ca"))
    )
    cb = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    contrib = ca.join(cb, "k").select(
        "k",
        "ca",
        "cb",
        (F.col("ca").cast(d38) * F.col("cb").cast(d38)).cast(d38).alias("j"),
    )
    tot = contrib.agg(
        F.coalesce(F.sum("j"), F.lit(0).cast(d38)).cast(d38).alias("jt")
    )
    sides = ca.agg(F.sum("ca").cast("long").alias("la")).crossJoin(
        F.broadcast(cb.agg(F.sum("cb").cast("long").alias("lb")))
    )
    top = (
        contrib.crossJoin(F.broadcast(tot))
        .orderBy(F.col("j").desc(), F.col("k").asc())
        .limit(top_k)
        .select(
            F.col("k").cast("string").alias("key"),
            F.col("ca").alias("rows_left"),
            F.col("cb").alias("rows_right"),
            F.least(F.col("j"), F.lit(2**63 - 1).cast(d38))
            .cast("long")
            .alias("join_rows"),
            F.when(
                F.col("jt") > 0,
                F.expr("cast(j * 1000000 div jt as long)"),
            ).alias("share_ppm"),
        )
    )
    total_row = sides.crossJoin(F.broadcast(tot)).select(
        F.lit("__total__").alias("key"),
        F.coalesce(F.col("la"), F.lit(0)).alias("rows_left"),
        F.coalesce(F.col("lb"), F.lit(0)).alias("rows_right"),
        F.least(F.col("jt"), F.lit(2**63 - 1).cast(d38))
        .cast("long")
        .alias("join_rows"),
        F.when(F.col("jt") > 0, F.lit(1000000).cast("long")).alias(
            "share_ppm"
        ),
    )
    return total_row.unionAll(top)


def sql_join_cardinality_profile(
    *,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    top_k: int = 10,
) -> str:
    """DuckDB oracle twin of :func:`join_cardinality_profile`."""
    return f"""
    WITH ca AS (
      SELECT {left_key} AS k, CAST(COUNT(*) AS BIGINT) AS ca
      FROM {left_table} WHERE {left_key} IS NOT NULL GROUP BY 1),
    cb AS (
      SELECT {right_key} AS k, CAST(COUNT(*) AS BIGINT) AS cb
      FROM {right_table} WHERE {right_key} IS NOT NULL GROUP BY 1),
    contrib AS (
      SELECT k, ca, cb, CAST(CAST(ca AS HUGEINT) * cb AS HUGEINT) AS j
      FROM ca JOIN cb USING (k)),
    tot AS (SELECT COALESCE(CAST(SUM(j) AS HUGEINT), 0) AS jt FROM contrib),
    sides AS (
      SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM ca) AS la,
             (SELECT CAST(SUM(cb) AS BIGINT) FROM cb) AS lb)
    SELECT '__total__' AS key,
           COALESCE(la, 0) AS rows_left, COALESCE(lb, 0) AS rows_right,
           CAST(LEAST(jt, CAST(9223372036854775807 AS HUGEINT)) AS BIGINT)
             AS join_rows,
           CASE WHEN jt > 0 THEN CAST(1000000 AS BIGINT) END AS share_ppm
    FROM sides CROSS JOIN tot
    UNION ALL
    SELECT * FROM (
      SELECT CAST(k AS VARCHAR) AS key, ca AS rows_left, cb AS rows_right,
             CAST(LEAST(j, CAST(9223372036854775807 AS HUGEINT)) AS BIGINT)
               AS join_rows,
             CASE WHEN jt > 0
                  THEN CAST(j * 1000000 // jt AS BIGINT) END AS share_ppm
      FROM contrib CROSS JOIN tot
      ORDER BY j DESC, k ASC
      LIMIT {top_k})
    """
