"""Similarity search over embedding columns (``array<float>``).

Three tiers, in increasing scale:

- **cosine_pairs** — all-pairs within a blocking key (dedup-style).
- **brute-force top-k** — Q query vectors × N corpus: broadcast the
  (small) query side, score map-side with exact-decimal cosine, take k per
  query with a window. At 100 TB the corpus scan is embarrassingly
  parallel; cost is Q·N scoring, fine for Q in the thousands.
- **hyperplane LSH / IVF** — the scale paths. LSH: deterministic
  pseudo-random ±1 hyperplanes (md5-derived, so oracle-replayable) give an
  r-bit signature; candidates share the signature bucket, exact cosine
  re-ranks. IVF: a coarse quantizer (label centroids here — at scale,
  k-means run offline) routes each query to its nprobe nearest partitions;
  only those partitions are scanned. Both convert all-pairs scoring into
  an equi-join on a bucket key — the same shuffle shape as LSH dedup.

All JVM-side; the only floats crossing engines go through the decimal-exact
primitives in functions/vectors.py.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.functions.hashing import md5_int64
from kinesis_stream_spark.functions.vectors import dot_decimal, norm_decimal
from kinesis_stream_spark.operators.lineage import pin


def cosine_pairs(
    emb: DataFrame,
    *,
    group_cols: list[str],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group_vectorized: int | None = 100_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold within blocking groups.

    One ``applyInPandas`` per group: the pairwise scoring runs as
    numpy block operations (Arrow batch in, int64 fixed-point
    accumulation, one IEEE divide per pair). Dense all-pairs scoring is
    a SIMD kernel problem, and the interpreted JVM higher-order-function
    path pays ~4× for it (measured at sf0.1: 7.9s → 1.9s). Only N
    vectors cross into Python — the P pairs are formed inside the
    kernel, never materialized as exchange rows. numpy's float64
    multiply/floor/sqrt/divide are the same IEEE-754 ops as the JVM's,
    so results are bit-identical to the JVM kernel
    (:func:`_cosine_pairs_jvm`) and to the DuckDB oracle (verified at
    sf0.01).

    Scale note: work is proportional to sum of group-size²; the
    blocking key bounds it. The numpy kernel also needs one group's
    vectors to fit one worker's memory, so it is guarded:
    groups above ``max_group_vectorized`` vectors are routed to the
    spill-safe JVM join path instead (an unexpectedly hot blocking key
    must degrade to a slower plan, not OOM an executor). The group
    sizes come from a window count over the same hash partitioning the
    kernel needs anyway — no extra shuffle, and the split never changes
    results, only which engine scores a group. Pass
    ``max_group_vectorized=None`` when the caller can BOUND group sizes
    from corpus statistics (e.g. a uniform blocking key): the window
    count is skipped entirely and the plan is just partition → kernel —
    the guard is insurance, and known-small groups shouldn't pay its
    ~20% window cost.

    Norms are computed once per vector, not per pair. cosine =
    dot/(na*nb) with single-IEEE-op tails — bit-identical everywhere.
    """
    base = emb.select(*group_cols, id_col, vec_col).repartition(*group_cols)
    if max_group_vectorized is None:
        return _cosine_pairs_vectorized(
            base,
            group_cols=group_cols,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
    gn = F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    tagged = base.withColumn("_gn", gn)
    small = tagged.where(F.col("_gn") <= max_group_vectorized).drop("_gn")
    big = tagged.where(F.col("_gn") > max_group_vectorized).drop("_gn")
    return _cosine_pairs_vectorized(
        small,
        group_cols=group_cols,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    ).unionByName(
        _cosine_pairs_jvm(
            big,
            group_cols=group_cols,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
    )


def _cosine_pairs_jvm(
    emb: DataFrame,
    *,
    group_cols: list[str],
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Pure-JVM self-join + fixed-point higher-order fns behind
    :func:`cosine_pairs` — streaming pair expansion, spill-safe for
    groups too large for the numpy kernel's in-memory materialization."""
    base = emb.select(
        *group_cols,
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_decimal(F.col(vec_col)).alias("nv"),
    )
    # The pair expansion multiplies work by group size, so parallelism of
    # the PROBE side must not be inherited from the (possibly single-
    # partition) input scan: a small-table scan in one task would score
    # every pair serially. Hash-spread rows by id first — an exchange of
    # N rows ahead of O(N·group) scoring is noise.
    x, y = base.repartition(F.col("id")).alias("x"), base.alias("y")
    cond = F.col("x.id") < F.col("y.id")
    for c in group_cols:
        cond = cond & (F.col(f"x.{c}") == F.col(f"y.{c}"))
    return (
        x.join(y, cond)
        .select(
            *[F.col(f"x.{c}").alias(c) for c in group_cols],
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            (
                dot_decimal(F.col("x.v"), F.col("y.v"))
                / (F.col("x.nv") * F.col("y.nv"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _cosine_pairs_vectorized(
    emb: DataFrame,
    *,
    group_cols: list[str],
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Grouped numpy kernel behind :func:`cosine_pairs` (see there)."""
    import numpy as np
    import pandas as pd

    from kinesis_stream_spark.functions.vectors import SCALE

    in_cols = [*group_cols, id_col, vec_col]
    group_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.select(group_cols).schema.fields)
    out_schema = f"{group_fields}, id_a long, id_b long, cosine double"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(columns=[*group_cols, "id_a", "id_b", "cosine"])
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        # identical arithmetic to dot_decimal/norm_decimal: IEEE double
        # products, floor to fixed-point int64, exact integer sum
        norms = np.sqrt(
            np.floor((V * V) * SCALE).astype(np.int64).sum(axis=1).astype(np.float64) / SCALE
        )
        frames = []
        for i in range(n - 1):
            prods = V[i] * V[i + 1 :]
            dots = (
                np.floor(prods * SCALE).astype(np.int64).sum(axis=1).astype(np.float64)
                / SCALE
            )
            cos = dots / (norms[i] * norms[i + 1 :])
            mask = cos >= threshold
            if mask.any():
                frame = {c: pdf[c].iloc[0] for c in group_cols}
                frame.update(
                    {"id_a": ids[i], "id_b": ids[i + 1 :][mask], "cosine": cos[mask]}
                )
                frames.append(pd.DataFrame(frame))
        if not frames:
            return pd.DataFrame(columns=[*group_cols, "id_a", "id_b", "cosine"])
        return pd.concat(frames, ignore_index=True)

    # caller (cosine_pairs) already hash-partitioned by group_cols; the
    # groupBy reuses that distribution rather than re-exchanging
    return emb.select(*in_cols).groupBy(*group_cols).applyInPandas(pairs, out_schema)


def _scored_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Shared exact scoring prologue for :func:`topk_bruteforce` and
    :func:`range_search`: broadcast the queries (with precomputed
    norms), map-side nested-loop join excluding self-matches, one
    fixed-point dot + single-IEEE-op cosine per pair. One definition
    so the two query APIs can never drift onto different arithmetic."""
    q = queries.select(
        F.col("query_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_decimal(F.col("embedding")).alias("nq"),
    )
    return corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm_decimal(F.col("embedding")).alias("nc"),
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        (dot_decimal(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("cosine"),
    )


def topk_bruteforce(corpus: DataFrame, queries: DataFrame, *, k: int = 10) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine.

    ``broadcast(queries)`` makes the scoring a map-side nested loop over
    the corpus (no shuffle for the join); the per-query top-k window is
    the single shuffle, on the (small-cardinality) query id.
    """
    scored = _scored_pairs(corpus, queries)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: hyperplane-LSH signature bits
NUM_PLANES = 8


def hyperplane_signature(vec, *, dim: int = 64):
    """``NUM_PLANES``-bit LSH signature string: bit_p = sign(<v, plane_p>) with ±1
    plane components derived from md5 parity — fully deterministic and
    engine-replayable (no RNG, no stored plane matrix).

    sign component i of plane p = +1 if md5_int64("hp|p_i") is even.
    The dot with a ±1 plane is an exact float sum in double (each term a
    float promoted exactly), folded sequentially like functions/vectors.

    Implementation: plane = one array<double> literal, dot = zip_with +
    sequential aggregate. The fold order (((0+t0)+t1)+...) is identical
    to a chained-add expression, but the plan is NUM_PLANES small nodes
    instead of NUM_PLANES*dim chained Adds — the chained form blew past
    codegen method limits and fell back to interpreted projection.
    """
    bits = []
    for p, signs in enumerate(plane_signs(dim)):
        prods = F.zip_with(vec, F.lit(signs), lambda x, s: x.cast("double") * s)
        acc = F.aggregate(prods, F.lit(0.0), lambda a, t: a + t)
        bits.append(F.when(acc >= 0, "1").otherwise("0"))
    return F.concat(*bits)


import hashlib  # noqa: E402


def _plane_sign(p: int, i: int) -> bool:
    """Python-side mirror of md5-parity plane components (used to build
    both the Spark expression and the DuckDB oracle)."""
    h = hashlib.md5(f"hp|{p}_{i}".encode()).hexdigest()
    return int(h[:15], 16) % 2 == 0


def plane_signs(dim: int = 64) -> list[list[float]]:
    return [
        [1.0 if _plane_sign(p, i) else -1.0 for i in range(dim)]
        for p in range(NUM_PLANES)
    ]


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share the full hyperplane-signature
    bucket; exact cosine re-ranks inside the bucket.

    Scale shape: corpus signatures are map-side; the candidate join is an
    equi-join on an 8-bit bucket (≈1/256 of all pairs scored). Recall is
    tunable via fewer planes / multi-probe; this is the documented
    accuracy/cost dial vs topk_bruteforce.
    """
    sig = lambda c: hyperplane_signature(c, dim=dim)  # noqa: E731
    corp = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm_decimal(F.col("embedding")).alias("nc"),
        sig(F.col("embedding")).alias("bucket"),
    )
    q = queries.select(
        F.col("query_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_decimal(F.col("embedding")).alias("nq"),
        sig(F.col("embedding")).alias("bucket"),
    )
    scored = corp.join(F.broadcast(q), ["bucket"]).where(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot_decimal(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: Fixed-point scale for centroid-sum accumulation: floor(x * 10^12) has
#: no tie-breaking semantics to diverge on (a double→DECIMAL cast rounds
#: HALF_UP over the double's exact binary expansion in Spark but over the
#: IEEE value in DuckDB — any x landing on a scale-12 tie, e.g. odd
#: multiples of 2^-13, would split the engines). 1e12 is a power of ten
#: exactly representable in double, so x * CENTROID_SCALE is one IEEE op
#: on both engines. Sums accumulate as DECIMAL(38,0) integers: exact,
#: order-independent, with headroom for ~1e26 unit-scale rows per group.
CENTROID_SCALE = 10**12


def _centroid_sums(i: int, vec_col: str = "embedding"):
    """floor-fixed-point element sum expression (see CENTROID_SCALE)."""
    return F.sum(
        F.floor(
            F.element_at(vec_col, i + 1).cast("double") * F.lit(float(CENTROID_SCALE))
        ).cast("decimal(38,0)")
    ).alias(f"s{i}")


def _centroid_mean(i: int):
    """mean element from a fixed-point sum: cast (correctly rounded on
    both engines), then two sequential IEEE divides."""
    return F.col(f"s{i}").cast("double") / F.lit(float(CENTROID_SCALE)) / F.col("n")


def label_centroids(emb: DataFrame, *, dim: int = 64) -> DataFrame:
    """IVF coarse quantizer: per-label mean vector with exact fixed-point
    element sums (order-independent, tie-free; see CENTROID_SCALE). At
    scale: k-means offline, stored as a broadcastable table partitioning
    the corpus."""
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *_centroid_sum_cols(dim, "embedding"),
    )
    return sums.select("label", _centroid_mean_array(dim).alias("centroid"))


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    dim: int = 64,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: route each query to its ``nprobe`` nearest label
    centroids (by dot product), scan only those partitions, exact cosine
    re-rank. Partition pruning is the 100 TB win: nprobe/nlist of the
    corpus is read instead of all of it. Pass ``centroids`` (a
    (label, centroid) frame) to reuse a quantizer across calls — a
    deployment computes it once, and the nprobe sweep would otherwise
    re-aggregate it per setting."""
    cents = label_centroids(corpus, dim=dim) if centroids is None else centroids
    q = queries.select(
        F.col("query_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    routed = q.join(F.broadcast(cents)).select(
        "query_id", "qv", "label", dot_decimal(F.col("qv"), F.col("centroid")).alias("score")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("label"))
    probes = routed.withColumn("pr", F.row_number().over(wr)).where(F.col("pr") <= nprobe)
    scored = corpus.withColumn("nc", norm_decimal(F.col("embedding"))).join(
        F.broadcast(
            probes.select("query_id", "qv", F.col("label"), norm_decimal(F.col("qv")).alias("nq"))
        ),
        ["label"],
    ).where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot_decimal(F.col("qv"), F.col("embedding")) / (F.col("nq") * F.col("nc"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_recall(approx: DataFrame, exact: DataFrame, *, k: int = 10) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    per query, |approx ∩ exact| / |exact| over neighbor ids.

    The quality gauge for any ANN deployment (LSH bits, IVF nprobe are
    recall/cost knobs — this measures what a setting buys). Both inputs
    are (query_id, neighbor_id, rank) shapes from the topk_* operators.
    Scale: both sides are already reduced to k rows per query, so the
    intersection join and the per-query aggregate are O(k·Q) — noise
    next to producing the inputs.
    """
    a = approx.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    e = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = a.join(e, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    totals = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return totals.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        "n_exact",
        (
            F.coalesce("n_hits", F.lit(0).cast("long")).cast("double")
            / F.col("n_exact")
        ).alias("recall"),
    )


def ivf_recall_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    nprobes: tuple[int, ...] = (1, 2, 4),
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Recall@k of IVF search as a function of ``nprobe`` — one row per
    setting: (nprobe, n_hits, n_exact, recall), micro-averaged over the
    query batch (exact integer hit counts, ONE final IEEE divide — a
    per-query AVG of double recalls would be accumulation-order
    sensitive and engine-divergent).

    This is the operator an IVF deployment actually runs at tuning
    time: the cost axis is nprobe/nlist of the corpus scanned per
    query, the quality axis is this curve, and the knee is the setting
    you ship. Scale: each sweep point is one topk_ivf run (partition-
    pruned); the recall joins are O(k·Q) — noise next to producing the
    rankings.
    """
    # the exact truth, the quantizer, and the exact-total aggregate are
    # sweep-invariant: materialize the k·Q-row truth and the nlist-row
    # quantizer ONCE (r12 — the ivfpq_recall_sweep precedent; both
    # frames are tiny and their subtrees contain their own shuffles:
    # the corpus-scoring window sort and the centroid aggregate).
    # Without the cuts the bruteforce scoring re-executes once per
    # sweep point plus once for the totals, and each topk_ivf call
    # re-aggregates the centroids for its broadcast. Intra-query
    # lineage cuts, recomputed from parquet every call.
    exact = pin(topk_bruteforce(corpus, queries, k=k).select("query_id", "neighbor_id"))
    cents = pin(label_centroids(corpus, dim=dim))
    totals = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    parts = []
    for nprobe in nprobes:
        approx = topk_ivf(
            corpus,
            queries,
            k=k,
            nprobe=nprobe,
            dim=dim,
            centroids=cents,
        ).select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        parts.append(
            hits.crossJoin(totals).select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                "n_hits",
                "n_exact",
                (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@lru_cache(maxsize=32)
def _centroid_sum_cols(dim: int, vec_col: str) -> tuple:
    """Memoized tuple of the per-dimension fixed-point sum aggregates.
    Column objects are immutable unresolved expression trees keyed by
    column NAME, so one construction serves every plan that aggregates
    a ``vec_col`` of this width — rebuilding them per call cost ~0.5 s
    of py4j round-trips per Lloyd iteration (r12 measurement)."""
    return tuple(_centroid_sums(i, vec_col) for i in range(dim))


@lru_cache(maxsize=32)
def _centroid_mean_array(dim: int) -> Column:
    """Memoized mean-vector projection over ``_centroid_sum_cols``
    output (same py4j-amortization argument)."""
    return F.array(*[_centroid_mean(i) for i in range(dim)])


def _double_lit(x: float) -> str:
    """A Spark-SQL double literal that round-trips ``x`` exactly:
    ``repr`` emits the shortest decimal string that parses back to the
    identical IEEE double (both Spark's and DuckDB's parsers are
    correctly rounded), so injecting collected training artifacts as
    literals preserves bit-exact parity with the lazy-plan form."""
    return f"{x!r}D"


def centroid_rows_sql_array(cents: list[tuple[int, list[float]]]) -> str:
    """SQL text for an ``array<struct<cid int, centroid array<double>>>``
    literal holding driver-side centroids — the injection point that
    turns centroid assignment into a map-only expression (no join, no
    window, no shuffle)."""
    entries = ", ".join(
        "named_struct('cid', {c}, 'centroid', array({vs}))".format(
            c=int(cid), vs=", ".join(_double_lit(float(x)) for x in vec)
        )
        for cid, vec in cents
    )
    return f"array({entries})"


def _cents_array_expr(cents: list[tuple[int, list[float]]]) -> Column:
    return F.expr(centroid_rows_sql_array(cents))


_ARTIFACT_LITERALS = {
    "int": str,
    "bigint": lambda n: f"{n}L",
    "array<double>": lambda v: "array(%s)" % ", ".join(_double_lit(float(x)) for x in v),
}


def artifact_frame(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """A trained artifact (centroids, codebooks) as an inline ``VALUES``
    table over ``schema`` (``"name type, ..."``). Spark plans it as a
    LocalRelation and folds projections into it, so collecting it — also
    after a ``.select`` — runs no job, and the doubles come back
    bit-exact (:func:`_double_lit`). An inline table cannot be empty, so
    an empty artifact is one typed NULL row under ``LIMIT 0``."""
    cols = [c.split(" ", 1) for c in schema.split(", ")]
    values = [
        "(%s)" % ", ".join(_ARTIFACT_LITERALS[t](x) for (_n, t), x in zip(cols, row))
        for row in rows
    ] or ["(%s)" % ", ".join(f"CAST(NULL AS {t})" for _n, t in cols)]
    return spark.sql(
        "SELECT * FROM VALUES %s AS t(%s)%s"
        % (", ".join(values), ", ".join(n for n, _t in cols), "" if rows else " LIMIT 0")
    )


def best_centroid_struct(cents_arr: Column, v: Column) -> Column:
    """The winning (score, nc, centroid) struct for vector ``v`` over a
    centroid struct-array: score is the training metric
    ``2·v·c − c·c`` (exact fixed-point dots, the identical expression
    the windowed form computed per joined row), and struct-max ordering
    on (score, nc = −cid) breaks score ties to the LOWER cid — the same
    winner as ``row_number() OVER (ORDER BY score DESC, cid ASC)``.
    Map-only: no explode, no join, no shuffle. NULL iff the array is
    empty."""
    return F.array_max(
        F.transform(
            cents_arr,
            lambda c: F.struct(
                (
                    2 * dot_decimal(v, c["centroid"])
                    - dot_decimal(c["centroid"], c["centroid"])
                ).alias("score"),
                (-c["cid"]).alias("nc"),
                c["centroid"].alias("centroid"),
            ),
        )
    )


def argmax_cid(cents_arr: Column, v: Column) -> Column:
    """cid of the best-scoring centroid (ties to the lower cid)."""
    return (-best_centroid_struct(cents_arr, v)["nc"]).cast("int")


def _subvector(vec: Column, sub: int, subdim: int) -> Column:
    """Slice subspace ``sub`` (0-based) out of a flat embedding array —
    1-based ``slice``, pure JVM, no explode."""
    return F.slice(vec, sub * subdim + 1, subdim)


def _exploded_subvectors(
    corpus: DataFrame,
    m: int,
    subdim: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, *passthrough, sub, subv): M rows per vector, built with one
    explode over a plan-time array of slices. ``passthrough`` columns
    ride along unchanged — the single place the subspace-slicing
    convention lives (an OPQ-style rotation would change only this)."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub"),
                _subvector(F.col("embedding"), j, subdim).alias("subv"),
            )
            for j in range(m)
        ]
    )
    return corpus.select(
        F.col("vec_id").alias("vid"), *passthrough, F.explode(subs).alias("s")
    ).select("vid", *passthrough, "s.sub", "s.subv")


def lloyd_rows(
    emb: DataFrame,
    *,
    m: int,
    k: int,
    dim: int,
    iterations: int,
) -> list[tuple[int, int, int, list[float]]]:
    """Driver-iterated deterministic Lloyd's k-means in each of the ``m``
    subspaces of ``dim``-wide vectors: flat k-means is ``m=1``, and
    product quantization trains its ``m`` codebooks in this one chain.
    The MLlib shape — per round ONE map-only assignment pass over the
    corpus feeding one (sub, cid)-grouped aggregate that is collected to
    the driver (m·k rows, O(k·dim) doubles, corpus-independent) and
    re-injected as literals for the next round. No per-round corpus
    shuffle, no lineage growth.

    Everything an RNG would decide is md5-derived, so the oracles replay
    it bit for bit:

    - seeds: the k rows with the smallest (md5(id), id) —
      TakeOrderedAndProject, never a global sort; cid = rank order, and
      every subspace seeds from slices of the same rows;
    - assignment: argmax of ``2·v·c − c·c`` with exact fixed-point dots,
      ties to the lower cid (:func:`best_centroid_struct`);
    - update: floor-fixed-point means; the collected doubles round-trip
      exactly (py4j doubles are IEEE-exact both ways).

    Empty clusters produce no stats row and drop out of the next round's
    literal array (k shrinks). With ``m=1`` each vector is assigned
    whole: no explode, no per-row pick of the subspace's centroids.

    Returns the final iteration's [(sub, cid, n_members, centroid)]
    sorted by (sub, cid); [] for an empty corpus.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    subdim = dim // m
    seed_rows = (
        emb.select(
            F.col("vec_id").alias("sid"),
            F.col("embedding").alias("sv"),
            md5_int64(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "sid")
        .limit(k)
        .collect()
    )
    seeds = [[float(x) for x in r["sv"]] for r in seed_rows]
    books = {
        j: [(i, sv[j * subdim : (j + 1) * subdim]) for i, sv in enumerate(seeds)]
        for j in range(m)
    }
    if m == 1:
        points = emb.select(F.lit(0).alias("sub"), F.col("embedding").alias("subv"))
    else:
        points = _exploded_subvectors(emb, m, subdim).select("sub", "subv")
    rows: list[tuple[int, int, int, list[float]]] = []
    for _ in range(iterations):
        # every corpus row assigns to one cluster per subspace, so the
        # books run dry only for an empty corpus, whose seeds were empty
        if not books[0]:
            return []
        arrays = [centroid_rows_sql_array(books[j]) for j in range(m)]
        if m == 1:
            cents = F.expr(arrays[0])
        else:
            cents = F.get(F.expr("array(%s)" % ", ".join(arrays)), F.col("sub"))
        cid = argmax_cid(cents, F.col("subv"))
        stats = (
            points.select("sub", cid.alias("cid"), "subv")
            .where(F.col("cid").isNotNull())
            .groupBy("sub", "cid")
            .agg(F.count(F.lit(1)).alias("n"), *_centroid_sum_cols(subdim, "subv"))
            .select("sub", "cid", "n", _centroid_mean_array(subdim).alias("centroid"))
        )
        rows = sorted(
            (
                (r["sub"], r["cid"], r["n"], [float(x) for x in r["centroid"]])
                for r in stats.collect()
            ),
            key=lambda t: (t[0], t[1]),
        )
        books = {j: [(c, cent) for s, c, _n, cent in rows if s == j] for j in range(m)}
    return rows


def kmeans_fit(
    emb: DataFrame,
    *,
    k: int = 4,
    dim: int = 64,
    iterations: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means — the offline training step for the
    IVF coarse quantizer (topk_ivf routes against label centroids at
    test SF; a real deployment trains these on a corpus sample, which is
    exactly this operator).

    Everything an RNG would normally decide is md5-derived so the run is
    reproducible AND replayable by the SQL oracle:

    - init: the k vectors with the smallest md5(id) (deterministic,
      uniformly spread over the corpus);
    - assignment: argmin distance via argmax of ``2·v·c − c·c`` (the
      ``v·v`` term is constant per vector) — dot products in exact
      fixed-point (functions/vectors.py), ties broken by centroid id;
    - update: per-dimension means from exact floor-fixed-point sums
      (CENTROID_SCALE — tie-free, unlike a double→DECIMAL cast).

    Fixed ``iterations`` (no convergence check) keeps the computation
    finite and oracle-replayable. The iteration is driven from the
    driver (:func:`lloyd_rows` — MLlib's shape): each round is one
    map-only assignment + k-row collected aggregate, so there is NO
    per-round corpus shuffle, and the result is an
    :func:`artifact_frame` — a local relation that consumers collect
    without a job. Empty clusters drop out (k shrinks), identically on
    both engines.

    Returns (cid, n_members, centroid) from the final iteration.
    """
    rows = lloyd_rows(emb, m=1, k=k, dim=dim, iterations=iterations)
    return artifact_frame(
        emb.sparkSession,
        "cid int, n_members bigint, centroid array<double>",
        [(c, n, cent) for _s, c, n, cent in rows],
    )


def collect_cent_rows(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """(cid, centroid) rows sorted by cid — no job when ``cents`` is (a
    projection of) an :func:`artifact_frame`, otherwise one k-row
    collect job."""
    return sorted(
        (
            (r["cid"], [float(x) for x in r["centroid"]])
            for r in cents.select("cid", "centroid").collect()
        ),
        key=lambda t: t[0],
    )


def assign_to_centroids(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid by the training
    metric (argmax of ``2·v·c − c·c``, fixed-point dots, ties to the
    lower cid) — the shared step between IVF indexing and semantic
    dedup. Returns (vid, v, cid).

    r12 shape: the k-row centroid frame is collected (no job when it is
    the artifact frame :func:`kmeans_fit` returns; otherwise one k-row
    job) and injected as a literal array, making assignment a
    map-only projection — the previous broadcast join + N·k-row
    row_number window shuffled the whole corpus (×k, carrying the
    vectors) into a sort at every call site. Same winner per row: the
    struct-max tie-breaks score ties to the lower cid exactly as the
    window's ORDER BY did."""
    rows = collect_cent_rows(cents)
    v = corpus.select(F.col(id_col).alias("vid"), F.col("embedding").alias("v"))
    if not rows:
        return v.where(F.lit(False)).select(
            "vid", "v", F.lit(None).cast("int").alias("cid")
        )
    cid = argmax_cid(_cents_array_expr(rows), F.col("v"))
    return (
        v.select("vid", "v", cid.alias("cid"))
        .where(F.col("cid").isNotNull())
    )


def cluster_balance(emb: DataFrame, *, k: int = 4, dim: int = 64) -> DataFrame:
    """Inverted-list balance diagnostics for a trained IVF index: per-
    cluster member counts/fractions plus the global imbalance factor
    ``k_actual · Σn² / N²`` (the standard FAISS-style metric — 1.0 for
    perfectly even lists, → k when one list holds everything). This is
    the number that predicts IVF query latency: probe cost is
    list-length-bound, so a balance of 3 means worst-case probes scan 3×
    the even-split estimate, and the fix (re-train with larger k, or
    split hot lists) is decided from exactly this table.

    Shape: train (2 Lloyd rounds) + assign (the operators above), then
    one k-row count aggregate; the totals are a single-row aggregate of
    the k-row frame cross-joined back — everything after the assignment
    argmax is driver-trivial (≤ k rows). Arithmetic: integer counts, Σn² as an
    exact order-independent DECIMAL(38,0) sum (a BIGINT n² would wrap
    past n ≈ 3·10⁹ members in one list — reachable under 100 TB skew;
    DuckDB's HUGEINT sum is the same exact integer), then the ratio in
    IEEE doubles (counts are exact in double to 2^53) — the same three
    float ops on both engines, no divergence surface.
    """
    cents = kmeans_fit(emb, k=k, dim=dim, iterations=2).select("cid", "centroid")
    sizes = (
        assign_to_centroids(emb, cents)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    totals = sizes.agg(
        F.sum("n_members").alias("_n_total"),
        F.sum(
            F.col("n_members").cast("decimal(19,0)")
            * F.col("n_members").cast("decimal(19,0)")
        ).alias("_sum_sq"),
        F.count(F.lit(1)).alias("_k_actual"),
    )
    nt_d = F.col("_n_total").cast("double")
    return sizes.join(F.broadcast(totals)).select(
        "cid",
        "n_members",
        (F.col("n_members").cast("double") / nt_d).alias("list_frac"),
        (
            F.col("_sum_sq").cast("double")
            / (nt_d * nt_d)
            * F.col("_k_actual").cast("double")
        ).alias("imbalance"),
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    threshold: float = 0.3,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space with deterministic k-means (4 clusters,
    2 Lloyd rounds), score cosine
    pairs ONLY within clusters, collapse the pair graph into connected
    components, and mark every non-canonical member droppable. Returns
    (vec_id, canonical_id) — the drop list; survivors are everything
    else.

    This is the composition the paper runs at corpus scale and each
    piece is this module's existing operator: the clustering bounds the
    quadratic term exactly like a blocking key (no all-pairs scoring
    across the corpus), the per-cluster kernel is the guarded
    cosine_pairs path, and the transitive A~B~C case resolves through
    the same min-label propagation text dedup uses. At 100 TB: train on
    a sample, write the assignment once (partition by cid), and the
    per-cluster pair scan parallelizes per inverted list.

    Bench note (round-11 adjudication of the r9→r10 8.7→11.0 s drift,
    sf0.1 local[32] idle host, fresh process, gc between reps): SOLO
    min-of-3 = 11.99 s (reps 27.0/13.0/12.0) — matching the r10
    full-suite 11.0 s; r10 is the steady state, the r9 number was
    favorable session context (the graph_modularity adjudication's
    twin — see operators/graph.py:modularity). Code untouched since
    r8.
    """
    from kinesis_stream_spark.operators.dedup import connected_components

    cents = kmeans_fit(emb, k=4, dim=dim, iterations=2).select("cid", "centroid")
    assigned = assign_to_centroids(emb, cents)
    # guard window skipped: k-means clusters are size-bounded by
    # construction (~N/k); a deployment with pathological cluster skew
    # re-trains with larger k before dedup anyway
    pairs = cosine_pairs(
        assigned,
        group_cols=["cid"],
        threshold=threshold,
        id_col="vid",
        vec_col="v",
        max_group_vectorized=None,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        comp.where(F.col("v") != F.col("comp"))
        .select(F.col("v").alias("vec_id"), F.col("comp").alias("canonical_id"))
    )


def topk_ivf_trained(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """IVF search over a TRAINED index: k-means centroids from
    :func:`kmeans_fit` (4 clusters, 2 Lloyd rounds) replace the label
    partitions of :func:`topk_ivf` — the full train → assign → route →
    scan loop of a real deployment.

    The corpus is assigned to its nearest trained centroid (same
    fixed-point argmax rule as training, so the index is exactly the
    clustering the final Lloyd round produced); each query routes to
    its 2 best centroids by the same metric and scans only
    those inverted lists. At 100 TB the assignment is written once
    (partition the corpus by cid) and only this search path runs per
    query batch.
    """
    cents = kmeans_fit(corpus, k=4, dim=dim, iterations=2).select("cid", "centroid")
    score = (
        2 * dot_decimal(F.col("v"), F.col("centroid"))
        - dot_decimal(F.col("centroid"), F.col("centroid"))
    ).alias("score")
    assigned = assign_to_centroids(corpus, cents)
    q = queries.select(
        F.col("query_id").alias("query_id"), F.col("embedding").alias("v")
    )
    w_route = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cid"))
    probes = (
        q.join(F.broadcast(cents))
        .select(F.col("query_id"), F.col("v").alias("qv"), "cid", score)
        .withColumn("pr", F.row_number().over(w_route))
        .where(F.col("pr") <= 2)
        .select("query_id", "qv", "cid", norm_decimal(F.col("qv")).alias("nq"))
    )
    scored = (
        assigned.withColumn("nc", norm_decimal(F.col("v")))
        .join(F.broadcast(probes), ["cid"])
        .where(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            (
                dot_decimal(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nc"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- SQ8 scalar quantization --------------------------------------------------


def sq8_codes(emb: DataFrame, *, dim: int = 64) -> DataFrame:
    """Per-dimension scalar quantization (FAISS SQ8-style): one corpus
    pass learns [min, max] per dimension, then each float collapses to
    an 8-bit code ``floor((x-min)/(max-min)*255)`` clamped to [0,255].
    16 GB of float32 embeddings become 4 GB of codes — the memory/IO
    lever that lets a 100 TB corpus's vectors fit a scan budget — and
    all downstream scoring is INTEGER arithmetic: exact, overflow-free
    (64 · 255² ≪ 2⁶³), order-independent, reproducible everywhere.

    The stats row is a single 1-row aggregate broadcast to the encode
    map — no shuffle of the corpus. A constant dimension (max == min)
    encodes to 0 everywhere. The division/multiply chain runs in double
    with a fixed expression tree, so codes are bit-identical across
    engines; every op after this function is on BIGINTs.
    """
    stats = emb.agg(
        F.array(
            *[F.min(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mn"),
        F.array(
            *[F.max(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mx"),
    )
    code = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            F.element_at(F.col("mx"), i + 1) == F.element_at(F.col("mn"), i + 1),
            F.lit(0).cast("bigint"),
        ).otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (x.cast("double") - F.element_at(F.col("mn"), i + 1))
                        / (
                            F.element_at(F.col("mx"), i + 1)
                            - F.element_at(F.col("mn"), i + 1)
                        )
                        * 255.0
                    ),
                    F.lit(0),
                ),
                F.lit(255),
            ).cast("bigint")
        ),
    )
    return emb.crossJoin(F.broadcast(stats)).select(
        F.col("vec_id"), code.alias("codes")
    )


def topk_sq8(
    emb: DataFrame,
    queries_ids: DataFrame,
    *,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Top-k per query by quantized integer dot product over SQ8 codes —
    the compressed-domain scoring pass of an SQ8 deployment (scan codes,
    rank by int score; re-rank survivors at full precision only if the
    application needs true cosines). Same broadcast-queries map-side
    scan + single query-keyed shuffle as the exact brute force; the
    score is a BIGINT, so ranking has no float ties for engines to
    break differently.
    """
    codes = sq8_codes(emb, dim=dim)
    q = codes.join(
        queries_ids.select(F.col("vec_id")), "vec_id", "left_semi"
    ).select(F.col("vec_id").alias("query_id"), F.col("codes").alias("qc"))
    score = F.aggregate(
        F.zip_with(F.col("qc"), F.col("codes"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = codes.select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", score.alias("qscore")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qscore"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qscore", "rank")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    threshold: float,
) -> DataFrame:
    """Exact RANGE search per query vector — every corpus neighbor
    with cosine ≥ ``threshold`` — the other half of the vector-store
    query API next to :func:`topk_bruteforce`: top-k answers "the
    best k whatever they look like" (recommendation), range answers
    "everything at least this similar" (dedup candidates, abuse
    clusters, recall-complete retrieval), and no k bounds its output.

    Same exact arithmetic as the top-k path (fixed-point dot, single-
    IEEE-op cosine tail, identical on both engines), but a strictly
    SIMPLER plan: broadcast(queries) makes scoring a map-side nested
    loop over the corpus and the threshold is a map-side filter — NO
    window, NO shuffle at all; the operator is embarrassingly
    parallel and output-bounded only by how many neighbors truly
    qualify (the caller's threshold is the knob). The operator
    returns the filtered frame UNORDERED — presentation order, e.g.
    (query_id, cosine desc, neighbor_id), is the caller's job (the
    similarity_range_search registration adds it at the edge), so the
    map-side plan never pays a sort it doesn't need. Self-matches are
    excluded like the top-k path.

    At 100 TB: the scan-heavy exact form is the verification baseline;
    the production path routes through the IVF/LSH bucket structures
    and applies the SAME threshold inside buckets — identical
    semantics on the candidates, same recall caveats as their top-k
    variants."""
    scored = _scored_pairs(corpus, queries)
    return scored.where(F.col("cosine") >= F.lit(threshold))
