"""Product quantization (PQ) for embedding compression + ADC search.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each D-dim vector into M orthogonal
subvectors, k-means each subspace independently (ksub centroids), and
store a vector as M small centroid ids — D·4 bytes become M bytes at
ksub ≤ 256. Search runs in the compressed domain via asymmetric
distance computation (ADC): the query stays full-precision, each
(subspace, centroid) contribution is precomputed once per query, and a
database vector's score is M table lookups summed.

Spark-first shapes, same determinism discipline as the rest of the
repo (everything replayable by a DuckDB oracle when this graduates to
the query inventory):

- **train**: the shared Lloyd loop (:func:`~kinesis_stream_spark.
  operators.similarity.lloyd_rows`, whose one-subspace case is flat
  k-means) runs all M subspaces in one driver-iterated chain —
  md5-derived seeding, exact fixed-point dots, floor-fixed-point
  centroid means.
- **encode**: explode each vector into its M subvectors (M rows per
  vector), broadcast the (M·ksub)-row codebook, per-(vector, subspace)
  argmax window, fold the winning ids back into one ``array<int>``.
  Map-side cost only — the corpus shuffles once, at M-rows-per-vector
  width, carrying subvectors of D/M floats.
- **ADC top-k**: the per-query lookup table (Q·M·ksub rows — queries
  are few by contract, same as brute-force) broadcasts; exploded codes
  equi-join it on (subspace, code), and the per-(query, vector) sum is
  a map-side-combinable aggregate followed by a per-query top-k
  window. The full-precision corpus is never touched at search time —
  that is the point of PQ.

The ADC score convention matches the IVF/k-means training metric
(argmax of ``2·v·c − c·c``): summed over subspaces it equals
``2·q·v̂ − ‖v̂‖²`` for the reconstruction ``v̂`` exactly, because
subspaces occupy disjoint coordinate slots — so ADC ranking is EXACT
scoring of reconstructed vectors, and quantization error is the only
approximation (pinned by a numpy-replay test).

Bench note (round-10 adjudication of the round-9 ivfpq drift,
setjoin-precedent dual-context measurement, sf0.1 local[32] idle
host, min-of-3): the family's cost is ORDER-SENSITIVE because the
first family member run in a session absorbs ~4–6 s of shared warmup
(training-chain codegen + embeddings reader init) that the lineitem
noop warm-up does not cover. Solo sweep with ivfpq_topk first:
topk 17.0 / census 13.7 / rerank 13.4 / pruned 14.7 / sweep 15.2 s;
the SAME binaries with the order reversed: sweep 19.2 / pruned 19.5 /
rerank 13.9 / census 11.1 / topk 12.7 s — topk at 12.7 s matches its
r8 full-suite number exactly. Conclusion: the r8→r9 "+17%/+22%" on
topk/census was measurement context (29% more co-resident queries +
alphabetical ordering placing different family members first), not a
plan change; the family's code and explain output are untouched since
r8 except the +91-line pruned variant.

Round-12 adjudication of the round-11 `pruned_topk` drift (14.96 →
25.81 s in the r11 suite run, the one mover above the calibrated 1.5×
band): solo fresh-process min-of-3 with gc between reps (all-table
warm-up, sf0.1 local[32] idle host) measured reps 24.57 / 14.55 /
15.40 — min 14.55 s, matching the r10 full-suite 14.96 s on code and
plan untouched since r8. Rep 1's 24.6 s shows the ~10 s family
warm-up landing on the first member even solo; in r11's sorted suite
order `pruned_topk` ran after `nprobe_sweep` had already absorbed it,
so the +10.8 s there was session-context (predecessor checkpoint /
broadcast residue), not code. Verdict: NO regression — steady-state
cost is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.vectors import SCALE, _fixed_sum, dot_decimal
from kinesis_stream_spark.operators.lineage import pin
from kinesis_stream_spark.operators.similarity import (
    _cents_array_expr,
    _exploded_subvectors,
    _subvector,
    argmax_cid,
    artifact_frame,
    best_centroid_struct,
    collect_cent_rows,
    lloyd_rows,
)


def _dot_fx(a: Column, b: Column) -> Column:
    """Raw fixed-point dot product (BIGINT, pre-scale): the ADC
    aggregation sums these exactly — summing the per-subspace DOUBLE
    contributions instead would be partition-order-sensitive."""
    return _fixed_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def pq_train(
    emb: DataFrame,
    *,
    m: int = 4,
    ksub: int = 4,
    dim: int = 64,
    iterations: int = 2,
) -> DataFrame:
    """Train the PQ codebook: (sub, cid, n_members, centroid) with one
    deterministic Lloyd run per subspace, all M in one driver-iterated
    chain (:func:`~kinesis_stream_spark.operators.similarity.
    lloyd_rows`). Every subspace's codebook is bit-identical to a
    separate flat k-means on its slice. At 100 TB train
    on a hash sample (``stratified_sample``) exactly as the IVF runbook
    prescribes — the codebook is M·ksub rows regardless of corpus
    size, returned as an :func:`~kinesis_stream_spark.operators.
    similarity.artifact_frame` (the training artifact a deployment
    would write to a table): downstream consumers need no lineage cut
    and collect it without a job."""
    rows = lloyd_rows(emb, m=m, k=ksub, dim=dim, iterations=iterations)
    return artifact_frame(
        emb.sparkSession, "sub int, cid int, n_members bigint, centroid array<double>", rows
    )


def _collect_books(codebook: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """sub → [(cid, centroid)] sorted, from a (sub, cid, centroid)
    codebook frame — no job when it is (a projection of) the
    :func:`~kinesis_stream_spark.operators.similarity.artifact_frame` a
    trainer returns."""
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in sorted(
        codebook.select("sub", "cid", "centroid").collect(),
        key=lambda r: (r["sub"], r["cid"]),
    ):
        books.setdefault(r["sub"], []).append(
            (r["cid"], [float(x) for x in r["centroid"]])
        )
    return books


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as its M nearest sub-centroid ids:
    (vid, *passthrough, codes array<int>). Assignment metric is the
    training metric (argmax ``2·v·c − c·c``, exact fixed-point dots,
    ties to the lower cid) so encode(train-set) reproduces the final
    training assignment. Map-ONLY since r12: the literal codebook
    makes the whole encode one projection — no explode, no join, no
    shuffle; ``passthrough`` columns ride the same projection."""
    assert dim % m == 0
    subdim = dim // m
    # r12 shape: the broadcast-sized codebook is collected (no job for
    # the artifact frame pq_train returns) and injected as literal
    # arrays, so the per-(vector, subspace) argmax is a pure projection
    # — encode shuffles NOTHING (the previous form shuffled N·M rows
    # through a max_by aggregate and N·M again through the code fold).
    # Winner per (vid, sub) is identical: same dbl-domain score
    # expression, same lower-cid tie-break (see best_centroid_struct).
    books = _collect_books(codebook)
    present = [j for j in range(m) if books.get(j)]
    out_cols = [
        F.col(id_col).alias("vid"),
        *[F.col(c) for c in passthrough],
    ]
    if not present:
        # empty codebook: the old inner join produced zero rows
        return corpus.where(F.lit(False)).select(
            *out_cols, F.lit(None).cast("array<int>").alias("codes")
        )
    # codes ordered by subspace over the PRESENT subs — exactly the
    # array_sort(collect_list(struct(sub, cid))) fold over the inner
    # codebook join (a sub absent from the codebook contributed no row)
    codes = F.array(
        *[
            argmax_cid(
                _cents_array_expr(books[j]),
                _subvector(F.col(vec_col), j, subdim),
            )
            for j in present
        ]
    )
    return corpus.select(*out_cols, codes.alias("codes"))


def pq_topk_adc(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Compressed-domain top-k via ADC: (query_id, vec_id, approx_score,
    rank). ``codes`` is :func:`pq_encode` output; the full-precision
    corpus is never read. The per-query table (Q·M·ksub rows) is the
    broadcast side; exploded codes equi-join it on (sub, code) and the
    per-pair sum combines map-side before the single (query, vector)
    shuffle.

    Contract: ``codes`` must be :func:`pq_encode` output for THIS
    ``codebook`` and ``m``. Rows with the wrong code arity are filtered
    at the scan edge; a codes/codebook VERSION mismatch (a code id the
    table lacks) surfaces as that candidate silently missing from the
    ranking (the ``_n == m`` guard below), not as an error — detect it
    with :func:`pq_reconstruction_mse` or an input-vs-output count
    check before trusting a re-encoded index."""
    assert dim % m == 0
    subdim = dim // m
    # r12 shape: the per-query lookup table becomes a nested literal-
    # book expression attached to each (broadcast) query row — one
    # array per subspace of (cid, contrib_fx) structs, contributions in
    # the BIGINT fixed-point domain exactly as before. A candidate's
    # score is then a map-side fold over its codes (M lookups + adds),
    # so the only corpus-sized data movement left is the per-query
    # top-k (WindowGroupLimit keeps ≤ k rows per partition before that
    # exchange). The previous form exploded codes to N·M rows and
    # shuffled the (query, vector) partial sums.
    books = _collect_books(codebook)
    if sorted(books) != list(range(m)):
        # the old ALL-M-contributions guard (_n == m): a codebook
        # missing a whole subspace can never score any candidate
        q0 = queries.where(F.lit(False)).select(F.col("query_id"))
        c0 = codes.where(F.lit(False)).select(F.col("vid").alias("vec_id"))
        return q0.crossJoin(c0).select(
            "query_id",
            "vec_id",
            F.lit(0.0).alias("approx_score"),
            F.lit(0).alias("rank"),
        )
    lut = F.array(
        *[
            F.transform(
                _cents_array_expr(books[j]),
                lambda c, _j=j: F.struct(
                    c["cid"].alias("cid"),
                    (
                        2
                        * _dot_fx(
                            _subvector(F.col("qv"), j, subdim), c["centroid"]
                        )
                        - _dot_fx(c["centroid"], c["centroid"])
                    ).alias("contrib_fx"),
                ),
            )
            for j in range(m)
        ]
    )
    q = queries.select(
        F.col("query_id").alias("qid"), F.col("embedding").alias("qv")
    ).select("qid", lut.alias("lut"))
    code_rows = codes.where(F.size("codes") == m).select("vid", "codes")
    # codes[j] not present in subspace j's table (index/codebook version
    # mismatch) -> NULL lookup -> NULL sum -> candidate dropped, the
    # same outcome as the old _n == m guard
    sum_fx = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda code, lut_j: F.get(
                F.filter(lut_j, lambda e: e["cid"] == code), F.lit(0)
            )["contrib_fx"],
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        code_rows.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vid",
            (sum_fx.cast("double") / SCALE).alias("approx_score"),
        )
        .where(F.col("approx_score").isNotNull())
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_score"), F.asc("vid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            "approx_score",
            "rank",
        )
    )


def pq_reconstruction_mse(
    corpus: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Codebook quality diagnostic: per-subspace and overall mean squared
    reconstruction error — the number that decides whether ksub/m are
    adequate before anything is re-encoded at scale. Output is M
    per-subspace rows plus one overall row with ``sub = -1`` (full-vector
    MSE: subspaces occupy disjoint slots, so it is exactly the sum of the
    per-subspace error sums over the same vector count). One exploded
    join of (vid, sub, subv) against assigned sub-centroids; per-term
    squared error stays in the BIGINT fixed-point domain (``‖a−c‖²·2^40
    = fx(a,a) − 2·fx(a,c) + fx(c,c)``) through an exact integer sum,
    then two IEEE divides per output row. NOT davg's DECIMAL(27,6) path:
    that cast rounds HALF_UP on a 1e-6 tie (engine-divergent, see
    queries/_util.py) and would quantize an MSE of ~1e-8 — real for a
    good codebook — to 0.0."""
    assert dim % m == 0
    subdim = dim // m
    sub_rows = _exploded_subvectors(corpus, m, subdim)
    assigned = sub_rows.join(
        codes.select("vid", F.posexplode("codes").alias("sub", "cid")),
        ["vid", "sub"],
    ).join(F.broadcast(codebook.select("sub", "cid", "centroid")), ["sub", "cid"])
    sqerr_fx = (
        _dot_fx(F.col("subv"), F.col("subv"))
        - 2 * _dot_fx(F.col("subv"), F.col("centroid"))
        + _dot_fx(F.col("centroid"), F.col("centroid"))
    ).alias("sqerr_fx")
    mse = (F.col("_sfx").cast("double") / SCALE / F.col("n_vectors")).alias("mse")
    sums = assigned.select("sub", sqerr_fx).groupBy("sub").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("sqerr_fx").alias("_sfx"),
    )
    per_sub = sums.select("sub", "n_vectors", mse)
    # encode emits exactly one code per (vid, sub), so every subspace row
    # count equals the vector count; the M-row re-agg is free
    overall = (
        sums.agg(
            F.max("n_vectors").alias("n_vectors"), F.sum("_sfx").alias("_sfx")
        )
        # a global agg over an empty frame emits one all-NULL row; the
        # empty-input contract is zero rows out
        .where(F.col("n_vectors").isNotNull())
        .select(F.lit(-1).alias("sub"), "n_vectors", mse)
    )
    return overall.unionAll(per_sub).orderBy("sub")


def pq_reconstruction_mse_direct(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """:func:`pq_reconstruction_mse` for the codes-are-this-codebook's-
    encode case, fused to a single map-only pass (r12): because
    ``sqerr_fx = fx(s,s) − score_fx(c)`` for the SAME fixed-point
    terms (``score_fx = 2·fx(s,c) − fx(c,c)``), the assigned
    centroid's squared error falls out of the argmax directly — no
    encode materialization, no (vid, sub) shuffle join of corpus
    against codes. The winner is still chosen in the dbl-score domain
    with the lower-cid tie-break (exactly :func:`pq_encode`'s
    assignment; score ties have equal score_fx, so the sqerr is
    tie-insensitive), then its exact BIGINT score_fx is subtracted.
    Output and arithmetic are identical to
    ``pq_reconstruction_mse(corpus, pq_encode(corpus, codebook), codebook)``
    (pinned by test). Keep the three-argument form for auditing an
    index that may NOT match the codebook (version-mismatch
    diagnostics) — there the join is the point."""
    assert dim % m == 0
    subdim = dim // m
    books = _collect_books(codebook)
    present = [j for j in range(m) if books.get(j)]
    sub_errs = []
    for j in present:
        subv = _subvector(F.col("embedding"), j, subdim)
        best = F.array_max(
            F.transform(
                _cents_array_expr(books[j]),
                lambda c: F.struct(
                    (
                        2 * dot_decimal(subv, c["centroid"])
                        - dot_decimal(c["centroid"], c["centroid"])
                    ).alias("score"),
                    (-c["cid"]).alias("nc"),
                    (
                        2 * _dot_fx(subv, c["centroid"])
                        - _dot_fx(c["centroid"], c["centroid"])
                    ).alias("sfx"),
                ),
            )
        )
        sub_errs.append(
            F.struct(
                F.lit(j).alias("sub"),
                (_dot_fx(subv, subv) - best["sfx"]).alias("sqerr_fx"),
            )
        )
    if not sub_errs:
        return corpus.sparkSession.createDataFrame(
            [], "sub int, n_vectors bigint, mse double"
        )
    mse = (F.col("_sfx").cast("double") / SCALE / F.col("n_vectors")).alias("mse")
    sums = (
        corpus.select(F.explode(F.array(*sub_errs)).alias("e"))
        .select("e.sub", "e.sqerr_fx")
        .groupBy("sub")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("sqerr_fx").alias("_sfx"),
        )
    )
    per_sub = sums.select("sub", "n_vectors", mse)
    overall = (
        sums.agg(
            F.max("n_vectors").alias("n_vectors"), F.sum("_sfx").alias("_sfx")
        )
        .where(F.col("n_vectors").isNotNull())
        .select(F.lit(-1).alias("sub"), "n_vectors", mse)
    )
    return overall.unionAll(per_sub).orderBy("sub")


# --- IVF-PQ: coarse routing + residual product quantization -------------------


def _residual(v: Column, c: Column) -> Column:
    """Element-wise v − c (single IEEE subtract per element — identical
    on both engines)."""
    return F.zip_with(v, c, lambda x, y: x.cast("double") - y.cast("double"))


def ivfpq_train(
    emb: DataFrame,
    *,
    k_coarse: int = 4,
    m: int = 4,
    ksub: int = 4,
    dim: int = 64,
    iterations: int = 2,
):
    """Train the IVF-PQ index (the standard FAISS IVFPQ architecture):
    a coarse k-means quantizer routes vectors to inverted lists, and a
    PQ codebook trained on RESIDUALS (v − coarse centroid) encodes the
    within-list offset — residual encoding concentrates the signal the
    subquantizers see, which is why IVFPQ beats flat PQ at equal bytes.

    Returns (coarse, book): the k_coarse-row centroid frame and the
    (m·ksub)-row residual codebook. Both are broadcast-sized regardless
    of corpus size; at 100 TB train on a sample, exactly as the IVF
    runbook prescribes. Both come back as artifact frames (local
    relations consumers collect without a job), and
    the residual frame feeding PQ training is a map-only projection
    against the literal coarse centroids instead of a windowed
    assignment + centroid re-join."""
    spark = emb.sparkSession
    coarse_stats = lloyd_rows(emb, m=1, k=k_coarse, dim=dim, iterations=iterations)
    coarse_rows = [(c, cent) for _s, c, _n, cent in coarse_stats]
    coarse = artifact_frame(spark, "cid int, centroid array<double>", coarse_rows)
    book_schema = "sub int, cid int, centroid array<double>"
    if not coarse_rows:
        return coarse, artifact_frame(spark, book_schema, [])
    win = best_centroid_struct(_cents_array_expr(coarse_rows), F.col("embedding"))
    residuals = emb.select(
        "vec_id",
        _residual(F.col("embedding"), win["centroid"]).alias("embedding"),
    )
    book_rows = lloyd_rows(residuals, m=m, k=ksub, dim=dim, iterations=iterations)
    book = artifact_frame(
        spark, book_schema, [(s, c, cent) for s, c, _n, cent in book_rows]
    )
    return coarse, book


def ivfpq_encode(
    corpus: DataFrame,
    coarse: DataFrame,
    book: DataFrame,
    *,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Index the corpus: (vid, list_id, codes). Map-ONLY since r12:
    the literal coarse centroids and residual codebooks turn coarse
    assignment, residual, and all M code argmaxes into ONE projection
    over the corpus scan — zero joins, zero shuffles; the
    full-precision vector is read once and never stored."""
    coarse_rows = collect_cent_rows(coarse)
    v = corpus.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    if not coarse_rows:
        # empty quantizer: the old windowed assignment produced no rows
        return v.where(F.lit(False)).select(
            "vid",
            F.lit(None).cast("int").alias("list_id"),
            F.lit(None).cast("array<int>").alias("codes"),
        )
    win = best_centroid_struct(_cents_array_expr(coarse_rows), F.col("v"))
    residuals = v.select(
        "vid",
        (-win["nc"]).cast("int").alias("list_id"),
        _residual(F.col("v"), win["centroid"]).alias("r"),
    )
    return pq_encode(
        residuals, book, m=m, dim=dim, id_col="vid", vec_col="r",
        passthrough=("list_id",),
    ).select("vid", "list_id", "codes")


def ivfpq_topk(
    index: DataFrame,
    coarse: DataFrame,
    book: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ search: route each query to its ``nprobe`` best lists,
    then ADC-score ONLY vectors in probed lists, in the compressed
    domain. With v̂ = c_list + v̂r the exact reconstruction score
    ``2·q·v̂ − ‖v̂‖²`` decomposes into a per-(query, list) base term
    ``2·q·c − ‖c‖²`` plus per-subspace contributions
    ``2·(q−c)_j·r − ‖r‖²`` — every piece precomputable per
    (query, list, subspace, code), so the lookup table
    (Q·nprobe·M·ksub rows) broadcasts and a candidate's score is M
    lookups + one add, all in exact BIGINT fixed-point until the final
    scale-back divide. List pruning is the scale lever: only
    nprobe/k_coarse of the corpus is touched per query, and a corpus
    PARTITIONED BY list_id turns that into partition pruning.
    """
    assert dim % m == 0
    subdim = dim // m
    q = queries.select(F.col("query_id").alias("qid"), F.col("embedding").alias("qv"))
    qlist = _route_queries(q, collect_cent_rows(coarse), nprobe=nprobe)
    return _adc_topk(index, qlist, _collect_books(book), k=k, m=m, subdim=subdim)


def _route_queries(
    q, coarse_rows: list[tuple[int, list[float]]], *, nprobe: int,
    with_rank: bool = False,
) -> DataFrame:
    """Route each (qid, qv) query to its ``nprobe`` best inverted
    lists: (qid, list_id, base_fx, qr) with the per-(query, list)
    BIGINT base score and the query residual against the list
    centroid. Output is Q·nprobe rows — broadcast-sized by
    construction (queries are a serving batch, not a corpus).

    r12 shape: the literal coarse centroids make routing a map-only
    array expression per query row (score every list, sort the
    struct array, slice nprobe) — no broadcast join, no row_number
    window/exchange. Selection order is identical: ascending
    (−base_fx, list_id) = the window's (base_fx DESC, list_id ASC).

    ``with_rank=True`` additionally emits ``probe_rank`` (1-based
    position of the list in the query's probe order) — because the
    probe order for any smaller budget ``p`` is a PREFIX of the
    order at ``nprobe``, filtering ``probe_rank <= p`` reproduces
    the exact routing of a ``nprobe=p`` call; the sweep path derives
    every budget from one routing (posexplode instead of explode,
    otherwise the identical expression)."""
    if not coarse_rows:
        out = q.where(F.lit(False)).select(
            "qid",
            F.lit(None).cast("int").alias("list_id"),
            F.lit(None).cast("bigint").alias("base_fx"),
            F.lit(None).cast("array<double>").alias("qr"),
        )
        if with_rank:
            out = out.withColumn("probe_rank", F.lit(None).cast("int"))
        return out
    scored = F.transform(
        _cents_array_expr(coarse_rows),
        lambda c: F.struct(
            (
                -(
                    2 * _dot_fx(F.col("qv"), c["centroid"])
                    - _dot_fx(c["centroid"], c["centroid"])
                )
            ).alias("nbase"),
            c["cid"].alias("list_id"),
            c["centroid"].alias("centroid"),
        ),
    )
    probes = F.slice(F.array_sort(scored), 1, nprobe)
    if with_rank:
        return (
            q.select("qid", "qv", F.posexplode(probes).alias("pos", "p"))
            .select(
                "qid",
                F.col("p.list_id").alias("list_id"),
                (-F.col("p.nbase")).alias("base_fx"),
                _residual(F.col("qv"), F.col("p.centroid")).alias("qr"),
                (F.col("pos") + 1).cast("int").alias("probe_rank"),
            )
        )
    return (
        q.select("qid", "qv", F.explode(probes).alias("p"))
        .select(
            "qid",
            F.col("p.list_id").alias("list_id"),
            (-F.col("p.nbase")).alias("base_fx"),
            _residual(F.col("qv"), F.col("p.centroid")).alias("qr"),
        )
    )


def _adc_topk(
    index: DataFrame,
    qlist: DataFrame,
    books: dict[int, list[tuple[int, list[float]]]],
    *,
    k: int,
    m: int,
    subdim: int,
) -> DataFrame:
    """ADC-score the (vid, list_id, codes) index rows against routed
    queries and keep each query's top k (the scoring half shared by
    :func:`ivfpq_topk` and :func:`ivfpq_topk_pruned`).

    r12 shape: each routed (qid, list) row carries its full lookup
    table as a nested column (per subspace, (cid, contrib_fx) structs
    over the literal residual codebook — the same BIGINT fixed-point
    contributions as before), the Q·nprobe-row frame broadcast-hash-
    joins the index on list_id, and a candidate's score is a map-side
    fold over its M codes. The previous form exploded the index to
    N·M rows and shuffled per-(query, vector) partial sums; now the
    only exchange left is the top-k itself (WindowGroupLimit bounds it
    to ≤ k rows per partition). A code id absent from its subspace's
    table (index/codebook version mismatch) folds to NULL and drops
    the candidate — the old _n == m guard's outcome."""
    return _topk_from_scored(_adc_scored(index, qlist, books, m=m, subdim=subdim), k=k)


def _adc_scored(
    index: DataFrame,
    qlist: DataFrame,
    books: dict[int, list[tuple[int, list[float]]]],
    *,
    m: int,
    subdim: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The scoring half of :func:`_adc_topk`: every candidate's exact
    fixed-point ADC score as (qid, vid, approx_score[, extra_cols]) —
    ``extra_cols`` are qlist columns carried through unchanged (the
    sweep path rides ``probe_rank`` on them). Shared so the recall
    sweep can score each candidate ONCE and derive every probe budget
    from the same frame."""
    if sorted(books) != list(range(m)):
        q0 = qlist.where(F.lit(False)).select("qid", *extra_cols)
        c0 = index.where(F.lit(False)).select("vid")
        return q0.crossJoin(c0).select(
            "qid", "vid", F.lit(0.0).alias("approx_score"), *extra_cols
        )
    lut = F.array(
        *[
            F.transform(
                _cents_array_expr(books[j]),
                lambda c, _j=j: F.struct(
                    c["cid"].alias("cid"),
                    (
                        2
                        * _dot_fx(
                            _subvector(F.col("qr"), j, subdim), c["centroid"]
                        )
                        - _dot_fx(c["centroid"], c["centroid"])
                    ).alias("contrib_fx"),
                ),
            )
            for j in range(m)
        ]
    )
    ql = qlist.select("qid", "list_id", "base_fx", *extra_cols, lut.alias("lut"))
    sum_fx = F.aggregate(
        # codes beyond the first m never contributed (the old explode
        # joined subs 0..m-1 only); shorter arrays zip against a NULL
        # table entry and drop, like their missing contributions did
        F.zip_with(
            F.slice(F.col("codes"), 1, m),
            F.col("lut"),
            lambda code, lut_j: F.get(
                F.filter(lut_j, lambda e: e["cid"] == code), F.lit(0)
            )["contrib_fx"],
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        index.join(F.broadcast(ql), "list_id")
        .select(
            "qid",
            "vid",
            ((F.col("base_fx") + sum_fx).cast("double") / SCALE).alias(
                "approx_score"
            ),
            *extra_cols,
        )
        .where(F.col("approx_score").isNotNull())
    )


def _topk_from_scored(scored: DataFrame, *, k: int) -> DataFrame:
    """Per-query top-k over an ADC-scored candidate frame — the window
    half of :func:`_adc_topk` (same ordering and tie-break:
    approx_score DESC, vid ASC; WindowGroupLimit bounds the exchange
    to ≤ k rows per partition)."""
    w = Window.partitionBy("qid").orderBy(F.desc("approx_score"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            "approx_score",
            "rank",
        )
    )


def ivfpq_topk_sweep(
    index: DataFrame,
    coarse: DataFrame,
    book: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
    m: int = 4,
    dim: int = 64,
) -> dict[int, DataFrame]:
    """Top-k per query for EVERY probe budget in ``nprobes`` from ONE
    routing + scoring pass — bit-identical to calling
    :func:`ivfpq_topk` once per budget (proven by the equivalence test
    in tests/test_evaluation.py), but the index is scanned and
    ADC-scored once at ``max(nprobes)`` instead of once per sweep
    point.

    Why it is exact: a candidate's score depends only on its (query,
    list) pair — never on the probe budget — and the probe order at
    budget ``p`` is a prefix of the order at ``max(nprobes)``
    (identical sorted-slice routing, see :func:`_route_queries`
    ``with_rank``). So filtering the scored frame to
    ``probe_rank <= p`` reproduces a ``nprobe=p`` call's candidate
    set exactly, and the shared top-k window applies the identical
    (approx_score DESC, vid ASC) tie-break.

    The scored frame is localCheckpointed: Q·(max nprobe/k_coarse)
    of the corpus — the per-sweep-point working set the old form
    re-scored per budget; at 100 TB persist it to a table instead
    (the same discipline as the sweep's index/truth checkpoints)."""
    assert dim % m == 0
    assert nprobes, "ivfpq_topk_sweep needs at least one nprobe setting"
    q = queries.select(F.col("query_id").alias("qid"), F.col("embedding").alias("qv"))
    qlist = _route_queries(
        q, collect_cent_rows(coarse), nprobe=max(nprobes), with_rank=True
    )
    scored = pin(_adc_scored(
        index,
        qlist,
        _collect_books(book),
        m=m,
        subdim=dim // m,
        extra_cols=("probe_rank",),
    ))
    return {
        p: _topk_from_scored(
            scored.where(F.col("probe_rank") <= p).drop("probe_rank"),
            k=k,
        )
        for p in nprobes
    }


def write_partitioned_index(index: DataFrame, path: str) -> None:
    """Persist the (vid, list_id, codes) IVF-PQ index as parquet
    PARTITIONED BY list_id — the deployment layout the
    :func:`ivfpq_topk` docstring prescribes: one directory per
    inverted list, so nprobe routing becomes PHYSICAL partition
    pruning (the scan never opens unprobed lists' files) instead of a
    post-scan filter. k_coarse is sized so each list's partition is a
    healthy parquet file count at the target corpus (at 100 TB,
    k_coarse in the thousands keeps lists in the GB range)."""
    index.write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivfpq_topk_pruned(
    spark,
    index_path: str,
    coarse: DataFrame,
    book: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ search against a :func:`write_partitioned_index` layout:
    identical routing, scoring, and results to :func:`ivfpq_topk`, but
    the corpus scan reads ONLY the probed lists' partition directories.

    The routed list ids (Q·nprobe values — bounded by the serving
    batch, never the corpus; the query vectors live on the driver in
    any ANN service, so this collect is O(requests), not O(data)) are
    planted as a literal IN predicate on the partition column, which
    Catalyst turns into ``PartitionFilters`` at the scan: unprobed
    lists contribute zero I/O, zero decode, zero rows — the physical
    realization of "only nprobe/k_coarse of the corpus is touched".
    The plan test pins the pruned scan shape; the oracle twin is
    unchanged because pruning only removes rows the broadcast-filter
    path discarded after the scan."""
    assert dim % m == 0
    q = queries.select(F.col("query_id").alias("qid"), F.col("embedding").alias("qv"))
    # Q·nprobe rows, map-only from the query scan since r12 — cheap
    # enough that the probed-list collect and the scoring join each
    # just re-run it (the old windowed routing needed a localCheckpoint
    # to avoid replaying its exchange twice).
    qlist = _route_queries(q, collect_cent_rows(coarse), nprobe=nprobe)
    probed = sorted(r.list_id for r in qlist.select("list_id").distinct().collect())
    index = spark.read.parquet(index_path).where(F.col("list_id").isin(probed))
    return _adc_topk(index, qlist, _collect_books(book), k=k, m=m, subdim=dim // m)


def exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Stage two of two-stage retrieval: exact re-scoring of an ADC
    shortlist against the FULL-PRECISION corpus — the standard
    deployment pattern (shortlist R ≫ k in the compressed domain, then
    R exact scores buy back most of the quantization-induced rank
    error at O(R·Q) cost instead of O(N·Q)).

    ``shortlist`` is any (query_id, vec_id) candidate frame (e.g.
    :func:`ivfpq_topk` or :func:`pq_topk_adc` run with ``k = R``).
    Scoring uses the exact metric ADC approximates — ``2·q·v − ‖v‖²``,
    monotone in L2 distance per query — with the repo's exact BIGINT
    fixed-point sums, so the oracle replays it bit-identically.

    Scale shape (pinned by plan test): the R·Q-row shortlist and the
    Q-row query frame are the BROADCAST sides; the full-precision
    corpus is scanned ONCE, filtered by the broadcast-hash semi-shape
    join down to the shortlisted rows, and never shuffled — the same
    plan ``ann_recall`` uses for its truth join. At 100 TB the corpus
    side is the only large input and it streams map-side through the
    join."""
    # distinct: a shortlist with duplicate (qid, vid) rows would score
    # the same candidate twice, each copy burning a row_number rank and
    # displacing a genuine candidate from the top-k (round-8 ADVICE fix;
    # cost is negligible at R·Q broadcast-side rows)
    sl = shortlist.select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("vid")
    ).distinct()
    q = queries.select(F.col("query_id").alias("qid"), F.col("embedding").alias("qv"))
    cand = corpus.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    ).join(F.broadcast(sl), "vid")
    scored = cand.join(F.broadcast(q), "qid").select(
        "qid",
        "vid",
        (
            (2 * _dot_fx(F.col("qv"), F.col("v")) - _dot_fx(F.col("v"), F.col("v")))
            .cast("double")
            / SCALE
        ).alias("exact_score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("exact_score"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            "exact_score",
            "rank",
        )
    )
