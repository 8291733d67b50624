"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine.

Scale design (100 TB):

- **Exact**: one shuffle on the content hash (map-side partial aggregation
  first); never a sort, never a driver collect.
- **MinHash+LSH**: shingles explode to ONE md5 each, then the 16
  permutations are cheap linear MIN aggregates with map-side partial
  aggregation (the per-seed-md5 array-lambda formulation measured 50×
  slower — see ``minhash_signatures``). Candidate generation is an
  equi-join on (band_id, band_hash) — the LSH point is precisely that
  this replaces the O(n²) cross-join with a shuffle join on a
  high-selectivity key. Band buckets with a hot hash (boilerplate docs)
  skew the join: cap bucket width (``max_bucket`` guard) or salt, and let
  AQE split stragglers. Verification (exact Jaccard) runs only on candidate
  pairs. Expansion stages ``spread()`` under-partitioned scans so the
  per-shingle hashing never serializes on a single-row-group input.
- **SimHash**: per-token hashes aggregated into per-bit majorities — one
  explode + one groupBy(doc); near-dup blocking joins on equal 15-bit blocks
  (Hamming ≤ k ⇒ some block equal when blocks > k).
- **Embedding cosine**: pairs bounded by an equi-key (label/bucket) before
  the exact-decimal cosine (functions/vectors.py); unbounded all-pairs
  cosine is the similarity module's job (top-k, not dedup).

Everything is deterministic md5-derived hashing (functions/hashing.py), so
the DuckDB oracle replays the IDENTICAL algorithm — the parity check covers
the pipeline end-to-end, not just row counts.

Input contract: document operators read ``documents(doc_id, text)`` by
those names (other columns pass through or are ignored; the blocked
pair operators also read their ``group_cols``), the ``sql_*`` twins
read the table ``documents``, and the seen-hash index is
``(content_hash)`` as :func:`seen_hashes` writes it. Pair operators
emit the edge frame ``(id_a, id_b, …)``, and :func:`connected_components`
reads exactly that: ``(id_a, id_b)``, the contract it shares with
``components.connected_components_bigstar``. A frame whose columns are
named otherwise is renamed once with a ``select(... .alias(...))``;
Catalyst folds that projection into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_stream_spark.functions.hashing import (
    WS_RUN,
    bind_once,
    md5_int64,
    shingles,
    sql_tokens,
    tokens,
)
from kinesis_stream_spark.operators.lineage import pin, pin_observed, release
from kinesis_stream_spark.sources.batch import spread

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup: casefold + whitespace collapse.
    Uses the explicit whitespace class (functions/hashing.py WS_RUN):
    Java's \\s matches \\x0B, RE2's does not."""
    return F.trim(F.regexp_replace(F.lower(col), WS_RUN, " "))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized content hash: keeps the lowest id per
    group, reports group size. One hash-shuffle; deterministic winner."""
    h = F.md5(normalized_text(F.col("text"))).alias("content_hash")
    return (
        docs.select(F.col("doc_id"), h)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("kept_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_pipeline(docs: DataFrame) -> DataFrame:
    """The complete multi-stage dedup pass in the order the runbook
    prescribes: EXACT-hash dedup first (so LSH never wastes bands on
    byte-identical copies — they'd collide in every band and dominate
    candidate volume), then MinHash-LSH near-dup over the exact
    survivors, then connected-component resolution so transitive chains
    (A~B, B~C) collapse to one canonical document. Returns the
    surviving ids.

    Stage shapes are the individual operators' (one digest shuffle; the
    banded candidate join; per-round label joins) — this is the
    composition a production corpus actually runs, end-to-end
    oracle-replayed including which near-dup pairs LSH surfaces.
    """
    winners = exact_dedup(docs).select(F.col("kept_id").alias("doc_id"))
    # Materialize the exact-survivor frame ONCE (r12): it feeds the
    # near-dup stage and the final keep-list anti-join, and without the
    # cut each consumer re-runs the input union + digest aggregate +
    # winners join. Intra-query lineage cut, recomputed every call.
    survivors = pin(docs.join(winners, "doc_id").select("doc_id", "text"))
    # near_duplicates_minhash shares ONE checkpointed tokenization pass
    # across signatures and both verify sides since r13 (guide §2.4 —
    # see its docstring; 1.7× on this composed query when it landed)
    edges = near_duplicates_minhash(survivors, threshold=0.5)
    comp = connected_components(edges.select("id_a", "id_b"))
    dropped = comp.where(F.col("v") != F.col("comp")).select(
        F.col("v").alias("doc_id")
    )
    return survivors.join(dropped, "doc_id", "left_anti").select("doc_id")


MINHASH_MOD = 2_147_483_647  # 2^31 - 1 (prime): a*h + b < 2^62, no overflow


def minhash_perm_coeffs(num_hashes: int = DEFAULT_NUM_HASHES) -> list[tuple[int, int]]:
    """(a_j, b_j) for the j-th minhash permutation h_j(x) = (a_j*x + b_j)
    mod P — md5-derived Python ints, so they are plain literals in both
    the Spark plan and the DuckDB oracle."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (h(f"mh_a|{j}") % (MINHASH_MOD - 1) + 1, h(f"mh_b|{j}") % MINHASH_MOD)
        for j in range(num_hashes)
    ]


def _shingle_frame(docs: DataFrame) -> DataFrame:
    """(id, sh array<string>) of 3-token shingles — the tokenization pass every MinHash
    stage derives from. ``spread``: shingling is the expensive map
    stage; a single-row-group scan would run it all in one task."""
    return spread(
        docs.select(F.col("doc_id").alias("id"), F.col("text")), "id"
    ).select("id", shingles(F.col("text"), 3).alias("sh"))


def _signatures_from_shingles(sh_df: DataFrame) -> DataFrame:
    """Signatures from an (id, sh) frame (see :func:`minhash_signatures`)."""
    sh = sh_df.select("id", F.explode("sh").alias("s")).select(
        "id", (md5_int64(F.col("s")) % MINHASH_MOD).alias("h")
    )
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_MOD).alias(f"m{j}")
        for j, (a, b) in enumerate(minhash_perm_coeffs())
    ]
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"m{j}" for j in range(DEFAULT_NUM_HASHES)]).alias("sig"))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, sig array<bigint>): sig[j] = min over shingles of
    (a_j * md5(shingle) + b_j) mod P.

    Shape matters at scale: explode → ONE md5 per shingle occurrence →
    16 cheap linear permutations as MIN aggregates (partial map-side).
    The naive per-seed-md5 formulation costs 16 md5s per shingle and,
    composed under Catalyst's project collapsing, recomputes the whole
    shingle pipeline per signature element — measured 50× slower.
    """
    return _signatures_from_shingles(_shingle_frame(docs))


def lsh_band_hashes(sig: Column) -> Column:
    """Band the signature: array of ``DEFAULT_BANDS`` (band_id, band_hash)
    structs. Two docs collide on a band iff that slice of their
    signatures is identical."""
    rows = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                md5_int64(
                    F.array_join(
                        F.transform(F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")),
                        ",",
                    )
                ).alias("band_hash"),
            )
            for b in range(DEFAULT_BANDS)
        ]
    )


def _candidates_from_sigs(sigs: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b) of an (id, sig) frame that share at
    least one LSH band (:func:`near_duplicates_minhash`)."""
    banded = sigs.select(
        "id", F.explode(lsh_band_hashes(F.col("sig"))).alias("b")
    ).select("id", "b.band_id", "b.band_hash")
    left = banded.alias("x")
    right = banded.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def _jaccard_from_shingles(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs over an (id, sh)
    frame (integer set sizes → one double division: engine-independent)."""
    return (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def near_duplicates_minhash(docs: DataFrame, *, threshold: float = 0.9) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → candidate
    join → exact-Jaccard verify ≥ threshold.

    ONE tokenization pass (r13; guide §2.4): the composed pipeline
    shingled the corpus three times — signature build plus both
    Jaccard-verify join sides (measured 22.2 → 3.5 s at sf1 for the
    connected-components edge source). The shared ``(id, sh)`` frame is
    lazily checkpointed because it feeds all three consumers; derived
    data, recomputed from the input on every invocation."""
    sh = pin(_shingle_frame(docs), eager=False)
    cands = _candidates_from_sigs(_signatures_from_shingles(sh))
    return _jaccard_from_shingles(cands, sh).where(
        F.col("jaccard") >= threshold
    )


# --- SimHash -----------------------------------------------------------------

# 60 bits (all of md5_int64's width): with 4 blocks the blocking key is
# 15 bits, so random block collisions are ~1/32768 per block — a 32-bit
# fingerprint's 8-bit blocks collided at ~1/256 and produced ~10^7
# candidate pairs at sf0.1 (measured), almost all of them noise.
SIMHASH_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc 60-bit SimHash as a BIGINT (bit i = sign of the i-th
    signed bit-count).

    Explode tokens → one 60-bit md5 hash each → per-bit signed counts →
    integer fingerprint. Integer form makes block extraction a
    shift-and-mask and the Hamming verify a single xor+bit_count —
    constant work per candidate pair instead of 32 string allocations.
    """
    tok = spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id").select(
        "id", F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn("h", md5_int64(F.col("tok")))
    bit_sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fingerprint = sum(
        [
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
            for i in range(SIMHASH_BITS)
        ],
        start=F.lit(0).cast("bigint"),
    )
    return bit_sums.select(F.col("id"), fingerprint.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two integer fingerprints: popcount(a^b)."""
    return F.bit_count(a.bitwiseXOR(b))


def near_duplicates_simhash(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup: block-equality blocking (pigeonhole: hamming ≤ k
    with blocks > k ⇒ at least one of the blocks is identical), then exact
    Hamming verify. Join key is (block_id, block_bits) — same scale shape
    as MinHash-LSH banding.

    Candidate volume is the hazard: low-entropy corpora (shared
    vocabulary) collapse fingerprints into few block values, making the
    block join quadratic in the hot buckets. Mitigations, in order: the
    xor+bit_count verify keeps per-pair cost O(1); the hamming filter
    runs BEFORE the pair-dedup shuffle so only survivors get shuffled;
    at 100 TB additionally cap/salt hot buckets (non-discriminative
    blocks carry no recall worth their cost).
    """
    assert blocks > max_hamming, "pigeonhole needs blocks > max_hamming"
    return (
        _simhash_blocked_pairs(docs, blocks=blocks)
        .where(F.col("hamming") <= max_hamming)  # filter BEFORE the dedup shuffle
        .distinct()
    )


def _simhash_blocked_pairs(docs: DataFrame, *, blocks: int = 4) -> DataFrame:
    """Blocked SimHash candidate pairs (id_a, id_b, hamming), PRE-distinct:
    a pair colliding in several blocks appears once per collision. Callers
    dedupe after their own filtering so the threshold path shuffles only
    survivors (:func:`near_duplicates_simhash`) while profiling paths see
    the full candidate stream (:func:`pair_distance_histogram`)."""
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    # The fingerprint frame feeds both sides of the block self-join;
    # without a lineage cut the token explode + 60 signed bit-count
    # aggregates execute twice (the build side broadcasts, so there is
    # no shuffle for ReuseExchange to dedupe). The checkpoint is two
    # columns (id, bigint) per doc — the block explode recomputed per
    # side is four shift-and-masks. Intra-query cut, recomputed per call.
    sims = pin(simhash(docs))
    blocked = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_id"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_bits"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select("id", "simhash", "blk.block_id", "blk.block_bits")
    x, y = blocked.alias("x"), blocked.alias("y")
    return (
        x.join(
            y,
            (F.col("x.block_id") == F.col("y.block_id"))
            & (F.col("x.block_bits") == F.col("y.block_bits"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming_distance(F.col("x.simhash"), F.col("y.simhash")).alias("hamming"),
        )
    )


def pair_distance_histogram(docs: DataFrame, *, blocks: int = 4) -> DataFrame:
    """Dedup-difficulty profile: the distribution of SimHash Hamming
    distances over blocked candidate pairs — (hamming, n_pairs), one row
    per observed distance. Read it before committing to a threshold: a
    bimodal histogram (near-zero spike + far background) means a clean
    cutoff exists; mass piled just above the intended threshold means
    the corpus is full of borderline near-dups and the threshold choice
    IS the recall/precision trade; a fat head at 0-1 predicts huge
    duplicate clusters (connected components will be the expensive
    stage). Profiling first is how production dedup avoids running the
    full pipeline twice.

    Shape: the same pigeonhole block join as
    :func:`near_duplicates_simhash`, then one pair-dedup shuffle (a pair
    colliding in several blocks must count once) and a |distinct
    distances|-row aggregate — output ≤ 61 rows. Unlike the threshold
    path there is deliberately NO hamming filter before the distinct:
    the whole point is seeing the candidate distribution, so candidate
    volume is the same hazard as the dedup itself and the same
    mitigation applies (cap/salt hot blocks at 100 TB; or sample
    documents first — a uniform doc sample gives an unbiased pair
    sample within blocks). Integer-only output, no float parity risk.
    """
    pairs = _simhash_blocked_pairs(
        docs, blocks=blocks
    ).distinct()
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def seen_hashes(corpus: DataFrame) -> DataFrame:
    """Hash index of an ingested corpus: one row per distinct normalized
    content hash. At scale this table is maintained incrementally —
    append each ingest round's surviving hashes — never re-derived from
    the full corpus."""
    return corpus.select(
        F.md5(normalized_text(F.col("text"))).alias("content_hash")
    ).distinct()


def exact_dedup_incremental(batch: DataFrame, seen: DataFrame) -> DataFrame:
    """Incremental exact dedup: keep only batch documents whose
    normalized content hash is NEW — first (minimum id) within the batch
    AND absent from the already-ingested corpus's hash index.

    This is the ingest-loop dedup shape: each round joins the new slice
    against the hash index of everything before it instead of
    re-deduplicating the whole corpus (O(batch), not O(corpus), per
    round). The anti-join keys on the md5 digest — uniform by
    construction, so no skew — and AQE broadcasts whichever side is
    small. Only digests shuffle; text never leaves the scan.
    """
    h = F.md5(normalized_text(F.col("text")))
    batch_winners = (
        batch.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch_winners.join(
        seen.select("content_hash"), "content_hash", "left_anti"
    )


# --- duplicate-cluster resolution (connected components) ----------------------


def _label_sum() -> Column:
    """The monotone convergence metric of :func:`connected_components`:
    SUM of all labels in DECIMAL(38,0) (min-label propagation only ever
    lowers a label, so a round is a no-op iff this sum is unchanged;
    BIGINT would overflow the id-sum at 100 TB vertex counts)."""
    return F.sum(F.col("comp").cast("decimal(38,0)")).alias("label_sum")


def connected_components(edges: DataFrame, *, max_iterations: int = 25) -> DataFrame:
    """Resolve pairwise duplicate edges into clusters: each vertex gets
    the MINIMUM vertex id reachable from it (the canonical document).

    Pair-emitting dedup (MinHash / SimHash / Jaccard) is only half the
    job — "A~B, B~C" must collapse into ONE keep-decision even when A~C
    was never emitted. This is iterative min-label propagation:
    each round every vertex takes min(own label, neighbors' labels), so
    the minimum id of a component spreads one hop per round and the loop
    converges in O(graph diameter) rounds — duplicate clusters are
    shallow (near-clique), so typically 2–4.

    Scale shape: each round is ONE shuffle join on vertex id over the
    EDGE list (never materializes components as rows-per-pair) — the
    joined neighbor stream unions the current labels and feeds a single
    min aggregate, so a round costs one join + one aggregation, not a
    neighbor-min groupBy plus a V-sized join-back; ``localCheckpoint``
    truncates the lineage each round so the plan doesn't grow with
    iterations (at 100 TB use a checkpoint dir on durable storage
    instead). Convergence is a driver-side scalar read from an
    Observation riding the round's own materialization (labels only
    ever decrease, so an unchanged label-sum means the round was a
    no-op). ``max_iterations`` is a hard bound: a run that has not
    reached the fixpoint by then raises instead of returning partial
    labels — wrong components mean wrong keep-decisions downstream
    (the :func:`~kinesis_stream_spark.operators.components.connected_components_bigstar`
    contract; that kernel is the one for long chains).

    Reads the edge frame ``(id_a, id_b)`` (module docstring) and returns
    (v, comp) — comp = min id of the vertex's cluster.
    """
    # Materialize the edge list ONCE. Each round joins against `sym`;
    # without this the (possibly very expensive) upstream pair pipeline
    # re-executes every iteration — measured 64s → ~8s at sf0.1.
    sym = pin(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labels, m = pin_observed(
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("comp")),
        _label_sum(),
    )
    # convergence is read from an Observation riding the round's own
    # checkpoint materialization (r12): labels only ever DECREASE
    # (comp' = min(comp, neighbor min) ≤ comp), so a round changed
    # nothing iff SUM(comp) is unchanged — one monotone scalar
    # (DECIMAL(38,0): a BIGINT id-sum can overflow at 100 TB vertex
    # counts) compared on the driver, no extra job, and the loop can
    # afford to check EVERY round (earlier exit, same labels —
    # post-convergence rounds were no-ops).
    prev_sum = m["label_sum"]
    for _ in range(max_iterations):
        # One round = min(own, neighbor min) per vertex, as ONE
        # shuffle-joined neighbor stream UNIONed with the vertex's own
        # (v, comp) row feeding a single min aggregate — the former
        # neighbor_min groupBy + V-sized left-join-back (two extra
        # exchanges per round) computed the identical values: every
        # vertex appears in `labels`, so the union branch supplies the
        # own-label operand coalesce/least used to.
        # the pin truncates lineage (the plan must not grow per round);
        # the superseded round's blocks are released once the new
        # labels are materialized, or the block manager holds
        # O(iterations) label copies for the session
        new_labels, m = pin_observed(
            sym.join(labels, sym.dst == labels.v)
            .select(F.col("src").alias("v"), "comp")
            .unionAll(labels.select("v", "comp"))
            .groupBy("v")
            .agg(F.min("comp").alias("comp")),
            _label_sum(),
        )
        release(labels)
        labels = new_labels
        if m["label_sum"] == prev_sum:
            break
        prev_sum = m["label_sum"]
    else:
        release(labels, sym)
        raise ValueError(
            f"connected_components: no fixpoint in {max_iterations} rounds"
        )
    # returned labels are self-contained (checkpointed); edge blocks are dead
    release(sym)
    return labels


def duplicate_clusters(edges: DataFrame) -> DataFrame:
    """Cluster summary over :func:`connected_components`: one row per
    duplicate cluster — (canonical_id = min id, cluster_size, max_id).
    The keep-list is the canonical ids; everything else is droppable."""
    comp = connected_components(edges)
    return comp.groupBy("comp").agg(
        F.min("v").alias("canonical_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("v").alias("max_id"),
    ).select("canonical_id", "cluster_size", "max_id")


# --- n-gram Jaccard within bounded groups -------------------------------------


def _set_overlap_pairs(
    docs: DataFrame,
    group_cols: list[str],
    doc_set: Column,
    *,
    max_df: int | None,
) -> DataFrame:
    """The sparse set-overlap kernel of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`: one row (group…, id_a < id_b, inter,
    sz_a, sz_b) per pair of documents in a group that share an element
    of ``doc_set`` (a per-document distinct array built from
    ``text``). ``inter`` = |A∩B| is a count over the (group, gram)
    equi-join; the sizes are the uncapped set sizes.

    ``max_df`` drops rows whose gram appears in more than ``max_df``
    documents of its group from the join side (sets are per-document
    distinct, so the row count per (group, gram) IS document
    frequency): one extra shuffle on (group, gram) — cheap next to the
    quadratic pair blowup the cap prevents. ``None`` passes through."""
    # base feeds four consumers (both gram self-join sides, both size
    # joins) — checkpoint so the set build runs once. The df-cap window
    # stays OUTSIDE the cut (per-side) so the capped plan keeps the cap
    # visibly before the self-join.
    base = pin(
        spread(
            docs.select(*group_cols, F.col("doc_id").alias("id"), F.col("text")), "id"
        ).select(*group_cols, "id", doc_set.alias("set"))
    )
    sizes = base.select(*group_cols, "id", F.size("set").alias("sz"))
    gram = base.select(*group_cols, "id", F.explode("set").alias("g"))
    if max_df is not None:
        gram = (
            gram.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy(*group_cols, "g"))
            )
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
    x, y = gram.alias("x"), gram.alias("y")
    cond = (F.col("x.id") < F.col("y.id")) & (F.col("x.g") == F.col("y.g"))
    for c in group_cols:
        cond = cond & (F.col(f"x.{c}") == F.col(f"y.{c}"))
    inter = (
        x.join(y, cond)
        .groupBy(
            *[F.col(f"x.{c}").alias(c) for c in group_cols],
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(sz_a, "id_a").join(sz_b, "id_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    group_cols: list[str],
    *,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs token-set Jaccard, bounded to pairs sharing ``group_cols``
    (the blocking key that keeps this from being a cross join at scale).

    Sparse-join shape: instead of pairing whole documents and
    intersecting token arrays per pair (quadratic in group size AND
    linear in document length per pair), explode distinct tokens and
    equi-join on (group, token) — only pairs that actually share a token
    are ever materialized, the intersection size falls out of a count
    aggregate, and |union| = |A| + |B| - |A∩B| from per-doc sizes. Same
    integers, same single IEEE division, identical results.

    ``max_df`` is the 100 TB knob: tokens appearing in more than
    ``max_df`` documents of a group (stopword-ish tokens, the join-skew
    generators) are dropped from the *join* side before pairing. They
    still count toward |A| / |B| (sizes come from the unfiltered token
    sets), so capped Jaccard is a strict underestimate — it can only
    drop borderline pairs, never invent one. ``None`` (default) keeps
    the exact semantics for oracle parity; production near-dedup at
    scale should set it (df>10k tokens produce >10^8 pairs each and
    pure skew).

    The per-doc size joins are plain shuffle joins on id — at small SF
    AQE broadcasts them anyway, and at 100 TB the sizes table is
    O(n_docs) and must NOT be a driver-side broadcast (r1 finding).
    """
    pairs = _set_overlap_pairs(
        docs,
        group_cols,
        F.array_distinct(tokens(F.col("text"))),
        max_df=max_df,
    )
    jaccard = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return pairs.select(*group_cols, "id_a", "id_b", jaccard.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    docs: DataFrame,
    group_cols: list[str],
    *,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Shingle CONTAINMENT near-dup: |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|)
    over 3-gram shingle sets, within blocking groups. This is the
    substring-duplication detector Jaccard systematically misses: a
    document wholly contained in a longer one (quote + commentary, page
    + boilerplate wrapper, truncated re-crawl) has containment ≈ 1 but
    Jaccard ≈ |A|/|B| — far below any Jaccard threshold when sizes
    differ. Deduplication guides pair this with MinHash: Jaccard for
    same-length near-copies, containment for subset relations.

    Same sparse-join shape as :func:`ngram_jaccard_pairs` (explode
    shingles, equi-join on (group, gram), intersection from a count,
    sizes joined back): only gram-sharing pairs materialize, and the one
    float op is the final divide by an integer min.

    ``max_df`` is the same 100 TB knob as in
    :func:`ngram_jaccard_pairs`: a boilerplate shingle shared by m
    documents of a group (cookie banner, license header) materializes
    m² join rows on one key — the exact skew class the cap exists for.
    Grams appearing in more than ``max_df`` documents are dropped from
    the JOIN side only; |S(A)| and |S(B)| still come from the
    unfiltered shingle sets, so capped containment is a strict
    underestimate — it can only drop borderline pairs, never invent
    one. (Shingles are per-document distinct, so a gram's row count IS
    its document frequency.) ``None`` keeps exact semantics; production
    runs on crawl corpora should set it.

    Measured honestly: at sf0.1 the cap is cost-NEUTRAL (min-of-3
    7.6 s capped vs 7.6 s uncapped — the synthetic corpus's max df is
    9, so the cap prunes ~10% of join rows and the df window costs
    about what the pruning saves). On a synthesized crawl-skew fixture
    (round 6: 2,000 docs sharing one 5-token boilerplate prefix, so
    three shingles each have df = 2,000) the cap is load-bearing:
    12,060,000 equi-join rows uncapped vs 60,000 capped (201×, the
    hot rows all landing on 3 (group, gram) keys = one straggler
    task), 4.1 s vs 2.3 s wall on local[8] at even this toy scale —
    and the df² blowup is quadratic from here: a df ≈ 10⁶
    cookie-banner shingle contributes 10¹² join rows on one key. A size-joins-free variant (carry ``sz`` through
    the gram join, group by it) was prototyped and is also neutral at
    this SF; at 100 TB it trades +8 B/row on the gram shuffle for not
    shuffling the pair table twice more — worth revisiting if the pair
    stage ever dominates a real profile.
    """
    pairs = _set_overlap_pairs(
        docs,
        group_cols,
        shingles(F.col("text"), 3),
        max_df=max_df,
    )
    containment = F.col("inter") / F.least("sz_a", "sz_b")
    return pairs.select(
        *group_cols, "id_a", "id_b", containment.alias("containment")
    ).where(F.col("containment") >= threshold)


# --- C4-style duplicated-span (chunk) removal ---------------------------------


def duplicate_chunk_removal(docs: DataFrame, *, chunk_tokens: int = 10) -> DataFrame:
    """Corpus-level duplicated-span removal at fixed-chunk granularity —
    the C4 cleanup step ("discard all but one of any three-sentence span
    occurring more than once in the dataset", Raffel et al. 2020 §2.2)
    re-expressed over token chunks: split every document into
    consecutive ``chunk_tokens``-token chunks, count each chunk's
    occurrences corpus-wide, and keep only the globally FIRST occurrence
    (minimum (doc_id, position)) of any repeated chunk. Documents are
    reassembled from their surviving chunks in order.

    Shape: one shuffle on the chunk text (both window functions — the
    occurrence count and the first-occurrence rank — share the same
    partitioning, so Spark plans a single exchange), then one shuffle
    back on doc_id to reassemble. Nothing is collected or broadcast; the
    chunk key is near-uniform (only true duplicates collide), and a
    pathological mega-duplicate (the same chunk in 10^7 docs) degrades
    one partition linearly, not quadratically — the rank window scans,
    it does not pair. Reassembly aggregates (position, chunk) structs
    and sorts per document: documents are bounded (a context window),
    so the per-group sort is O(doc) not O(corpus).

    Returns one row per document: n_chunks, n_dropped, kept_fraction,
    clean_text (empty string when every chunk was dropped).
    """
    # token array let-bound (bind_once) so the regex split runs once
    # per row, not once per chunk (r12)
    chunks = bind_once(
        tokens(F.col("text")),
        lambda toks: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int") - 1,
            ),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
            ),
        ),
    )
    occ = spread(docs.select(F.col("doc_id").alias("id"), F.col("text")), "id").select(
        "id", F.posexplode(chunks).alias("idx", "chunk")
    )
    wc = Window.partitionBy("chunk")
    wr = Window.partitionBy("chunk").orderBy("id", "idx")
    flagged = occ.select(
        "id",
        "idx",
        "chunk",
        (
            (F.count(F.lit(1)).over(wc) == 1)
            | (F.row_number().over(wr) == 1)
        ).alias("keep"),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("idx", "chunk")
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_chunks",
            "n_dropped",
            (
                (F.col("n_chunks") - F.col("n_dropped")).cast("double")
                / F.col("n_chunks")
            ).alias("kept_fraction"),
            "clean_text",
        )
    )


# --- Bloom-filter ingest prefilter --------------------------------------------

#: Bloom geometry: 2^20 bits in 60-bit words (60, not 64, keeps every
#: mask a positive BIGINT on both engines — no signed-shift edge cases),
#: 4 seeded md5 probes per key. Constants are part of the oracle
#: contract: the DuckDB twin replays the identical geometry.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 4
BLOOM_WORD_BITS = 60


def _bloom_positions(key: Column) -> Column:
    """Array of the K bit positions a key sets/probes (seeded md5 mod m)."""
    return F.array(
        *[md5_int64(key, seed=s) % BLOOM_M_BITS for s in range(BLOOM_K)]
    )


def bloom_bitmap(keys: DataFrame) -> DataFrame:
    """Distributed Bloom-filter build: explode each key's K positions,
    aggregate per 60-bit word with ``bit_or`` — a map-side-combinable
    integer aggregate, so the shuffle carries at most
    ``m/60 × partitions`` word rows regardless of corpus size. Returns
    the bitmap as (word, bits) rows: ~17k rows / ~280 KB at m=2^20,
    comfortably broadcastable to every probe task."""
    return (
        keys.select(F.explode(_bloom_positions(F.col("content_hash"))).alias("pos"))
        .select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_prefilter_dedup(batch: DataFrame, seen: DataFrame) -> DataFrame:
    """Ingest dedup against a massive seen-hash index, Bloom-prefiltered:
    instead of anti-joining every batch row against the full index, probe
    a broadcast Bloom bitmap of the index (map-only, no shuffle of the
    batch) and run the exact membership join ONLY for bloom-positive
    candidates — at steady state the overwhelmingly-new batch skips the
    big join almost entirely, and Bloom's no-false-negative guarantee
    makes the composition exact.

    Per batch document: ``bloom_hit`` (bitmap positive — includes the
    deterministic false positives of the fixed geometry) and ``is_dup``
    (exact membership, only ever true when bloom_hit is true).

    At 100 TB the bitmap outgrows a single broadcast (10^10 keys at
    10 bits/key ≈ 12 GB): shard the filter by key range — each probe
    task pmod-routes to its shard's bitmap — or keep per-ingest-round
    bitmaps and OR them lazily; the build and probe shapes here are
    per-shard unchanged.
    """
    h = F.md5(normalized_text(F.col("text")))
    keyed = batch.select(F.col("doc_id"), h.alias("content_hash"))
    bitmap = bloom_bitmap(seen)
    probe = keyed.select(
        "doc_id",
        "content_hash",
        F.explode(_bloom_positions(F.col("content_hash"))).alias("pos"),
    ).select(
        "doc_id",
        "content_hash",
        F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
        F.expr(
            f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD_BITS} as int))"
        ).alias("mask"),
    )
    hits = (
        probe.join(F.broadcast(bitmap), "word", "left")
        .groupBy("doc_id", "content_hash")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("bits").isNotNull()
                        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
                        1,
                    ).otherwise(0)
                )
                == 1
            ).alias("bloom_hit")
        )
    )
    dups = (
        hits.where("bloom_hit")
        .join(
            seen.select("content_hash").distinct(),
            "content_hash",
            "left_semi",
        )
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    return (
        hits.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "content_hash",
            "bloom_hit",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def lsh_pair_recall(docs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Measure the MinHash-LSH candidate generator against exhaustive
    ground truth — the quality gate a dedup deployment needs before
    trusting banding parameters: recall (what fraction of true
    near-dup pairs does at least one band surface?) and precision (what
    fraction of surfaced same-block pairs are true?).

    Ground truth is the exhaustive within-block shingle-Jaccard pair
    set at Jaccard ≥ 0.5; candidates are the banded pairs restricted to
    the same blocks, so recall is measured inside the universe the
    truth covers. Blocking keeps exhaustive truth affordable; at 100 TB
    this runs on a sampled block subset and the measured recall
    transfers (banding probability is corpus-size-free).

    Cost discipline: the exploded shingle table is computed ONCE and
    localCheckpointed — BOTH pipelines (gram-group truth pairing and
    the minhash/banding candidates) read it, instead of re-deriving
    shingles from text per pipeline (measured ~2× end-to-end). Truth
    pairs come from one shuffle on the gram key: sort the ids sharing a
    gram and emit (i < j) combinations from the array — no two-sided
    self-join. |A∩B| is a pair count; |A| falls out of the same table
    (shingles are per-doc distinct, so a doc's size = its gram rows).

    Returns one row: n_truth, n_candidates, n_matched, recall,
    precision (NULL when the denominator set is empty).
    """
    grams = pin(  # computed once, read by both pipelines
        spread(
            docs.select(*group_cols, F.col("doc_id").alias("id"), F.col("text")),
            "id",
        )
        .select(*group_cols, "id", F.explode(shingles(F.col("text"), 3)).alias("g"))
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        grams.groupBy(*group_cols, "g")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    truth = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .where(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= 0.5
        )
        .select("id_a", "id_b")
    )
    # candidate pipeline from the SAME gram table
    h = grams.select("id", (md5_int64(F.col("g")) % MINHASH_MOD).alias("h"))
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_MOD).alias(f"m{j}")
        for j, (a, b) in enumerate(minhash_perm_coeffs(DEFAULT_NUM_HASHES))
    ]
    sigs = (
        h.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"m{j}" for j in range(DEFAULT_NUM_HASHES)]).alias("sig"))
    )
    banded = sigs.select(
        "id", F.explode(lsh_band_hashes(F.col("sig"))).alias("b")
    ).select("id", "b.band_id", "b.band_hash")
    cand_pairs = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    meta = grams.select("id", *group_cols).distinct()
    cands = (
        cand_pairs.join(
            meta.select(F.col("id").alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in group_cols]),
            "id_a",
        )
        .join(
            meta.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in group_cols]),
            "id_b",
        )
        .where(
            F.lit(True)
            if not group_cols
            else F.expr(" AND ".join(f"a_{c} = b_{c}" for c in group_cols))
        )
        .select("id_a", "id_b")
    )
    # ONE pass per pipeline: a full outer join tags each pair with
    # membership, one aggregate produces every measurement. Separate
    # count aggregates would re-execute the truth and candidate
    # pipelines once per metric (measured 3x+ the cost).
    both = truth.withColumn("in_truth", F.lit(True)).join(
        cands.withColumn("in_cand", F.lit(True)), ["id_a", "id_b"], "full"
    )
    return both.agg(
        F.count("in_truth").alias("n_truth"),
        F.count("in_cand").alias("n_candidates"),
        F.count(F.when(F.col("in_truth") & F.col("in_cand"), 1)).alias("n_matched"),
    ).select(
        "n_truth",
        "n_candidates",
        "n_matched",
        F.when(F.col("n_truth") > 0, F.col("n_matched") / F.col("n_truth")).alias(
            "recall"
        ),
        F.when(
            F.col("n_candidates") > 0, F.col("n_matched") / F.col("n_candidates")
        ).alias("precision"),
    )


def rare_term_cosine_pairs(
    docs: DataFrame,
    *,
    max_df: int = 20,
    min_cosine_ppm: int = 500_000,
    top_k: int = 50,
) -> DataFrame:
    """Document-pair cosine similarity over the DISCRIMINATIVE term
    subspace — term-frequency cosine over word-trigram phrases whose
    document frequency is ≤ ``max_df``, with high-df phrases excluded
    from both the dot product and the norms. The textbook tf-idf
    cosine downweights common terms smoothly; the hard df cutoff is
    the integer-exact limit of that curve (idf → ~0 for stopword-df
    terms) AND the blocking strategy in one: the pair frame comes from
    the same rare-term equi-join the containment dedup uses, so no
    all-pairs step ever exists. The multiset (tf-weighted) sibling of
    the set-based :mod:`~kinesis_stream_spark.operators.setjoin` —
    phrase terms are MULTISET counts here (no array_distinct — a
    doc repeating a phrase five times should score closer to one that
    repeats it four times than to one containing it once), where
    PPJoin asks about shared shingle SETS. Terms are phrases, not
    unigrams, because unigram df concentrates at the corpus scale
    (every word of a natural vocabulary is common at 100 TB) while
    phrase df keeps the discriminative tail the cap selects.

    Cross-engine exactness: tf counts exact; dot = Σ tf_a·tf_b and
    the subspace norms Σ tf² accumulate in BIGINT/DECIMAL(38,0);
    cosine = dot/√(na·nb) — one VARCHAR-routed cast, one sqrt, one
    divide (the item-cosine chain). The threshold prunes on exact
    integers BEFORE the float: dot²·10^12 ≥ min_cosine_ppm²·na·nb in
    DECIMAL(38,0) — both sides are cosine²·10^12, no float in the
    predicate.

    Output: top ``top_k`` pairs (id_a < id_b) by (cosine DESC, id_a,
    id_b): (id_a, id_b, n_shared_terms, dot, cosine).

    Scale shape: one explode → (doc, token) tf frame (combinable); df
    prune to the rare subspace (map-side after one vocab-keyed
    aggregate); pair products from the token-keyed equi-join whose
    fan-out is Σ df² over RARE tokens only (≤ max_df² per token — the
    containment max_df discipline); norms join back per-doc;
    TakeOrderedAndProject top-k. Never all-pairs, never a global
    sort."""
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    if not 0 < min_cosine_ppm <= 1_000_000:
        raise ValueError(
            f"min_cosine_ppm must be in (0, 1000000], got {min_cosine_ppm}"
        )
    d38 = "decimal(38,0)"
    # the shingles() helper minus its array_distinct: multiset counts;
    # token array let-bound (bind_once) so the regex split runs once
    # per row, not once per shingle position (r12)
    grams = bind_once(
        tokens(F.col("text")),
        lambda toks: F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i, 3), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " "))),
    )
    # tf feeds the df aggregate and the rare-subspace join —
    # checkpoint so the gram explode + tf aggregate runs once
    tf = pin(
        docs.where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(grams).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # rare feeds three consumers (norms + both pair-join sides) —
    # checkpoint so the df prune join runs once (intra-query cuts,
    # recomputed per call)
    rare = pin(tf.join(
        dfc.where(F.col("df") <= max_df).select("tok"), "tok"
    ))
    norms = rare.groupBy("doc").agg(
        F.sum((F.col("tf").cast(d38) * F.col("tf")).cast(d38))
        .cast("long")
        .alias("norm2"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum(
                (F.col("a.tf").cast(d38) * F.col("b.tf")).cast(d38)
            )
            .cast("long")
            .alias("dot"),
        )
    )
    na = norms.select(
        F.col("doc").alias("id_a"), F.col("norm2").alias("na")
    )
    nb = norms.select(
        F.col("doc").alias("id_b"), F.col("norm2").alias("nb")
    )
    scored = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        # integer prune: cosine² ≥ t² ⇔ dot²·10^12 ≥ t_ppm²·na·nb
        .where(
            F.expr(
                f"cast(dot as {d38}) * dot * 1000000 * 1000000"
                f" >= cast({min_cosine_ppm} as {d38})"
                f" * {min_cosine_ppm} * (cast(na as {d38}) * nb)"
            )
        )
        .select(
            "id_a",
            "id_b",
            "n_shared_terms",
            "dot",
            (
                F.col("dot").cast("double")
                / F.sqrt(
                    F.expr(
                        f"cast(cast(cast(na as {d38}) * nb"
                        f" as string) as double)"
                    )
                )
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("id_a"), F.asc("id_b")
    ).limit(top_k)


def sql_rare_term_cosine_pairs(
    *,
    max_df: int = 20,
    min_cosine_ppm: int = 500_000,
    top_k: int = 50,
) -> str:
    """DuckDB oracle twin of :func:`rare_term_cosine_pairs`."""
    toks = sql_tokens("text")
    return f"""
    WITH d AS (
      SELECT doc_id AS doc, {toks} AS toks
      FROM documents WHERE text IS NOT NULL),
    tok AS (
      SELECT doc,
             UNNEST(CASE WHEN LEN(toks) >= 3 THEN
               [ARRAY_TO_STRING(toks[i:i+2], ' ')
                FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS tok
      FROM d),
    tf AS (
      SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE tok != '' GROUP BY 1, 2),
    dfc AS (SELECT tok FROM tf GROUP BY tok
            HAVING COUNT(*) <= {max_df}),
    rare AS (SELECT t.doc, t.tok, t.tf FROM tf t JOIN dfc USING (tok)),
    norms AS (
      SELECT doc,
             CAST(SUM(CAST(tf AS HUGEINT) * tf) AS BIGINT) AS norm2,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM rare GROUP BY 1),
    pairs AS (
      SELECT a.doc AS id_a, b.doc AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             CAST(SUM(CAST(a.tf AS HUGEINT) * b.tf) AS BIGINT) AS dot
      FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc < b.doc
      GROUP BY 1, 2),
    scored AS (
      SELECT p.id_a, p.id_b, p.n_shared_terms, p.dot,
             CAST(p.dot AS DOUBLE)
               / SQRT(CAST(CAST(CAST(na.norm2 AS HUGEINT) * nb.norm2
                                AS VARCHAR) AS DOUBLE)) AS cosine
      FROM pairs p
      JOIN norms na ON p.id_a = na.doc
      JOIN norms nb ON p.id_b = nb.doc
      WHERE CAST(p.dot AS HUGEINT) * p.dot * 1000000 * 1000000
            >= CAST({min_cosine_ppm} AS HUGEINT) * {min_cosine_ppm}
               * (CAST(na.norm2 AS HUGEINT) * nb.norm2))
    SELECT * FROM scored
    ORDER BY cosine DESC, id_a, id_b
    LIMIT {top_k}
    """
