"""Operator-level tests for the dedup family (the oracle-parity suite
covers the query wrappers; these exercise the knobs the wrappers don't).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.dedup import ngram_jaccard_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_ngram_jaccard_max_df_drops_stopword_pairs(spark):
    # "the" appears in every doc (df=4 > max_df=3) and is the ONLY
    # shared token between docs 3 and 4 — with the cap their pair must
    # disappear; docs 1/2 share real content tokens and must survive.
    rows = [
        (1, "en", "the quick brown fox"),
        (2, "en", "the quick brown dog"),
        (3, "en", "the alpha beta gamma"),
        (4, "en", "the delta epsilon zeta"),
    ]
    docs = _docs(spark, rows)
    uncapped = ngram_jaccard_pairs(docs, ["lang"], threshold=0.0)
    capped = ngram_jaccard_pairs(docs, ["lang"], threshold=0.0, max_df=3)

    un_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cap_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (3, 4) in un_pairs
    assert (3, 4) not in cap_pairs
    assert (1, 2) in cap_pairs


def test_ngram_jaccard_max_df_is_strict_underestimate(spark):
    rows = [
        (1, "en", "the quick brown fox"),
        (2, "en", "the quick brown dog"),
        (3, "en", "the alpha beta gamma"),
        (4, "en", "the delta epsilon zeta"),
    ]
    docs = _docs(spark, rows)
    un = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, ["lang"], threshold=0.0).collect()
    }
    cap = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, ["lang"], threshold=0.0, max_df=3).collect()
    }
    # capped scores never exceed uncapped, and no new pairs appear
    assert set(cap) <= set(un)
    for pair, j in cap.items():
        assert j <= un[pair] + 1e-12


def test_ngram_jaccard_sizes_join_not_hinted_broadcast(spark):
    # the per-doc sizes table is O(n_docs); the operator must not pin a
    # driver-side broadcast hint on it (AQE may still choose broadcast
    # at tiny SF — that's fine; the *hint* is the 100 TB hazard)
    docs = _docs(spark, [(1, "en", "a b"), (2, "en", "a c")])
    plan = ngram_jaccard_pairs(docs, ["lang"])._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint broadcast" not in plan


def test_containment_max_df_drops_hot_shingle_pairs(spark):
    # the boilerplate banner "click here to accept cookies now" opens
    # every doc (each of its shingles has df=4 > max_df=3) and is the
    # ONLY overlap between docs 3 and 4 — with the cap their pair must
    # disappear. Doc 2 is a true prefix of doc 1: uncapped containment
    # is 1.0; capped drops the 4 banner shingles from the NUMERATOR only
    # (doc 2 keeps all 8 shingles in the denominator) → exactly 4/8 —
    # the documented strict-underestimate, not a silent re-normalization.
    from kinesis_stream_spark.operators.dedup import containment_pairs

    banner = "click here to accept cookies now"
    rows = [
        (1, "en", banner + " quick brown fox jumps over the lazy dog"),
        (2, "en", banner + " quick brown fox jumps"),
        (3, "en", banner + " alpha beta gamma delta"),
        (4, "en", banner + " epsilon zeta eta theta"),
    ]
    docs = _docs(spark, rows)
    un = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, ["lang"], threshold=0.0).collect()
    }
    cap = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, ["lang"], threshold=0.0, max_df=3
        ).collect()
    }
    assert (3, 4) in un and (3, 4) not in cap
    assert un[(1, 2)] == 1.0
    assert cap[(1, 2)] == 0.5
    # strict underestimate: no new pairs, no score ever rises
    assert set(cap) <= set(un)
    for pair, c in cap.items():
        assert c <= un[pair] + 1e-12


def test_containment_sizes_unaffected_by_cap(spark):
    # sizes come from the UNFILTERED shingle sets: a pair sharing both
    # hot and unique shingles keeps its denominator, so only the
    # intersection shrinks under the cap
    from kinesis_stream_spark.operators.dedup import containment_pairs

    rows = [
        (1, "en", "common one two three unique alpha beta gamma"),
        (2, "en", "common one two three unique delta epsilon zeta"),
        (3, "en", "common one two three othera otherb otherc otherd"),
        (4, "en", "common one two three othere otherf otherg otherh"),
    ]
    docs = _docs(spark, rows)
    un = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, ["lang"], threshold=0.0).collect()
    }
    cap = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, ["lang"], threshold=0.0, max_df=3
        ).collect()
    }
    # every doc shares the df=4 "common one two three" shingle run; the
    # capped intersection drops exactly those grams while min(|A|,|B|)
    # is unchanged, so every capped score is strictly below uncapped
    for pair in cap:
        assert cap[pair] < un[pair]


def test_connected_components_transitive_chain(spark):
    # chain 1-2-3 plus isolated pair 10-11: labels must propagate
    # transitively (1,2,3 → comp 1) without merging the other component
    from kinesis_stream_spark.operators.dedup import (
        connected_components,
        duplicate_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.v: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    clusters = {
        r.canonical_id: (r.cluster_size, r.max_id)
        for r in duplicate_clusters(edges).collect()
    }
    assert clusters == {1: (3, 3), 10: (2, 11)}


def test_connected_components_long_chain_converges(spark):
    # a 12-vertex path needs ~diameter rounds — exercises the iteration
    # loop and the convergence check, not just one propagation step
    from kinesis_stream_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    comp = {r.v: r.comp for r in connected_components(edges).collect()}
    assert comp == {v: 1 for v in range(1, 13)}


def test_connected_components_releases_checkpoint_blocks(spark):
    # every intermediate localCheckpoint except the returned labels must
    # be unpersisted — at scale a leaked per-round label copy holds
    # O(iterations × |V|) block-manager storage for the session
    from kinesis_stream_spark.operators.dedup import connected_components
    from kinesis_stream_spark.operators.lineage import release

    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    labels = connected_components(edges)
    labels.collect()  # result must stay usable after the internal releases
    leaked = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before
    # only the returned labels' own checkpoint may remain resident
    assert len(leaked) <= 1, leaked
    release(labels)
    remaining = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before
    assert not remaining, remaining


def test_connected_components_raises_instead_of_partial_output(spark):
    # a 41-vertex path needs 40 propagation rounds; with a cap of 5 the
    # loop must refuse to return labels that are still mid-propagation
    from kinesis_stream_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 41)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="no fixpoint"):
        connected_components(edges, max_iterations=5)
    # the same path with room to converge labels everything 1
    comp = {r.v: r.comp for r in connected_components(edges, max_iterations=41).collect()}
    assert comp == {v: 1 for v in range(1, 42)}


def test_exact_dedup_incremental_edges(spark):
    from kinesis_stream_spark.operators.dedup import (
        exact_dedup_incremental,
        seen_hashes,
    )

    corpus = _docs(spark, [(1, "en", "seen doc one"), (2, "en", "seen doc two")])
    seen = seen_hashes(corpus)
    # batch: one genuinely new doc, one re-delivery of a seen doc (other
    # id), one in-batch duplicate pair (min id must win), one
    # normalization-equivalent re-delivery (case/whitespace)
    batch = _docs(
        spark,
        [
            (10, "en", "brand new doc"),
            (11, "en", "seen doc one"),
            (12, "en", "dup in batch"),
            (13, "en", "dup in batch"),
            (14, "en", "  SEEN   DOC TWO "),
        ],
    )
    out = {r.doc_id for r in exact_dedup_incremental(batch, seen).collect()}
    assert out == {10, 12}
    # all-duplicates batch -> empty survivors
    redeliver = _docs(spark, [(20, "en", "seen doc one")])
    assert exact_dedup_incremental(redeliver, seen).count() == 0


def test_exact_dedup_incremental_maintained_index_loop(spark):
    """The maintained-index contract the docstring promises: each
    round's survivors APPEND to the seen index (never re-derived from
    the corpus), so a duplicate of a round-N survivor arriving in round
    N+2 is dropped by the index alone."""
    from kinesis_stream_spark.operators.dedup import (
        exact_dedup_incremental,
        seen_hashes,
    )

    rounds = [
        _docs(spark, [(1, "en", "alpha doc"), (2, "en", "beta doc")]),
        _docs(spark, [(10, "en", "gamma doc")]),
        # round 3: re-deliveries of a round-1 and a round-2 survivor
        # (different ids, one normalization-variant) + one new doc
        _docs(
            spark,
            [(20, "en", "  ALPHA   doc"), (21, "en", "gamma doc"), (22, "en", "delta doc")],
        ),
    ]
    seen = seen_hashes(_docs(spark, []).select("doc_id", "lang", "text"))
    survivors_by_round = []
    for batch in rounds:
        kept = exact_dedup_incremental(batch, seen)
        survivors_by_round.append({r.doc_id for r in kept.collect()})
        # append THIS round's surviving hashes to the index — O(round),
        # the corpus itself is never rescanned
        seen = seen.unionByName(kept.select("content_hash")).distinct()
    assert survivors_by_round == [{1, 2}, {10}, {22}]
    # the index holds exactly the 4 distinct surviving hashes
    assert seen.count() == 4


def test_duplicate_chunk_removal_keeps_first_occurrence(spark):
    from kinesis_stream_spark.operators.dedup import duplicate_chunk_removal

    # 2-token chunks: d1 = [a b][c d], d2 repeats [a b] then unique tail,
    # d3 is entirely a copy of d1's second chunk
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "c d")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicate_chunk_removal(docs, chunk_tokens=2).collect()
    }
    assert out[1].n_dropped == 0 and out[1].clean_text == "a b c d"
    assert out[2].n_dropped == 1 and out[2].clean_text == "x y"
    assert out[3].n_dropped == 1 and out[3].clean_text == ""
    assert out[3].kept_fraction == 0.0
    assert out[1].kept_fraction == 1.0


def test_duplicate_chunk_removal_partial_tail_chunk(spark):
    from kinesis_stream_spark.operators.dedup import duplicate_chunk_removal

    # 5 tokens with chunk_tokens=2 -> 3 chunks, last is the 1-token tail
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string")
    row = duplicate_chunk_removal(docs, chunk_tokens=2).collect()[0]
    assert row.n_chunks == 3 and row.n_dropped == 0
    assert row.clean_text == "a b c d e"


def test_bloom_prefilter_no_false_negatives_and_detects_dups(spark):
    from kinesis_stream_spark.operators.dedup import (
        BLOOM_M_BITS,
        BLOOM_WORD_BITS,
        bloom_bitmap,
        bloom_prefilter_dedup,
        seen_hashes,
    )
    from pyspark.sql import functions as F

    seen_docs = spark.createDataFrame(
        [(i, f"seen doc number {i}") for i in range(50)], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, f"seen doc number {i}") for i in range(0, 50, 5)]  # redeliveries
        + [(200 + i, f"fresh doc number {i}") for i in range(20)],    # new
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in bloom_prefilter_dedup(batch, seen_hashes(seen_docs)).collect()}
    assert len(out) == 30
    for i in range(0, 50, 5):  # every redelivery must be caught exactly
        assert out[100 + i].bloom_hit and out[100 + i].is_dup
    for r in out.values():     # Bloom guarantee: dup => hit
        assert r.bloom_hit or not r.is_dup
    fresh_dup = [r for r in out.values() if r.doc_id >= 200 and r.is_dup]
    assert fresh_dup == []
    # bitmap geometry: word indexes inside m/60, masks folded into bits
    bm = bloom_bitmap(seen_hashes(seen_docs)).collect()
    assert all(0 <= r.word < BLOOM_M_BITS // BLOOM_WORD_BITS + 1 for r in bm)
    assert all(r.bits > 0 for r in bm)


def test_sq8_codes_bounds_and_duplicate_top1(spark):
    from kinesis_stream_spark.operators.similarity import sq8_codes, topk_sq8
    from pyspark.sql import functions as F
    import random

    rng = random.Random(7)
    dim = 8
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(20)]
    vecs[3][5] = 0.5
    for v in vecs:
        v[7] = 0.25  # constant dimension -> code 0 everywhere
    vecs.append(list(vecs[0]))  # vec 20 duplicates vec 0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    codes = {r.vec_id: r.codes for r in sq8_codes(emb, dim=dim).collect()}
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    assert all(cs[7] == 0 for cs in codes.values())
    assert codes[0] == codes[20]
    # ranking matches an independent integer-dot replay over the codes
    top = topk_sq8(emb, emb.where(F.col("vec_id") == 0), k=3, dim=dim).collect()
    scores = {
        nid: sum(a * b for a, b in zip(codes[0], cs))
        for nid, cs in codes.items()
        if nid != 0
    }
    expect = sorted(scores, key=lambda n: (-scores[n], n))[:3]
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)] == expect
    assert all(r.qscore == scores[r.neighbor_id] for r in top)


def test_lsh_pair_recall_counts_on_known_corpus(spark):
    from kinesis_stream_spark.operators.dedup import lsh_pair_recall

    # 3 originals + 1 exact copy of doc 0: truth = {(0, 10)}; the exact
    # copy shares every band, so LSH must surface it -> recall 1.0
    docs = spark.createDataFrame(
        [
            (0, "g", "a b c d e f g h i j k l"),
            (1, "g", "z y x w v u t s r q p o"),
            (2, "g", "m n aa bb cc dd ee ff gg hh"),
            (10, "g", "a b c d e f g h i j k l"),
        ],
        "doc_id int, grp string, text string",
    )
    row = lsh_pair_recall(docs, ["grp"]).collect()[0]
    assert row.n_truth == 1 and row.n_matched == 1
    assert row.recall == 1.0
    assert row.n_candidates >= 1 and 0 < row.precision <= 1.0


def test_lsh_pair_recall_empty_corpus_nulls(spark):
    from kinesis_stream_spark.operators.dedup import lsh_pair_recall

    docs = spark.createDataFrame([], "doc_id long, grp string, text string")
    row = lsh_pair_recall(docs, ["grp"]).collect()[0]
    assert row.n_truth == 0 and row.n_candidates == 0 and row.n_matched == 0
    assert row.recall is None and row.precision is None


def test_pair_distance_histogram_consistent_with_threshold_path(spark):
    """The histogram's mass at distances ≤ k must equal the number of
    pairs near_duplicates_simhash emits at max_hamming=k — the two
    operators share the blocking core, so their totals must reconcile."""
    from kinesis_stream_spark.operators.dedup import (
        near_duplicates_simhash,
        pair_distance_histogram,
    )

    rows = [
        (1, "en", "alpha beta gamma delta epsilon zeta"),
        (2, "en", "alpha beta gamma delta epsilon zeta"),   # exact copy
        (3, "en", "alpha beta gamma delta epsilon eta"),    # near copy
        (4, "en", "theta iota kappa lambda mu nu"),
        (5, "en", "theta iota kappa lambda mu nu xi"),      # near copy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # SAME blocking on both sides: the identity is about one candidate
    # set viewed two ways, and blocks=8 keeps the pigeonhole complete
    # through hamming<=7 (blocks=4 would only guarantee <=3)
    hist = {
        r.hamming: r.n_pairs
        for r in pair_distance_histogram(docs, blocks=8).collect()
    }
    for k in (0, 3, 7):
        thr = near_duplicates_simhash(docs, max_hamming=k, blocks=8).count()
        assert sum(n for h, n in hist.items() if h <= k) == thr, (k, hist)
