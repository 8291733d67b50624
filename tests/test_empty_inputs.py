"""Degenerate-input robustness: every operator family must return an
empty (not crashed) result on an empty corpus — pipelines at scale hit
empty partitions, empty date slices, and empty ingest rounds routinely.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def empties(spark):
    return {
        "docs": spark.createDataFrame(
            [], "doc_id long, lang string, source string, text string"
        ),
        "emb": spark.createDataFrame(
            [], "vec_id long, label long, embedding array<double>"
        ),
        "edges": spark.createDataFrame([], "id_a long, id_b long"),
    }


def test_dedup_family_empty(spark, empties):
    from kinesis_stream_spark.operators import dedup

    docs, edges = empties["docs"], empties["edges"]
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.near_duplicates_minhash(docs).count() == 0
    assert dedup.near_duplicates_simhash(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs, ["lang"]).count() == 0
    assert dedup.connected_components(edges).count() == 0
    assert dedup.exact_dedup_incremental(docs, dedup.seen_hashes(docs)).count() == 0


def test_similarity_family_empty(spark, empties):
    from kinesis_stream_spark.operators import similarity

    emb = empties["emb"]
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    assert similarity.cosine_pairs(emb, group_cols=["label"], threshold=0.5).count() == 0
    assert similarity.topk_bruteforce(emb, q).count() == 0
    assert similarity.ann_recall(
        spark.createDataFrame([], "query_id long, neighbor_id long, rank int"),
        spark.createDataFrame([], "query_id long, neighbor_id long, rank int"),
    ).count() == 0


def test_text_family_empty(spark, empties):
    from kinesis_stream_spark.operators import text

    docs = empties["docs"]
    assert text.token_stats(docs).count() == 0
    assert text.quality_features(docs).count() == 0
    assert text.repetition_stats(docs).count() == 0
    assert text.boilerplate_fraction(docs).count() == 0
    assert text.pii_scrub(docs).count() == 0
    assert text.winnowed_fingerprints(docs).count() == 0
    assert text.pack_sequences(docs, capacity=10).count() == 0
    assert text.stratified_sample(docs, {"en": 0.5}).count() == 0
    assert text.decontaminate_ngram_overlap(docs, docs).count() == 0


def test_round4_operators_empty(spark, empties):
    from kinesis_stream_spark.operators import dedup, profile, text
    from kinesis_stream_spark.streaming import windows

    docs = empties["docs"]
    assert dedup.containment_pairs(docs, ["lang"]).count() == 0
    assert text.token_rarity(docs).count() == 0
    assert profile.profile_columns(docs, ["doc_id", "lang"]).count() == 2  # 1 row/col
    events = spark.createDataFrame(
        [], "ts timestamp, user_id bigint, event_type string, value double"
    )
    dim = spark.createDataFrame([], "c_custkey bigint, c_mktsegment string")
    assert windows.static_enrich_agg(events, dim).count() == 0
    assert windows.session_funnel_agg(events).count() == 0
    assert windows.rate_anomaly(events).count() == 0


def test_payload_bytes_empty_and_short(spark):
    """Spark's sequence(1, n<=0) counts DOWN — the byte/shingle index
    guards must yield EMPTY arrays (matching DuckDB RANGE), not fake
    [1, 0] indexes, for payloads shorter than the window."""
    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.multimodal import (
        hex_shingle_text,
        payload_bytes,
        payload_near_duplicates,
    )

    media = spark.createDataFrame(
        [(1, bytes()), (2, b"\x01"), (3, b"\x01\x02\x03\x04\x05"), (4, None), (5, b"\xff")],
        "media_id long, payload binary",
    )
    rows = {
        r.media_id: (r.b, r.sh)
        for r in media.select(
            "media_id",
            payload_bytes(F.col("payload")).alias("b"),
            hex_shingle_text(F.hex(F.col("payload"))).alias("sh"),
        ).collect()
    }
    assert rows[1] == ([], "")
    assert rows[2] == ([1], "")  # 1 byte: no 4-byte shingle
    assert rows[3][0] == [1, 2, 3, 4, 5]
    assert rows[3][1] == "01020304 02030405"  # two sliding 4-byte shingles
    assert rows[4] == (None, None)  # NULL payload stays NULL (SQL semantics)
    # tiny payloads are excluded before fingerprinting: two DIFFERENT
    # 1-byte payloads (and the empty/NULL ones) must not pair up via the
    # shared-empty-shingle-text fingerprint
    assert payload_near_duplicates(media).count() == 0


def test_round4b_operators_empty(spark, empties):
    from kinesis_stream_spark.operators import dedup, similarity, temporal, text

    docs, emb = empties["docs"], empties["emb"]
    events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id bigint, event_type string, value double",
    )
    assert dedup.duplicate_chunk_removal(docs).count() == 0
    assert dedup.bloom_prefilter_dedup(docs, dedup.seen_hashes(docs)).count() == 0
    assert text.domain_cap(docs).count() == 0
    assert text.leakage_safe_split(docs, empties["edges"].selectExpr(
        "id_a AS doc_id", "id_b AS cluster_id")).count() == 0
    assert similarity.sq8_codes(emb).count() == 0
    assert similarity.topk_sq8(emb, emb.selectExpr("vec_id")).count() == 0
    assert temporal.gap_fill_forward(events).count() == 0
    assert temporal.scd2_compact(events).count() == 0
    assert temporal.mad_outliers(events).count() == 0
    # rollup over empty input: no key rows survive the GROUPING filter
    assert temporal.multires_rollup(events).count() == 0


def test_round4c_operators_empty(spark, empties):
    from kinesis_stream_spark.operators import similarity, text

    docs, emb = empties["docs"], empties["emb"]
    probes = spark.createDataFrame([], "probe_id long, probe string")
    assert text.weighted_mixture(docs, {"src0": 2.5}).count() == 0
    assert text.exact_substring_decontaminate(docs, probes).count() == 0
    # empty probe set against a non-empty corpus: the cross join yields
    # zero hit rows, so the per-doc aggregate is empty (no crash, no
    # fabricated zero-hit rows)
    some_docs = spark.createDataFrame(
        [(1, "en", "s", "hello world")], "doc_id long, lang string, source string, text string"
    )
    assert text.exact_substring_decontaminate(some_docs, probes).count() == 0
    # all-degenerate probe set behaves like an empty one: zero rows
    # (no verdicts), NOT a fabricated all-clean per-doc report
    degenerate = spark.createDataFrame(
        [(1, ""), (2, None)], "probe_id long, probe string"
    )
    assert text.exact_substring_decontaminate(some_docs, degenerate).count() == 0
    assert similarity.cluster_balance(emb).count() == 0
    from kinesis_stream_spark.operators import profile, temporal

    snaps = spark.createDataFrame([], "doc_id long, fp string")
    assert profile.snapshot_diff(snaps, snaps).count() == 0
    events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id bigint, event_type string, value double",
    )
    assert temporal.transition_matrix(events).count() == 0
    assert temporal.winsorize_stats(events).count() == 0
    # global-aggregate summary: ONE row of zeros on an empty corpus
    norm = text.normalize_summary(docs).collect()
    assert len(norm) == 1 and norm[0].n_docs == 0 and norm[0].n_changed == 0


def test_round5_operators_empty(spark, empties):
    from kinesis_stream_spark.operators import dedup, temporal, text

    docs = empties["docs"]
    assert dedup.pair_distance_histogram(docs).count() == 0
    assert text.collocations(docs).count() == 0
    events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id bigint, event_type string, value double",
    )
    assert temporal.simpson_diversity(events).count() == 0


def test_round10_operators_empty(spark, empties):
    from kinesis_stream_spark.operators.experiment import ab_delta_ratio
    from kinesis_stream_spark.operators.profile import (
        hellinger_drift,
        quality_scorecard,
        spearman_correlation,
    )
    from kinesis_stream_spark.operators.sampling import (
        weighted_priority_sample,
    )
    from kinesis_stream_spark.operators.similarity import range_search
    from kinesis_stream_spark.operators.skew import join_cardinality_profile
    from kinesis_stream_spark.operators.temporal import linear_interpolation
    from kinesis_stream_spark.operators.text import lm_plausibility

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    assert linear_interpolation(ev).count() == 0
    assert spearman_correlation(
        ev, group_col="event_type", x_col="value", y_col="value"
    ).count() == 0
    assert hellinger_drift(ev).count() == 0
    # the A/B pivot emits its one row even on an empty corpus
    r = ab_delta_ratio(ev).collect()
    assert len(r) == 1 and r[0].n_control == 0 and r[0].z_delta is None
    assert weighted_priority_sample(
        ev, group_col="event_type", id_col="event_id",
        weight_col="value", k=3,
    ).count() == 0
    assert lm_plausibility(empties["docs"]).count() == 0
    emb = empties["emb"]
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    assert range_search(emb, q, threshold=0.5).count() == 0
    # empty join sides: the total row still reports zeros
    jp = join_cardinality_profile(
        ev, ev, left_key="event_id", right_key="event_id"
    ).collect()
    assert len(jp) == 1 and jp[0].join_rows == 0
    sc = quality_scorecard(
        ev, [{"name": "nn", "kind": "not_null", "col": "event_id"}]
    ).collect()
    assert len(sc) == 1 and sc[0].n_rows == 0
    assert sc[0].violation_ppm is None and sc[0].passed
