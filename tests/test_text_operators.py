"""Operator-level tests for repetition stats, PII scrubbing, and ANN
recall (oracle parity covers the query wrappers; these pin hand-checked
values and contract edges)."""

from __future__ import annotations

from kinesis_stream_spark.operators.similarity import ann_recall
from kinesis_stream_spark.operators.text import pii_scrub, repetition_stats


def test_repetition_stats_hand_checked(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, "c c c c")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]  # tokens a,a,b; bigrams "a a","a b"
    assert r1.n_tokens == 3
    assert abs(r1.top_token_fraction - 2 / 3) < 1e-12
    assert abs(r1.dup_token_fraction - 2 / 3) < 1e-12
    assert r1.n_bigrams == 2
    assert r1.top_bigram_fraction == 0.5
    assert r1.dup_bigram_fraction == 0.0
    r2 = rows[2]  # single token: no bigrams, fractions null
    assert r2.n_tokens == 1 and r2.n_bigrams == 0
    assert r2.top_bigram_fraction is None and r2.dup_bigram_fraction is None
    assert r2.top_token_fraction == 1.0 and r2.dup_token_fraction == 0.0
    r3 = rows[3]  # c×4: bigrams "c c"×3, all duplicates
    assert r3.top_token_fraction == 1.0 and r3.dup_token_fraction == 1.0
    assert r3.n_bigrams == 3
    assert r3.top_bigram_fraction == 1.0 and r3.dup_bigram_fraction == 1.0


def test_pii_scrub_counts_and_masking(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-7.org and 192.168.0.1 call +49 123 4567 done"),
            (2, "no pii here"),
            (3, "two mails x@y.io z@w.co one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (1, 1, 1)
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 0, 0)
    assert (rows[3].n_email, rows[3].n_ipv4, rows[3].n_phone) == (2, 1, 0)
    # unscathed doc: scrubbed text is the original
    import hashlib

    assert rows[2].scrubbed_md5 == hashlib.md5(b"no pii here").hexdigest()
    assert rows[2].scrubbed_len == len("no pii here")
    # masked doc: tags replace the spans
    scrubbed_1 = "mail <EMAIL> and <IPV4> call <PHONE> done"
    assert rows[1].scrubbed_md5 == hashlib.md5(scrubbed_1.encode()).hexdigest()
    assert rows[1].scrubbed_len == len(scrubbed_1)


def test_ann_recall_hand_checked(spark):
    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2), (2, 30, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(0, 10, 1), (0, 99, 2), (1, 21, 1), (1, 20, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    rows = {r.query_id: r for r in ann_recall(approx, exact, k=10).collect()}
    assert rows[0].n_hits == 1 and rows[0].n_exact == 2 and rows[0].recall == 0.5
    assert rows[1].n_hits == 2 and rows[1].recall == 1.0
    # query 2: approx found nothing — recall 0, not a missing row
    assert rows[2].n_hits == 0 and rows[2].recall == 0.0


def test_domain_cap_enforces_cap_and_is_partition_stable(spark):
    from kinesis_stream_spark.operators.text import domain_cap

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id int, source string"
    )
    out = domain_cap(docs, cap=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    for rows in by_src.values():
        assert len(rows) == 5
        assert sorted(r.pick_rank for r in rows) == [1, 2, 3, 4, 5]
        assert all(r.n_domain_docs == 20 for r in rows)
    # deterministic under repartitioning: same survivors
    again = domain_cap(docs.repartition(7), cap=5).collect()
    assert {(r.doc_id, r.pick_rank) for r in again} == {
        (r.doc_id, r.pick_rank) for r in out
    }


def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.dedup import connected_components
    from kinesis_stream_spark.operators.text import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id int")
    # near-dup chain 1-2-3 (3 never paired with 1) and pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    comp = connected_components(edges).select(
        F.col("v").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    out = {r.doc_id: r for r in leakage_safe_split(docs, comp).collect()}
    assert len(out) == 30
    # transitive members share cluster AND split
    assert out[1].split == out[2].split == out[3].split
    assert out[1].cluster_id == out[3].cluster_id == 1
    assert out[10].split == out[11].split
    # unclustered docs are singletons keyed by their own id
    assert out[7].cluster_id == 7
    assert {r.split for r in out.values()} <= {"train", "val", "test"}


def test_weighted_mixture_repeat_factors(spark):
    from kinesis_stream_spark.operators.text import weighted_mixture

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)],
        "doc_id int, source string",
    )
    # integer weights are exact (no hash fraction): 2 copies of every
    # 'a' doc, 'b' dropped entirely, default 1.0 for 'c'
    out = weighted_mixture(docs, {"a": 2.0, "b": 0.0}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        src = ["a", "b", "c"][doc_id % 3]
        assert src != "b"
        expected = 2 if src == "a" else 1
        assert len(rows) == expected
        assert all(r.n_copies == expected for r in rows)
        assert sorted(r.copy_idx for r in rows) == list(range(1, expected + 1))
    assert len(by_doc) == 20  # the 10 'b' docs vanished
    # fractional weights: realized rate lands within the bucket rule's
    # quantization and is identical under repartitioning
    frac = weighted_mixture(docs, {"a": 1.5})
    again = weighted_mixture(docs.repartition(7), {"a": 1.5})
    assert sorted(map(tuple, frac.collect())) == sorted(map(tuple, again.collect()))


def test_exact_substring_decontaminate_hand_checked(spark):
    from kinesis_stream_spark.operators.text import exact_substring_decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the secret canary phrase lives here"),
            (2, "completely clean document text"),
            (3, "two hits: secret canary and another marker string"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(10, "secret canary"), (20, "another marker")],
        "probe_id long, probe string",
    )
    out = {r.doc_id: r for r in exact_substring_decontaminate(docs, probes).collect()}
    assert out[1].n_probes_hit == 1 and out[1].first_probe_id == 10
    assert out[2].n_probes_hit == 0 and out[2].first_probe_id is None
    assert out[3].n_probes_hit == 2 and out[3].first_probe_id == 10


def test_exact_substring_decontaminate_drops_empty_probes(spark):
    # instr(text, '') = 1: an empty probe (e.g. SUBSTR past the end of a
    # short donor doc) would flag EVERY document as contaminated; NULL
    # probes can never match. Both must be dropped before the join —
    # docs stay clean, and the real probe still fires.
    from kinesis_stream_spark.operators.text import exact_substring_decontaminate

    docs = spark.createDataFrame(
        [(1, "the secret canary phrase"), (2, "clean document")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(10, ""), (20, None), (30, "secret canary")],
        "probe_id long, probe string",
    )
    out = {r.doc_id: r for r in exact_substring_decontaminate(docs, probes).collect()}
    assert out[1].n_probes_hit == 1 and out[1].first_probe_id == 30
    assert out[2].n_probes_hit == 0 and out[2].first_probe_id is None


def test_normalize_summary_hand_checked(spark):
    from kinesis_stream_spark.operators.text import normalize_summary

    docs = spark.createDataFrame(
        [
            (1, "a\tb\nc"),      # tabs/newlines collapse: "a b c"
            (2, "  x  y  "),     # runs collapse + trim: "x y"
            (3, "clean text"),   # already canonical
            (4, None),           # NULL stays NULL everywhere
        ],
        "doc_id long, text string",
    )
    r = normalize_summary(docs).collect()[0]
    assert r.n_docs == 4
    assert r.n_changed == 2
    assert r.chars_before == len("a\tb\nc") + len("  x  y  ") + len("clean text")
    assert r.chars_after == len("a b c") + len("x y") + len("clean text")


def test_collocations_count_identities(spark):
    """Conservation identities: Σ n_ab over ALL bigrams (min_count=1)
    equals Σ(len(doc)-1); every n_ab ≤ min(n_a, n_b); lift·c(a)·c(b) =
    N·c(ab) exactly (the integers round-trip through the double)."""
    import random

    from kinesis_stream_spark.operators.text import collocations

    rng = random.Random(13)
    vocab = ["a", "b", "c", "d", "e"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    rows = collocations(docs, min_count=1).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    expect_bigrams = sum(max(0, len(t.split()) - 1) for t in texts.values())
    assert sum(r.n_ab for r in rows) == expect_bigrams
    n_total = sum(len(t.split()) for t in texts.values())
    for r in rows:
        assert r.n_ab <= min(r.n_a, r.n_b)
        # exact integer relation through the IEEE divide: both sides
        # computed the same way, bit-identical
        assert r.lift == (float(r.n_ab) * float(n_total)) / (
            float(r.n_a) * float(r.n_b)
        )


def test_chunk_windows_shapes_and_text(spark):
    """Window/stride arithmetic: a 10-token doc at window=4, stride=3
    yields starts 0,3,6,9 with tail clamping; chunk text re-joins the
    exact token slice."""
    from kinesis_stream_spark.operators.text import chunk_windows

    toks = [f"t{i}" for i in range(10)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = {
        r.chunk_id: r
        for r in chunk_windows(docs, window=4, stride=3).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert [rows[i].start_tok for i in range(4)] == [0, 3, 6, 9]
    assert [rows[i].chunk_tokens for i in range(4)] == [4, 4, 4, 1]
    assert rows[0].chunk_text == "t0 t1 t2 t3"
    assert rows[3].chunk_text == "t9"


def test_chunk_windows_edges(spark):
    """A doc shorter than one window yields exactly one chunk; NULL text
    yields none; bad params raise."""
    import pytest
    from kinesis_stream_spark.operators.text import chunk_windows

    docs = spark.createDataFrame(
        [(1, "only two"), (2, None)], "doc_id long, text string"
    )
    rows = chunk_windows(docs, window=64, stride=48).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    assert rows[0].chunk_tokens == 2 and rows[0].chunk_text == "only two"
    with pytest.raises(ValueError):
        chunk_windows(docs, window=0, stride=48)
