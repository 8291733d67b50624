"""Independent brute-force verification of the dedup/similarity kernels.

The DuckDB oracles REPLAY the same algorithm (same hashes, same bands),
which proves cross-engine parity but cannot catch a mistake in the
algorithm itself. These tests recompute the ground truth in plain
Python/numpy — no md5 replay, no shared code path — and check the
operators against it:

- exact dedup == dict grouping on normalized text;
- every Jaccard/containment pair the operators emit carries the exact
  set-arithmetic value Python computes, and no qualifying pair is
  missing (these operators are exact, not approximate);
- MinHash-LSH: every emitted pair's verify-Jaccard equals Python's
  exact Jaccard, and byte-identical documents are ALWAYS found
  (identical shingle sets => identical signatures => every band
  collides — a recall guarantee, not a probabilistic hope);
- cosine_pairs equals a numpy re-implementation of the fixed-point
  arithmetic, bit for bit.

Corpora are small (seeded random with a tiny vocabulary so collisions
actually occur) — the point is independence, not scale.
"""

from __future__ import annotations

import math
import random
import re

import pytest

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def _corpus(seed: int, n_docs: int = 14):
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(1, 12))]
        docs.append((i, "en" if i % 2 == 0 else "de", " ".join(words)))
    # force exact duplicates and a subset-containment case
    docs.append((n_docs, docs[0][1], docs[0][2]))
    docs.append((n_docs + 1, docs[1][1], docs[1][2]))
    half = docs[2][2].split()[: max(1, len(docs[2][2].split()) // 2)]
    docs.append((n_docs + 2, docs[2][1], " ".join(half)))
    return docs


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, lang string, text string")


def _token_sets(docs):
    return {i: set(t.split()) for i, _, t in docs}


def _shingle_sets(docs, n=3):
    out = {}
    for i, _, t in docs:
        toks = t.split()
        if len(toks) >= n:
            out[i] = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        else:
            out[i] = {" ".join(toks)}
    return out


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_exact_dedup_matches_dict_grouping(spark, seed):
    from kinesis_stream_spark.operators.dedup import exact_dedup

    docs = _corpus(seed)
    got = {
        (r.kept_id, r.n_copies)
        for r in exact_dedup(_df(spark, docs)).collect()
    }
    groups: dict[str, list[int]] = {}
    for i, _, t in docs:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        groups.setdefault(norm, []).append(i)
    want = {(min(ids), len(ids)) for ids in groups.values()}
    assert got == want


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_jaccard_pairs_exact_vs_python(spark, seed):
    from kinesis_stream_spark.operators.dedup import ngram_jaccard_pairs

    docs = _corpus(seed)
    toks = _token_sets(docs)
    lang = {i: g for i, g, _ in docs}
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_df(spark, docs), ["lang"], threshold=0.3).collect()
    }
    want = {}
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if lang[a] != lang[b]:
                continue
            inter = len(toks[a] & toks[b])
            if inter == 0:
                continue
            j = inter / (len(toks[a]) + len(toks[b]) - inter)
            if j >= 0.3:
                want[(a, b)] = j
    assert got == want  # same pairs AND bit-identical single-divide values


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_containment_pairs_exact_vs_python(spark, seed):
    from kinesis_stream_spark.operators.dedup import containment_pairs

    docs = _corpus(seed)
    sh = _shingle_sets(docs)
    lang = {i: g for i, g, _ in docs}
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(_df(spark, docs), ["lang"], threshold=0.5).collect()
    }
    want = {}
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if lang[a] != lang[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            c = inter / min(len(sh[a]), len(sh[b]))
            if c >= 0.5:
                want[(a, b)] = c
    assert got == want


@pytest.mark.parametrize("seed", [7, 42])
def test_minhash_verify_values_and_exact_copy_recall(spark, seed):
    from kinesis_stream_spark.operators.dedup import near_duplicates_minhash

    docs = _corpus(seed)
    sh = _shingle_sets(docs)
    rows = near_duplicates_minhash(_df(spark, docs), threshold=0.0).collect()
    for r in rows:
        inter = len(sh[r.id_a] & sh[r.id_b])
        union = len(sh[r.id_a] | sh[r.id_b])
        assert r.jaccard == inter / union, (r.id_a, r.id_b)
    # recall guarantee: identical shingle sets => identical signatures =>
    # every band collides => the pair MUST be emitted
    found = {(r.id_a, r.id_b) for r in rows}
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if sh[a] == sh[b]:
                assert (a, b) in found, f"identical docs {a},{b} missed"


@pytest.mark.parametrize("seed", [7, 42])
def test_cosine_pairs_vs_numpy_fixed_point(spark, seed):
    import numpy as np

    from kinesis_stream_spark.functions.vectors import SCALE
    from kinesis_stream_spark.operators.similarity import cosine_pairs

    rng = random.Random(seed)
    dim = 8
    rows = [
        ("g%d" % (i % 2), i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "label string, vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs(
            emb, group_cols=["label"], threshold=-2.0, id_col="vec_id"
        ).collect()
    }

    def fxdot(a, b):
        prods = np.array(a) * np.array(b)
        return float(np.floor(prods * SCALE).astype(np.int64).sum()) / SCALE

    def fxnorm(a):
        sq = np.array(a) * np.array(a)
        return math.sqrt(float(np.floor(sq * SCALE).astype(np.int64).sum()) / SCALE)

    by_id = {i: (g, v) for g, i, v in rows}
    for (a, b), cos in got.items():
        ga, va = by_id[a]
        gb, vb = by_id[b]
        assert ga == gb
        assert cos == fxdot(va, vb) / (fxnorm(va) * fxnorm(vb)), (a, b)
    n_per_group = {g: sum(1 for gg, _, _ in rows if gg == g) for g in ("g0", "g1")}
    assert len(got) == sum(n * (n - 1) // 2 for n in n_per_group.values())


@pytest.mark.parametrize("seed", [3, 99])
def test_salted_agg_equals_direct_agg(spark, seed):
    """The salt must be a physical-plan device only: two-phase salted
    aggregation and the direct single-shuffle group-by must agree bit
    for bit on every statistic, for any key skew."""
    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.skew import salted_agg

    rng = random.Random(seed)
    rows = [
        (i, "hot" if rng.random() < 0.8 else rng.choice("abcde"), rng.uniform(-1e4, 1e4))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "rid long, k string, v double")
    got = {
        r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v)
        for r in salted_agg(df, ["k"], salt_col="rid", sum_col="v", n_salts=8).collect()
    }
    want = {
        r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(27,6)")).cast("double").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    assert got == want and "hot" in got


@pytest.mark.parametrize("seed", [7, 42])
def test_duplicate_chunk_removal_vs_python(spark, seed):
    """Chunk dedup against a dict-based Python replay: chunking, global
    first-occurrence bookkeeping, and reassembly — no Spark, no md5."""
    from kinesis_stream_spark.operators.dedup import duplicate_chunk_removal

    docs = _corpus(seed)
    K = 2
    chunks_of = {}
    for i, _, t in docs:
        toks = t.split() if t else [""]
        chunks_of[i] = [
            " ".join(toks[j : j + K]) for j in range(0, len(toks), K)
        ]
    first = {}
    for i in sorted(chunks_of):
        for idx, c in enumerate(chunks_of[i]):
            first.setdefault(c, (i, idx))
    counts = {}
    for i in chunks_of:
        for c in chunks_of[i]:
            counts[c] = counts.get(c, 0) + 1
    expect = {}
    for i in chunks_of:
        kept = [
            c
            for idx, c in enumerate(chunks_of[i])
            if counts[c] == 1 or first[c] == (i, idx)
        ]
        dropped = len(chunks_of[i]) - len(kept)
        expect[i] = (len(chunks_of[i]), dropped, " ".join(kept))

    out = {
        r.doc_id: (r.n_chunks, r.n_dropped, r.clean_text)
        for r in duplicate_chunk_removal(_df(spark, docs), chunk_tokens=K).collect()
    }
    assert out == expect


@pytest.mark.parametrize("seed", [7, 42])
def test_bloom_prefilter_verdicts_vs_python_sets(spark, seed):
    """Bloom+verify against plain Python set membership: the composed
    is_dup verdict must equal exact membership (bloom is only allowed
    to add candidates, never to change the answer)."""
    from kinesis_stream_spark.operators.dedup import (
        bloom_prefilter_dedup,
        seen_hashes,
    )

    docs = _corpus(seed)
    seen_docs = [d for d in docs if d[0] % 2 == 0]
    batch = [(100 + i, lang, t) for i, (j, lang, t) in enumerate(docs)]

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    seen_set = {norm(t) for _, _, t in seen_docs}
    expect = {100 + i: norm(t) in seen_set for i, (_, _, t) in enumerate(docs)}

    out = {
        r.doc_id: r.is_dup
        for r in bloom_prefilter_dedup(
            _df(spark, batch), seen_hashes(_df(spark, seen_docs))
        ).collect()
    }
    assert out == expect


@pytest.mark.parametrize("seed", [7, 42])
def test_sq8_codes_vs_numpy(spark, seed):
    """SQ8 encoding against a numpy replay of the quantizer."""
    import numpy as np

    from kinesis_stream_spark.operators.similarity import sq8_codes

    rng = random.Random(seed)
    dim = 6
    vecs = np.array(
        [[rng.uniform(-2, 2) for _ in range(dim)] for _ in range(25)],
        dtype=np.float32,
    )
    vecs[:, 4] = 1.5  # constant dimension
    mn = vecs.min(axis=0).astype(np.float64)
    mx = vecs.max(axis=0).astype(np.float64)
    expect = {}
    for i, v in enumerate(vecs):
        codes = []
        for d in range(dim):
            if mx[d] == mn[d]:
                codes.append(0)
            else:
                q = math.floor((float(v[d]) - mn[d]) / (mx[d] - mn[d]) * 255.0)
                codes.append(max(0, min(255, q)))
        expect[i] = codes
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    out = {r.vec_id: list(r.codes) for r in sq8_codes(emb, dim=dim).collect()}
    assert out == expect


def test_gap_fill_vs_python_replay(spark):
    """Gap fill against a dict-based forward-fill replay on a corpus
    with multi-bucket gaps and same-bucket collisions."""
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import HOUR_US, gap_fill_forward

    rng = random.Random(9)
    rows = []
    for k in ("x", "y"):
        for _ in range(12):
            rows.append(
                (
                    k,
                    dt.datetime(2024, 3, 1) + dt.timedelta(minutes=rng.randint(0, 2000)),
                    round(rng.uniform(0, 10), 3),
                )
            )
    ev = spark.createDataFrame(rows, "key string, ts timestamp, value double")

    buckets = {}
    for k, ts, v in rows:
        b = int(ts.timestamp() * 1_000_000) // HOUR_US
        n, s = buckets.get((k, b), (0, 0.0))
        buckets[(k, b)] = (n + 1, s + v)
    expect = {}
    for k in ("x", "y"):
        bs = sorted(b for kk, b in buckets if kk == k)
        last = None
        for b in range(bs[0], bs[-1] + 1):
            n, s = buckets.get((k, b), (0, None))
            if s is not None:
                last = round(s, 6)  # DECIMAL(27,6) accumulation
            expect[(k, b)] = (n, s is None, last)

    out = {
        (r.key, r.bucket): (r.n_events, r.is_gap, round(r.filled_sum, 6))
        for r in gap_fill_forward(
            ev, key_col="key", ts_col="ts", value_col="value"
        ).collect()
    }
    assert out == expect


@pytest.mark.parametrize("seed", [7, 42])
def test_weighted_mixture_vs_hashlib_replay(spark, seed):
    """Copy counts against a hashlib replay of the md5-bucket rule — a
    third implementation independent of both Spark's md5/conv expression
    tree and the DuckDB oracle."""
    import hashlib

    from kinesis_stream_spark.operators.text import weighted_mixture

    rng = random.Random(seed)
    docs = [(i, f"s{rng.randint(0, 3)}") for i in range(80)]
    weights = {"s0": 2.5, "s1": 0.25, "s2": 0.0}
    df = spark.createDataFrame(docs, "doc_id long, source string")
    got = {}
    for r in weighted_mixture(df, weights, stratum_col="source").collect():
        got.setdefault((r.doc_id, r.source), []).append((r.n_copies, r.copy_idx))

    want = {}
    for i, src in docs:
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 1000
        w = weights.get(src, 1.0)
        n = int(w) + (1 if bucket < int(round((w - int(w)) * 1000)) else 0)
        if n > 0:
            want[(i, src)] = [(n, c) for c in range(1, n + 1)]
    assert {k: sorted(v) for k, v in got.items()} == want


def test_cluster_balance_arithmetic_consistency(spark):
    """The balance columns must satisfy their defining identities against
    the operator's own member counts (Python-float recomputation):
    fractions sum to 1, imbalance = k * sum(n^2) / N^2 on every row."""
    from kinesis_stream_spark.operators.similarity import cluster_balance

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, 0, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, label long, embedding array<double>",
    )
    rows = cluster_balance(emb, k=3, dim=8).collect()
    ns = [r.n_members for r in rows]
    total, k_actual = sum(ns), len(ns)
    expected_imb = sum(n * n for n in ns) / (float(total) * float(total)) * float(k_actual)
    assert abs(sum(r.list_frac for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r.list_frac == r.n_members / float(total)
        assert abs(r.imbalance - expected_imb) < 1e-12
        assert r.imbalance >= 1.0 - 1e-12  # Cauchy-Schwarz lower bound


def test_transition_matrix_vs_python_replay(spark):
    """Transition counts against a dict-based fold over per-user
    time-sorted sequences (same (ts, id) tiebreak), independent of both
    the window plan and the SQL oracle."""
    import datetime as dt

    from kinesis_stream_spark.operators.temporal import transition_matrix

    rng = random.Random(11)
    base = dt.datetime(2024, 4, 1)
    rows = []
    for eid in range(200):
        rows.append(
            (
                eid,
                base + dt.timedelta(seconds=rng.randint(0, 50)),  # many ties
                rng.randint(1, 5),
                rng.choice(["a", "b", "c"]),
            )
        )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.from_state, r.to_state): (r.n_transitions, r.prob)
        for r in transition_matrix(ev).collect()
    }

    per_user: dict[int, list] = {}
    for eid, ts, uid, et in rows:
        per_user.setdefault(uid, []).append((ts, eid, et))
    counts: dict[tuple, int] = {}
    for seq in per_user.values():
        seq.sort()
        for (_, _, prev), (_, _, cur) in zip(seq, seq[1:]):
            counts[(prev, cur)] = counts.get((prev, cur), 0) + 1
    from_totals: dict[str, int] = {}
    for (f, _), n in counts.items():
        from_totals[f] = from_totals.get(f, 0) + n
    want = {k: (n, n / from_totals[k[0]]) for k, n in counts.items()}
    assert got == want


def test_snapshot_diff_statuses_partition_key_universe(spark):
    """Property: the four statuses partition old ∪ new exactly — counts
    sum to the key-universe size and no key is double-classified,
    for any random pair of snapshots."""
    from kinesis_stream_spark.operators.profile import snapshot_diff

    rng = random.Random(13)
    universe = list(range(120))
    old_keys = sorted(rng.sample(universe, 80))
    new_keys = sorted(rng.sample(universe, 80))
    old = spark.createDataFrame(
        [(k, f"v{k % 7}") for k in old_keys], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(k, f"v{k % 7}" if k % 4 else "mutated") for k in new_keys],
        "doc_id long, fp string",
    )
    rows = {r.status: r.n_rows for r in snapshot_diff(old, new).collect()}
    o, n = set(old_keys), set(new_keys)
    assert rows.get("added", 0) == len(n - o)
    assert rows.get("removed", 0) == len(o - n)
    both = o & n
    changed = {k for k in both if (k % 4 == 0)}
    assert rows.get("changed", 0) == len(changed)
    assert rows.get("same", 0) == len(both) - len(changed)
    assert sum(rows.values()) == len(o | n)


def test_weighted_mixture_row_count_identity(spark):
    """Property: the exploded output has exactly sum(n_copies) rows and
    every doc's copies agree on n_copies — for random weights."""
    from kinesis_stream_spark.operators.text import weighted_mixture

    rng = random.Random(29)
    docs = spark.createDataFrame(
        [(i, f"s{rng.randint(0, 4)}") for i in range(100)],
        "doc_id long, source string",
    )
    weights = {f"s{j}": rng.choice([0.0, 0.4, 1.0, 1.7, 3.25]) for j in range(4)}
    out = weighted_mixture(docs, weights, stratum_col="source").collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    total = 0
    for rows in per_doc.values():
        n = rows[0].n_copies
        assert all(r.n_copies == n for r in rows)
        assert sorted(r.copy_idx for r in rows) == list(range(1, n + 1))
        total += n
    assert total == len(out)


@pytest.mark.parametrize("seed", [3, 99])
def test_collocations_vs_counter_replay(spark, seed):
    """Bigram lift against collections.Counter folds over the same
    texts — independent of the explode/join plan AND of the SQL oracle.
    Python floats are IEEE doubles, so replaying the exact op order
    (mul, mul, div) must match bit for bit."""
    from collections import Counter

    from kinesis_stream_spark.operators.text import collocations

    docs = _corpus(seed, n_docs=20)
    got = {
        (r.tok_a, r.tok_b): (r.n_ab, r.n_a, r.n_b, r.lift)
        for r in collocations(_df(spark, docs), min_count=2).collect()
    }

    uni: Counter = Counter()
    bg: Counter = Counter()
    for _, _, t in docs:
        toks = t.split()
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    n_total = sum(uni.values())
    want = {
        (a, b): (
            c,
            uni[a],
            uni[b],
            (float(c) * float(n_total)) / (float(uni[a]) * float(uni[b])),
        )
        for (a, b), c in bg.items()
        if c >= 2
    }
    assert got == want


def test_simpson_diversity_vs_counter_replay(spark):
    """Per-user Simpson index against a Counter fold — checks the
    two-level aggregation and the exact divide order."""
    from collections import Counter

    from kinesis_stream_spark.operators.temporal import simpson_diversity

    rng = random.Random(5)
    rows = [
        (i, rng.randint(1, 6), rng.choice(["a", "b", "c", "d"]))
        for i in range(300)
    ]
    # degenerate single-category user and a NULL category row
    rows += [(300, 99, "a"), (301, 99, "a"), (302, 98, None)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    got = {
        r.user_id: (r.n_events, r.n_categories, r.sum_sq, r.simpson, r.diversity)
        for r in simpson_diversity(ev).collect()
    }

    per_user: dict[int, Counter] = {}
    for _, uid, et in rows:
        if et is not None:
            per_user.setdefault(uid, Counter())[et] += 1
    want = {}
    for uid, c in per_user.items():
        n = sum(c.values())
        ss = sum(v * v for v in c.values())
        simpson = float(ss) / (float(n) * float(n))
        want[uid] = (n, len(c), str(ss), simpson, 1.0 - simpson)
    assert got == want
    assert 98 not in got  # NULL-category-only user vanishes, not crashes
    assert got[99][3] == 1.0 and got[99][4] == 0.0  # single-category => 0


def test_pair_distance_histogram_vs_python_fold(spark):
    """Histogram against a Python replay of blocking + hamming + fold
    over the operator's OWN fingerprints (simhash itself is md5-pinned
    by the SQL oracle; this isolates the pairing/dedup/count logic)."""
    from collections import Counter

    from kinesis_stream_spark.operators.dedup import (
        SIMHASH_BITS,
        pair_distance_histogram,
        simhash,
    )

    docs = _corpus(7, n_docs=16)
    df = _df(spark, docs)
    got = {
        r.hamming: r.n_pairs
        for r in pair_distance_histogram(df, blocks=4).collect()
    }

    sims = {r.id: r.simhash for r in simhash(df).collect()}
    blocks, width = 4, SIMHASH_BITS // 4
    mask = (1 << width) - 1
    hist: Counter = Counter()
    ids = sorted(sims)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if any(
                (sims[a] >> (k * width)) & mask == (sims[b] >> (k * width)) & mask
                for k in range(blocks)
            ):
                hist[bin(sims[a] ^ sims[b]).count("1")] += 1
    assert got == dict(hist)
