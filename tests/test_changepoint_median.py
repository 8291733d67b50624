"""Unit tests for the round-9 wave-2 operators: changepoint (binary
segmentation), weighted median, Zipf profile, rare-term cosine pairs,
degree profile — hand-computed fixtures and degenerate inputs.
Cross-engine parity is covered by tests/test_oracle_parity.py.
"""

from __future__ import annotations

import datetime

import pytest


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )


def _ts(day):
    return datetime.datetime(2024, 1, day)


class TestChangepoint:
    def test_obvious_level_shift_located(self, spark):
        from kinesis_stream_spark.operators.temporal import changepoint

        # 5 days at 10, then 5 days at 100: the split after day 5 wins
        rows = [(d, _ts(d), 1, "a", 10.0) for d in range(1, 6)]
        rows += [(d, _ts(d), 1, "a", 100.0) for d in range(6, 11)]
        out = changepoint(_ev(spark, rows)).collect()[0]
        assert out["n_periods"] == 10
        assert out["cp_index"] == 5
        assert out["mean_before"] == pytest.approx(10.0, abs=1e-4)
        assert out["mean_after"] == pytest.approx(100.0, abs=1e-4)

    def test_cp_bucket_names_last_pre_break_day(self, spark):
        from kinesis_stream_spark.operators.temporal import changepoint

        rows = [(d, _ts(d), 1, "a", 1.0) for d in (3, 4, 5)]
        rows += [(d, _ts(d), 1, "a", 50.0) for d in (6, 7)]
        out = changepoint(_ev(spark, rows)).collect()[0]
        day5 = int(_ts(5).timestamp() * 1_000_000) // 86_400_000_000
        assert out["cp_bucket"] == day5

    def test_single_period_key_absent(self, spark):
        from kinesis_stream_spark.operators.temporal import changepoint

        rows = [(1, _ts(1), 1, "only", 5.0), (2, _ts(1), 1, "only", 6.0)]
        assert changepoint(_ev(spark, rows)).count() == 0

    def test_flat_series_score_zero(self, spark):
        from kinesis_stream_spark.operators.temporal import changepoint

        rows = [(d, _ts(d), 1, "a", 7.0) for d in range(1, 7)]
        out = changepoint(_ev(spark, rows)).collect()[0]
        assert out["score"] == 0.0
        assert out["cp_index"] == 1  # tie → earliest split by contract


class TestWeightedMedian:
    def _run(self, spark, rows):
        from kinesis_stream_spark.operators.quantiles import weighted_median

        df = spark.createDataFrame(rows, "grp string, v double, w double")
        return {
            r["group_key"]: r
            for r in weighted_median(
                df, group_col="grp", val_col="v", weight_col="w"
            ).collect()
        }

    def test_weight_moves_median(self, spark):
        # unweighted median of (1, 2, 3) is 2; weight 3 heavily
        out = self._run(
            spark, [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0)]
        )
        assert out["a"]["weighted_median"] == 3.0
        assert out["a"]["total_weight"] == 12

    def test_lower_median_on_exact_half(self, spark):
        # cum at v=1 is 5 of 10: 2·5 >= 10 -> lower median = 1
        out = self._run(spark, [("a", 1.0, 5.0), ("a", 2.0, 5.0)])
        assert out["a"]["weighted_median"] == 1.0

    def test_null_and_nonpositive_weights_excluded(self, spark):
        out = self._run(
            spark,
            [("a", 1.0, 0.5), ("a", 2.0, 1.0), ("a", 9.0, None),
             ("a", 9.0, -3.0), ("a", None, 5.0)],
        )
        # floor(0.5) = 0 excluded too: only (2.0, w=1) remains
        assert out["a"]["weighted_median"] == 2.0
        assert out["a"]["n_rows"] == 1

    def test_empty(self, spark):
        assert self._run(spark, []) == {}


class TestZipfProfile:
    def test_ranks_and_products(self, spark):
        from kinesis_stream_spark.operators.text import zipf_profile

        docs = spark.createDataFrame(
            [(1, "x x x x y y z"), (2, "x x y")],
            "doc_id long, text string",
        )
        out = {
            r["rank"]: r
            for r in zipf_profile(docs, top_k=10).collect()
        }
        assert out[1]["token"] == "x" and out[1]["freq"] == 6
        assert out[2]["token"] == "y" and out[2]["freq"] == 3
        assert out[3]["token"] == "z" and out[3]["freq"] == 1
        assert out[2]["rf_product"] == 6
        assert out[1]["share_ppm"] == 600_000
        assert out[3]["of_top_ppm"] == 166_666

    def test_empty_corpus(self, spark):
        from kinesis_stream_spark.operators.text import zipf_profile

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert zipf_profile(docs).count() == 0


class TestRareTermCosine:
    def test_near_duplicates_score_high(self, spark):
        from kinesis_stream_spark.operators.dedup import (
            rare_term_cosine_pairs,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, base + " iota"),  # near-dup of 1
                (3, "one two three four five six seven eight"),
            ],
            "doc_id long, text string",
        )
        out = rare_term_cosine_pairs(
            docs, max_df=2, min_cosine_ppm=100_000, top_k=10
        ).collect()
        pairs = {(r["id_a"], r["id_b"]): r for r in out}
        assert (1, 2) in pairs
        assert pairs[(1, 2)]["cosine"] > 0.9
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_common_phrases_capped_out(self, spark):
        from kinesis_stream_spark.operators.dedup import (
            rare_term_cosine_pairs,
        )

        # the same text in 4 docs: with max_df=3 every shared trigram
        # exceeds the cap, so no pair survives
        docs = spark.createDataFrame(
            [(i, "spam spam spam spam spam") for i in range(4)],
            "doc_id long, text string",
        )
        assert (
            rare_term_cosine_pairs(
                docs, max_df=3, min_cosine_ppm=100_000
            ).count()
            == 0
        )

    def test_multiset_counts_in_dot_product(self, spark):
        from kinesis_stream_spark.operators.dedup import (
            rare_term_cosine_pairs,
        )

        # docs 1 and 2 each contain the phrase TWICE (separated so the
        # only shared trigram is the phrase itself): multiset tf gives
        # dot = 2·2 = 4 where set semantics would give 1
        p = "quick brown fox"
        docs = spark.createDataFrame(
            [(1, p + " , " + p), (2, p + " . " + p)],
            "doc_id long, text string",
        )
        out = rare_term_cosine_pairs(
            docs, max_df=5, min_cosine_ppm=100_000, top_k=10
        ).collect()
        pairs = {(r["id_a"], r["id_b"]): r for r in out}
        assert pairs[(1, 2)]["dot"] == 4
        # norms: 2² + 1 + 1 + 1 = 7 each -> cosine = 4/7
        assert pairs[(1, 2)]["cosine"] == pytest.approx(4.0 / 7.0)

    def test_empty(self, spark):
        from kinesis_stream_spark.operators.dedup import (
            rare_term_cosine_pairs,
        )

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert rare_term_cosine_pairs(docs).count() == 0


class TestDegreeProfile:
    def test_log2_buckets_and_roles(self, spark):
        from kinesis_stream_spark.operators.graph import degree_profile

        # out-degrees: a->{x,y,z} deg 3 (bucket 1), b->{x} deg 1
        # (bucket 0); in-degrees: x has 2 (bucket 1), y,z have 1
        edges = spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("a", "z"), ("b", "x")],
            "src string, dst string",
        )
        out = {
            (r["role"], r["bucket"]): r
            for r in degree_profile(edges).collect()
        }
        assert out[("out", 1)]["n_nodes"] == 1  # a, deg 3
        assert out[("out", 1)]["deg_min"] == 3
        assert out[("out", 0)]["n_nodes"] == 1  # b, deg 1
        assert out[("out", 0)]["share_ppm"] == 500_000
        assert out[("in", 1)]["n_nodes"] == 1  # x, deg 2
        assert out[("in", 0)]["n_nodes"] == 2  # y, z
        assert out[("in", 0)]["share_ppm"] == 666_666

    def test_empty(self, spark):
        from kinesis_stream_spark.operators.graph import degree_profile

        edges = spark.createDataFrame([], "src string, dst string")
        assert degree_profile(edges).count() == 0
