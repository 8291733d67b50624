"""Experiment-analysis query inventory (events table; SURVEY.md §2.3
extension row "A/B two-proportion z-test"): deterministic hash-split
assignment + per-metric conversion lift scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.operators.experiment import (
    ab_conversion_ztest,
    ab_cuped,
    ab_delta_ratio,
    ab_mann_whitney,
    ab_srm_check,
    ab_welch_ttest,
    anova_oneway,
    apdex_score,
    bootstrap_ci,
    sql_ab_conversion_ztest,
    sql_ab_cuped,
    sql_ab_delta_ratio,
    sql_ab_mann_whitney,
    sql_ab_srm_check,
    sql_ab_welch_ttest,
    sql_anova_oneway,
    sql_apdex_score,
    sql_bootstrap_ci,
)
from kinesis_stream_spark.operators.modeleval import (
    calibration_bins,
    roc_auc_per_class,
    sql_calibration_bins,
    sql_roc_auc_per_class,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


@_q(
    "events_ab_test_zscore",
    sql_ab_conversion_ztest() + " ORDER BY metric",
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type conversion A/B readout under a deterministic
    md5 50/50 user split: unit counts, conversion counts, rates, lift,
    and the pooled two-proportion z statistic — exact integer counts,
    pinned-order double z arithmetic, one corpus pass (operator
    docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_conversion_ztest(ev).orderBy("metric")


_APDEX_T = 50.0


@_q("events_apdex_score", None)  # assigned below
def events_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Apdex at target T=50 (the events table's value
    plays the latency role): satisfied ≤ T, tolerating ≤ 4T, score =
    ⌊10^6·(2·sat+tol)/(2·n)⌋ — integer end to end, one combinable
    aggregate (operator docstring)."""
    return apdex_score(
        load_table(spark, sf_dir, "events"), threshold=_APDEX_T
    ).orderBy("key")


ORACLE["events_apdex_score"] = (
    sql_apdex_score(threshold=_APDEX_T) + " ORDER BY key"
)


@_q("events_ab_welch_ttest", sql_ab_welch_ttest())
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance t-test on per-user value totals under
    the same deterministic md5 50/50 split as the z-test — the
    continuous-metric A/B readout: exact per-unit decimal totals,
    DECIMAL(38,0) arm moments, pinned t and Welch-Satterthwaite dof
    (operators/experiment.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_welch_ttest(ev)


@_q("events_anova_value_by_type", sql_anova_oneway())
def events_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types — does the mean
    differ anywhere, and how much variance does the type explain (η²):
    exact fx group moments, per-group terms floored back to integers
    before the cross-group sums, pinned F chain
    (operators/experiment.py)."""
    ev = load_table(spark, sf_dir, "events")
    return anova_oneway(ev)


@_q("events_ab_mann_whitney", sql_ab_mann_whitney())
def events_ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum A/B readout on per-user value totals —
    the distribution-free companion to the Welch t: exact 2x-scaled
    midranks over one distributed prefix-sum exchange, exact tie
    correction, rank-biserial effect size, pinned z chain
    (operators/experiment.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_mann_whitney(ev)


@_q("events_ab_delta_ratio", sql_ab_delta_ratio())
def events_ab_delta_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method z-test on the revenue-per-event RATIO metric under
    the shared md5 50/50 split — ratio denominators are random, so the
    variance charges the numerator-denominator covariance (Deng,
    Knoblich & Lu 2018); exact DECIMAL(38,0) arm moments, pinned
    finals (operators/experiment.py:ab_delta_ratio)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_delta_ratio(ev)


@_q("events_ab_srm_check", sql_ab_srm_check())
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch health gate for the shared md5 50/50
    split: χ²(1) on distinct-unit arm counts vs the 1:1 expectation,
    integer-exact numerator, 3.841 critical flag — run it BEFORE
    trusting any A/B readout (operators/experiment.py:ab_srm_check)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_srm_check(ev)


#: pre/post boundary for the CUPED covariate: 2024-01-11 00:00 UTC —
#: the events table spans January 2024, so the first ten days form
#: the pre-period X and the rest the experiment metric Y.
_CUPED_SPLIT_US = 1_704_931_200_000_000


@_q("events_ab_cuped", sql_ab_cuped(split_us=_CUPED_SPLIT_US))
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng-Xu-Kohavi-Walker WSDM
    2013) under the shared md5 50/50 split: per-unit pre-period value
    totals as the covariate, exact DECIMAL(38,0) arm moments, pinned
    θ / adjusted-z chain, and the variance-reduction ratio that prices
    the traffic saved (operators/experiment.py:ab_cuped)."""
    ev = load_table(spark, sf_dir, "events")
    return ab_cuped(ev, split_us=_CUPED_SPLIT_US)


@_q("events_bootstrap_ci", sql_bootstrap_ci())
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% percentile CI for the mean event value —
    the distribution-free uncertainty readout (Efron 1979, Chamandy
    2012): 64 deterministic md5-hash replicates, exact integer
    replicate sums, nearest-rank order-statistic bounds
    (operators/experiment.py:bootstrap_ci)."""
    ev = load_table(spark, sf_dir, "events")
    return bootstrap_ci(ev)


@_q(
    "eval_roc_auc_per_class",
    sql_roc_auc_per_class(
        table=(
            "(SELECT label, embedding[1] AS score FROM embeddings)"
        ),
        label_col="label",
        score_col="score",
    ),
)
def eval_roc_auc_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest exact ROC AUC per embedding class, scored by the
    first embedding coordinate — the discrimination readout every
    model-assisted curation filter ships with (Hanley-McNeil 1982 via
    the Mann-Whitney U identity): tie-corrected integer 2U over
    distinct-fx-score groups, one pinned divide per class
    (operators/modeleval.py:roc_auc_per_class)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "label", F.try_element_at("embedding", F.lit(1)).alias("score")
    )
    return roc_auc_per_class(scored, label_col="label", score_col="score")


@_q(
    "events_calibration_bins",
    sql_calibration_bins(
        # qualifying set matches the Spark twin EXACTLY (r12 review):
        # NULL event_type excluded (Spark's equality yields NULL ->
        # operator contract excludes), and value = -100 excluded on
        # both engines (DuckDB NULLs the zero-denominator divide and
        # would drop the row where Spark's IEEE double keeps ±Inf)
        table=(
            "(SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            " AS y, value / (value + 100.0) AS p FROM events"
            " WHERE value IS NOT NULL AND event_type IS NOT NULL"
            " AND value <> -100.0)"
        ),
        label_col="y",
        pred_col="p",
        n_bins=10,
    ),
)
def events_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (Murphy 1973;
    Naeini 2015) of a value-derived purchase propensity p =
    value/(value+100) — per-bin mean prediction vs observed rate on
    the 2^20 fx grid with integer gap numerators, and the exact-ECE
    '__total__' row (operators/modeleval.py:calibration_bins)."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.where(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("value") != -100.0)
    ).select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("value") / (F.col("value") + F.lit(100.0))).alias("p"),
    )
    return calibration_bins(scored, label_col="y", pred_col="p", n_bins=10)
