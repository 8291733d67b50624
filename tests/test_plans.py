"""Physical-plan shape assertions — the scale contract, enforced.

Correctness tests prove the right rows come out; these prove the right
PLAN produces them: filters reach the parquet scan, scans prune columns,
small dimensions broadcast, map-only operators stay exchange-free. Each
is a property that silently degrading would multiply cost at 100 TB
without failing any value-based test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_stream_spark.sources.batch import load_table


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")
    )
    plan = _explain(df)
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _explain(df)
    # ReadSchema must carry ONLY the projected columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_small_dimension_joins_broadcast(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    # Q5-shape: nation/region/supplier dims must not shuffle the fact side
    plan = _explain(QUERIES["q05_regional_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_decontamination_probe_side_broadcasts(spark, sf_dir):
    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_decontaminate_overlap"](spark, sf_dir))
    # the probe grams build the broadcast (right) side of the left-outer
    # join; the corpus (left, big) side must be the streamed side
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan


def test_stratified_sample_is_map_only(spark, sf_dir):
    from kinesis_stream_spark.operators.text import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(stratified_sample(docs, {"en": 0.5}))
    # a sampling FILTER must never shuffle: no exchange of any kind
    assert "Exchange" not in plan


def test_pack_sequences_partitions_by_source_not_global_sort(spark, sf_dir):
    from kinesis_stream_spark.operators.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(pack_sequences(docs, capacity=512))
    # the running-sum window must hash-partition by source; a global
    # (single-partition) window would appear as Exchange SinglePartition
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_whole_stage_codegen_covers_scan_filter_agg(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # AQE hides codegen spans until the final plan exists — execute first.
    # Codegen stages print as "*(n) Operator" in the executed-plan string.
    import re

    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    spans = set(re.findall(r"\*\((\d+)\)", executed))
    assert spans, f"no whole-stage-codegen spans in:\n{executed[:500]}"
    # scan→filter→partial-agg must fuse into ONE span, final agg another
    assert "*(1) Filter" in executed and "*(1) HashAggregate" in executed


def test_pii_scrub_is_map_only(spark, sf_dir):
    from kinesis_stream_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(pii_scrub(docs))
    # regexp count + chained replace is a pure projection — no exchange
    assert "Exchange" not in plan


def test_repetition_stats_no_cartesian_and_partial_agg(spark, sf_dir):
    from kinesis_stream_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(repetition_stats(docs))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # (doc, gram) counts must pre-combine map-side before the exchange
    assert "partial_count" in plan


def test_sketch_split_joins_broadcast(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    # exact + approx aggregates meet in a 3-row join: must broadcast,
    # never shuffle either aggregate's output
    plan = _explain(QUERIES["agg_approx_sketches"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_recall_reuses_topk_outputs_without_global_sort(spark, sf_dir):
    from kinesis_stream_spark.queries.similarity import QUERIES

    plan = _explain(QUERIES["similarity_ann_recall"](spark, sf_dir))
    # the k-per-query selection is a window + filter; a global sort of
    # the scored corpus would appear as a non-window global Sort node
    assert "TakeOrderedAndProject" in plan or "Sort" in plan  # presentation order-by only
    assert "CartesianProduct" not in plan


def test_distinct_aggregate_shuffles_on_key_and_value(spark, sf_dir):
    """COUNT(DISTINCT x) GROUP BY hot_key: the FIRST exchange must be
    keyed on (key, x) so a hot group spreads across reducers — Spark
    plans the two-phase rewrite itself; this pins it, because silently
    regressing to a key-only first shuffle would be the classic hot-key
    scale bug (one reducer receives a whole group's rows)."""
    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
    )
    plan = _explain(df)
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any(
        "l_returnflag" in l and "l_suppkey" in l for l in exchanges
    ), exchanges


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling, demonstrated live: one hot key holding
    ~83% of the build side must be split at runtime (SortMergeJoin
    marked skew=true, AQEShuffleRead skewed) instead of serializing on
    one reducer — the runtime half of this engine's skew story (the
    other half being salting/bucket caps in the dedup operators).
    Thresholds are scaled down to local-mode shuffle sizes; the payload
    is md5-derived so shuffle compression can't hide the imbalance."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        payload = F.concat(
            F.md5(F.col("id").cast("string")),
            F.md5((F.col("id") + 1).cast("string")),
        )
        big = spark.range(300_000).select(
            F.when(F.col("id") < 250_000, 0)
            .otherwise((F.col("id") % 50) + 1)
            .alias("k"),
            payload.alias("payload"),
        )
        right = spark.range(51).select(F.col("id").alias("k"), F.lit("d").alias("v"))
        joined = big.join(right, "k")
        assert len(joined.collect()) == 300_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_equidepth_bounds_broadcast_and_bucket_map_side(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_equidepth_price"](spark, sf_dir))
    # the 1-row boundary array broadcasts; bucket assignment must never
    # shuffle the fact side before the ~10-group aggregate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_static_enrich_dim_broadcasts(spark, sf_dir):
    from kinesis_stream_spark.queries.streaming_batch import QUERIES

    plan = _explain(QUERIES["stream_static_enrich"](spark, sf_dir))
    # the customer dim is the build side; the event stream never shuffles
    # for the join (only the final segment aggregate exchanges)
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan


def test_profile_single_scan_single_expand(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["profile_orders_columns"](spark, sf_dir))
    # one parquet scan feeds all per-column aggregates; the N exact
    # distincts share ONE Expand, not one scan per column. The formatted
    # explain lists each node once in the tree and once in the detail
    # section, so one physical node = exactly one ") <Name>" header.
    assert plan.count(") Scan parquet") == 1
    assert plan.count(") Expand") == 1


def test_containment_pairs_no_cartesian(spark, sf_dir):
    from kinesis_stream_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(containment_pairs(docs, ["lang", "source"]))
    # the sparse gram join is an equi-join on (group, gram) — a plan
    # regression to a cartesian/theta join is the 100 TB killer here
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # with the hot-gram cap the df count-over-window must sit BEFORE the
    # self-join (both join inputs are the capped gram stream): the plan
    # gains Window nodes and stays equi-join-only
    capped = _explain(containment_pairs(docs, ["lang", "source"], max_df=3))
    assert ") Window" in capped
    assert "CartesianProduct" not in capped
    assert "BroadcastNestedLoopJoin" not in capped


def test_token_rarity_rank_join_broadcasts_vocab(spark, sf_dir):
    from kinesis_stream_spark.operators.text import token_rarity

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(token_rarity(docs))
    # the ranked vocabulary (post-agg, corpus-small) is the build side
    # of the rank join-back; the exploded token stream is never built
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_phase_shuffles(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_salted_skew_safe"](spark, sf_dir))
    # phase 1 exchanges on (key, salt), phase 2 on the key alone — the
    # whole point; collapsing to one exchange would mean the salt was
    # optimized away and the hot key funnels to one reducer again
    hp = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert any("_salt" in l for l in hp), hp
    assert any("_salt" not in l and "l_returnflag" in l for l in hp), hp


def test_bloom_probe_broadcasts_bitmap_and_chunk_windows_share_exchange(
    spark, sf_dir
):
    import re

    from kinesis_stream_spark.queries.dedup import QUERIES

    # bloom: the ~17k-row bitmap must be the broadcast side of the word
    # join — the corpus probe side must never shuffle for it
    plan = _explain(QUERIES["dedup_bloom_prefilter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan

    # chunk removal: the occurrence-count and first-occurrence-rank
    # windows partition identically, so they must share ONE exchange
    # (2 planner exchanges: chunk key, doc reassembly). ``spread``'s
    # repartition (REPARTITION_BY_NUM) is not counted: it is a no-op
    # when the scan already has defaultParallelism partitions
    plan = _explain(QUERIES["dedup_duplicate_chunks"](spark, sf_dir))
    assert len(re.findall(r"\bENSURE_REQUIREMENTS\b", plan)) == 2, plan


def _conjuncts(cond: str) -> list[str]:
    """Split a printed Catalyst condition ``((a AND b) AND c)`` into
    ``[a, b, c]``, in the order codegen evaluates them."""
    depth = 0
    for i, ch in enumerate(cond):
        depth += (ch == "(") - (ch == ")")
        if depth == 0 and i < len(cond) - 1:
            break
    else:  # one pair of parentheses wraps the whole condition
        inner, depth = cond[1:-1], 0
        for i, ch in enumerate(inner):
            depth += (ch == "(") - (ch == ")")
            if depth == 0 and inner.startswith(" AND ", i):
                return _conjuncts(inner[:i]) + _conjuncts(inner[i + 5 :])
    return [cond]


def test_fuzzy_join_runs_levenshtein_after_the_length_band(spark):
    from kinesis_stream_spark.operators.fuzzy import fuzzy_pair_histogram, fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "red apple"), (2, "red appel"), (3, "green pear")], "id long, name string"
    )
    for op in (fuzzy_pairs, fuzzy_pair_histogram):
        plan = _explain(op(df, id_col="id", text_col="name", max_dist=2))
        # the residual condition of the pair join: codegen short-circuits
        # it left to right, so the banded DP must come last and run only
        # on pairs inside the constant-time length band
        [cond] = [
            line.split(": ", 1)[1]
            for line in plan.splitlines()
            if line.startswith("Join condition: ") and "levenshtein(" in line
        ]
        parts = _conjuncts(cond)
        dp = [i for i, p in enumerate(parts) if "levenshtein(" in p]
        assert dp == [len(parts) - 1], cond
        assert any(p.startswith("(abs(") for p in parts[:-1]), cond


def test_domain_cap_single_shuffle_two_windows(spark, sf_dir):
    import re

    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_domain_cap"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan


def test_sq8_stats_row_broadcasts_to_encode_map(spark, sf_dir):
    import re

    from kinesis_stream_spark.operators.similarity import sq8_codes

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _explain(sq8_codes(emb))
    # the 1-row stats frame reaches the encode map via broadcast; the
    # only shuffle is the stats aggregate's own tiny final stage
    assert "BroadcastNestedLoopJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_multires_rollup_single_expand_single_scan(spark, sf_dir):
    import re

    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_multires_rollup"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Expand\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet\b", plan)) == 1, plan


def test_weighted_mixture_is_map_and_explode_only(spark, sf_dir):
    from kinesis_stream_spark.operators.text import weighted_mixture

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(weighted_mixture(docs, {"src0": 2.5, "src1": 0.25}))
    # copy-count rule + explode must never shuffle: output-sized cost only
    assert "Exchange" not in plan
    assert "Generate" in plan and "explode(sequence(1, n_copies" in plan


def test_substring_decontaminate_probes_broadcast(spark, sf_dir):
    import re

    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_substring_decontaminate"](spark, sf_dir))
    # the probe list is the broadcast side of a nested-loop join (no equi
    # key exists for substring containment); the corpus side must never
    # sort-merge or cartesian, and the only hash exchange is the final
    # one-row-per-doc aggregate (+ its orderBy range exchange)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan


def test_transition_matrix_windows_on_entity_key(spark, sf_dir):
    from kinesis_stream_spark.operators.temporal import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    plan = _explain(transition_matrix(ev))
    # the lag window shuffles once on the entity key; nothing global
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_snapshot_diff_joins_on_key_without_nested_loops(spark, sf_dir):
    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.profile import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text")).alias("fp")
    old = docs.where(F.col("doc_id") < 400).select("doc_id", fp)
    new = docs.where(F.col("doc_id") >= 100).select("doc_id", fp)
    plan = _explain(snapshot_diff(old, new))
    # the full-outer diff must stay a keyed join (merge- or hash-based);
    # at 100 TB a nested-loop/cartesian here is a scale killer
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan


def test_winsorize_bounds_broadcast_rows_never_shuffle(spark, sf_dir):
    from kinesis_stream_spark.operators.temporal import winsorize_stats

    ev = load_table(spark, sf_dir, "events")
    plan = _explain(winsorize_stats(ev))
    # the per-key bounds frame broadcasts back to the row scan; the fact
    # rows must never sort-merge against it
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_normalize_summary_single_scan_single_exchange(spark, sf_dir):
    import re

    from kinesis_stream_spark.operators.text import normalize_summary

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(normalize_summary(docs))
    # map-only normalize + one global aggregate: partial agg per
    # partition, ONE single-partition exchange carrying one row each
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet\b", plan)) == 1, plan


def test_pair_distance_histogram_equi_join_only(spark, sf_dir):
    from kinesis_stream_spark.operators.dedup import pair_distance_histogram

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(pair_distance_histogram(docs))
    # same pigeonhole block equi-join as the threshold path — a
    # regression to cartesian/nested-loop on the candidate stream is the
    # 100 TB killer; the final fold is a ≤61-row hash aggregate
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_collocations_prunes_pairs_before_joins(spark, sf_dir):
    from kinesis_stream_spark.operators.text import collocations

    docs = load_table(spark, sf_dir, "documents")
    plan = _explain(collocations(docs, min_count=2))
    # the min_count filter must sit on the bigram AGGREGATE (post-agg
    # havinglike filter, pre-join) so the unigram joins see only the
    # surviving vocabulary — and the only nested-loop join is the 1-row
    # total broadcast
    assert "CartesianProduct" not in plan
    # formatted explain names each node twice (tree + detail header);
    # count detail headers: only the 1-row total may nested-loop
    assert plan.count(") BroadcastNestedLoopJoin") <= 1
    assert ">= 2)" in plan  # the min_count filter survives into the plan


def test_simpson_diversity_two_aggregates_no_join(spark, sf_dir):
    from kinesis_stream_spark.operators.temporal import simpson_diversity

    ev = load_table(spark, sf_dir, "events")
    plan = _explain(simpson_diversity(ev))
    # two chained hash aggregates, no join, no window: the cheapest
    # possible shape for a per-entity fold
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count(") HashAggregate") >= 2


def test_exact_rerank_broadcasts_shortlist_not_corpus(spark, sf_dir):
    """Two-stage retrieval scale contract: the exact re-score stage must
    broadcast the R·Q-row SHORTLIST (and the Q-row query frame) against
    ONE streamed corpus scan — never shuffle the corpus (SortMergeJoin)
    or nested-loop it. Built from a literal shortlist so the assertion
    isolates the re-rank join, not the upstream ADC chain."""
    from kinesis_stream_spark.operators.quantization import exact_rerank
    from kinesis_stream_spark.queries._emb_family import emb_scan, queries_df

    emb = emb_scan(spark, sf_dir, 64)
    shortlist = spark.createDataFrame(
        [(q, v) for q in range(3) for v in range(q, q + 8)],
        "query_id long, vec_id long",
    )
    plan = _explain(exact_rerank(shortlist, emb, queries_df(emb, 3), k=5))
    assert plan.count(") BroadcastHashJoin") == 2  # shortlist + queries
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_and_no_wide_joins(spark, sf_dir):
    from kinesis_stream_spark.queries.retrieval import QUERIES

    plan = _explain(QUERIES["text_bm25_topk"](spark, sf_dir))
    # query terms / df / 1-row totals all broadcast; the corpus side
    # must never sort-merge or cartesian against anything
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_cumsum_is_partitioned_not_global(spark, sf_dir):
    from kinesis_stream_spark.queries.retrieval import QUERIES

    plan = _explain(QUERIES["text_vocab_coverage"](spark, sf_dir))
    # the vocabulary running sum must run as per-range-partition windows
    # (hashpartitioning on the materialized partition id), never as one
    # global single-partition window over the whole vocabulary
    assert "hashpartitioning(_ds_pid" in plan
    assert "CartesianProduct" not in plan


def test_equidepth_cumsum_is_partitioned_not_global(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_equidepth_price"](spark, sf_dir))
    # round-7 swap: the boundary pass's running count is the distributed
    # prefix sum, not the former single-partition global window
    assert "hashpartitioning(_ds_pid" in plan


def test_pagerank_round_scalars_broadcast_no_cartesian(spark):
    from pyspark.sql import functions as F

    from kinesis_stream_spark.operators.graph import PR_SCALE, _pagerank_round

    # pin the ROUND body directly — inside pagerank() every round is an
    # eager checkpoint, which truncates the explainable plan
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    outdeg = e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "v", F.expr(f"{PR_SCALE} div n").alias("r")
    )
    plan = _explain(_pagerank_round(e, nodes, outdeg, nn, r))
    # per-round N and dangling-mass ride as broadcast 1-row frames; the
    # rank/outdeg joins are hash joins — nothing may cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cms_estimation_broadcasts_cells_no_cartesian(spark, sf_dir):
    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_cms_heavy_hitters"](spark, sf_dir))
    # the DEPTH×WIDTH cell frame must broadcast onto the candidates;
    # nothing in the sketch may degrade to a nested-loop product
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phrase_search_prefilters_vocab_and_equi_joins(spark, sf_dir):
    from kinesis_stream_spark.queries.retrieval import QUERIES

    plan = _explain(QUERIES["text_phrase_search"](spark, sf_dir))
    # the postings frame is vocabulary-prefiltered and localCheckpointed
    # once, so every phrase branch scans the SAME materialized RDD (the
    # IN-filter lives inside that lineage, not replayed per branch);
    # the position chain stays broadcast equi-join — no nested-loop
    assert "Scan ExistingRDD" in plan and "tok#" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_skew_deciles_cumsum_is_partitioned_not_global(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_supplier_skew_deciles"](spark, sf_dir))
    # rank + cum_rows ride ONE distributed_cumsums pass: exactly one
    # range exchange feeds both the pid-local window and the offsets
    # aggregate; the only single-partition window is the buckets-row
    # offset frame
    assert "hashpartitioning(_ds_pid" in plan
    assert plan.count("rangepartitioning(") == 1


def test_top_paths_windows_on_entity_key(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_top_paths"](spark, sf_dir))
    assert "hashpartitioning(user_id" in plan


def test_peak_concurrency_sweep_windows_on_key(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_peak_concurrency"](spark, sf_dir))
    # the sweep and the key-max windows both partition by the key —
    # a missing partitionBy would funnel every endpoint through one task
    assert "hashpartitioning(key" in plan
    assert "SinglePartition" not in plan


def test_fd_profile_is_joinless_union_of_aggregates(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["profile_orders_fds"](spark, sf_dir))
    # independent per-pair aggregate branches unioned — no join anywhere
    assert "Join" not in plan
    assert plan.count("Union") >= 1


def test_hll_distinct_is_combinable_no_cartesian(spark, sf_dir):
    from kinesis_stream_spark.queries.sketch import QUERIES

    plan = _explain(QUERIES["agg_hll_distinct"](spark, sf_dir))
    # register build must be a partial+final hash aggregate (mergeable
    # sketch state), and the exact/sketch row combine must not cartesian
    # anything corpus-sized (1-row cross joins are BNLJ by design)
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_cheapest_path_no_cartesian(spark, sf_dir):
    from kinesis_stream_spark.queries.graph import QUERIES

    plan = _explain(QUERIES["graph_cheapest_path"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_association_rules_pair_join_is_equi(spark, sf_dir):
    from kinesis_stream_spark.queries.basket import QUERIES

    plan = _explain(QUERIES["basket_association_rules"](spark, sf_dir))
    # the pair frame joins on the basket key (equi) and the supports
    # join on the item key; the only nested-loop products are 1-row
    # broadcast combines (the n_baskets total), never a corpus product
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin Inner" in plan


def test_quantile_normalize_uses_distributed_cumsum(spark, sf_dir):
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["feature_quantile_normalize"](spark, sf_dir))
    # the CDF prefix sum runs pid-partitioned local windows — never a
    # single-partition global CUME_DIST over the value frame
    assert "hashpartitioning(_ds_pid" in plan


def test_active_user_windows_has_no_window_function(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_active_user_windows"](spark, sf_dir))
    # the contribution-explode identity: rolling distinct WITHOUT any
    # window operator (a COUNT(DISTINCT) OVER RANGE would either fail
    # or serialize); explode + two count-distinct aggregates only
    assert "Window" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "CartesianProduct" not in plan


def test_ab_ztest_unit_frame_is_distinct_aggregate(spark, sf_dir):
    from kinesis_stream_spark.queries.experiment import QUERIES

    plan = _explain(QUERIES["events_ab_test_zscore"](spark, sf_dir))
    # unit assignment and conversion counting are hash aggregates over
    # distinct frames; the totals combine is a broadcast of ONE row
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_is_single_aggregate_no_window_no_join(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_ohlc_daily"](spark, sf_dir))
    # struct extrema replace the open/close window: one combinable
    # aggregate, nothing else (struct MIN/MAX has no hash-agg buffer
    # in Spark, so it plans as a partial+final SortAggregate — still
    # map-side combinable, which is the property that matters)
    assert "Window" not in plan and "Join" not in plan
    assert "SortAggregate" in plan or "HashAggregate" in plan
    assert "partial" in plan.lower()


def test_strict_funnel_pushes_type_filters_to_scan(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_strict_funnel"](spark, sf_dir))
    # each step's type slice reaches the parquet scan as a pushed filter
    assert "PushedFilters:" in plan
    assert "EqualTo(event_type,signup)" in plan
    assert "CartesianProduct" not in plan


def test_lead_lag_collapses_before_lag_joins(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_lead_lag_correlation"](spark, sf_dir))
    # the five lag branches all scan the SAME checkpointed daily frame
    # (one corpus pass), and the bucket-alignment joins stay equi
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_pruned_scan_has_partition_filters(spark, sf_dir):
    """The partitioned-index search must prune at the SCAN: the routed
    list ids appear in PartitionFilters (directory-level pruning, zero
    I/O for unprobed lists), not as a post-scan Filter, and the pruned
    plan still broadcasts the ADC table like the in-memory twin."""
    from kinesis_stream_spark.queries.quantization import QUERIES

    df = QUERIES["similarity_ivfpq_pruned_topk"](spark, sf_dir)
    plan = _explain(df)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, "partitioned parquet scan missing from plan"
    assert any("list_id IN" in l or "list_id#" in l and " IN " in l
               for l in pf_lines), pf_lines
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pivot_is_single_scan_no_values_prejob(spark, sf_dir):
    """Explicit pivot values must compile to aggregates over ONE scan
    of orders — no distinct-values pre-job, no self-join, no
    cartesian."""
    from kinesis_stream_spark.queries.relational import QUERIES

    import re

    df = QUERIES["reshape_pivot_priority_year"](spark, sf_dir)
    plan = _explain(df)
    # one scan NODE (formatted explain lists each node id once in the
    # detail section)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_attribution_is_one_range_window_no_join(spark, sf_dir):
    """Attribution must be the single value-RANGE window over the
    per-entity interleaved frame — NO conversions-x-touches join of any
    kind (the join formulation is quadratic per power user; it lives
    only in the DuckDB oracle as the independent replay)."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_touch_attribution"](spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "hashpartitioning(ent" in plan  # the one entity exchange
    assert plan.count("Window") >= 1


def test_item_jaccard_pairs_join_is_equi_on_basket(spark, sf_dir):
    from kinesis_stream_spark.queries.basket import QUERIES

    plan = _explain(QUERIES["basket_item_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # final top-k is a pre-list merge, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_abc_classification_uses_range_exchange_not_global_window(spark, sf_dir):
    """The running share must ride the distributed prefix sum (range
    exchange + pid-local windows + tiny offset frame), never a
    corpus-sized single-partition window or a cartesian."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_abc_classification"](spark, sf_dir))
    # the _ds_pid-keyed window is distributed_cumsum's signature (the
    # pid-LOCAL running-sum pass over the range-exchanged frame, which
    # itself hides behind the lazy localCheckpoint barrier); a
    # regression to a constant-key single-partition window would have
    # no _ds_pid exchange. The bare 'rangepartitioning' the docstring
    # used to rely on is vacuous — the final ORDER BY contributes one.
    assert "hashpartitioning(_ds_pid" in plan
    assert "CartesianProduct" not in plan


def test_rfm_boundary_frames_broadcast(spark, sf_dir):
    """Global max and percentile boundaries are 1-row frames joined by
    broadcast — the per-entity frame never re-shuffles for scoring."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_rfm_segments"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # keyless 1-row broadcasts
    assert "CartesianProduct" not in plan


def test_gini_rank_window_is_group_partitioned(spark, sf_dir):
    """The Gini rank must ride a window PARTITIONED by the group key —
    a regression to a global (partition-less) rank would single-reduce
    the whole key frame at 100 TB."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_gini_concentration"](spark, sf_dir))
    assert "hashpartitioning(grp" in plan
    assert "CartesianProduct" not in plan


def test_theil_sen_pair_join_is_equi_on_key(spark, sf_dir):
    """Pairwise slopes must come from a key-equi join on the
    grid-bounded period frame, never a cartesian."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_theil_sen_trend"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_mix_shift_totals_ride_broadcast(spark, sf_dir):
    """The midpoint and the half totals are 1-row frames and must join
    broadcast (BroadcastNestedLoopJoin is the crossJoin(broadcast)
    shape); the corpus side must never shuffle for them."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_mix_shift"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_apdex_is_single_aggregate_no_window_no_join(spark, sf_dir):
    from kinesis_stream_spark.queries.experiment import QUERIES

    plan = _explain(QUERIES["events_apdex_score"](spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_category_profilers_are_melt_plus_aggregate(spark, sf_dir):
    """Both column profilers must stay join-free and window-free — the
    melt is map-local and everything after is combinable."""
    from kinesis_stream_spark.queries.relational import QUERIES

    for name in ("profile_category_balance", "integrity_uniqueness_profile"):
        plan = _explain(QUERIES[name](spark, sf_dir))
        assert "Window" not in plan, name
        assert "Join" not in plan, name


def test_link_prediction_pair_join_is_equi_topk_partial(spark, sf_dir):
    """Candidate pairs must come from the intermediate-keyed equi join
    (degree-capped), and the top-k must be TakeOrderedAndProject —
    per-partition pre-lists, never a full global sort."""
    from kinesis_stream_spark.queries.graph import QUERIES

    plan = _explain(QUERIES["graph_link_prediction"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_item_cosine_topk_partial_no_cartesian(spark, sf_dir):
    from kinesis_stream_spark.queries.basket import QUERIES

    plan = _explain(QUERIES["basket_item_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zonemap_rank_uses_distributed_cumsum(spark, sf_dir):
    """The range-layout global rank must ride the distributed prefix
    sum (the _ds_pid exchange signature), not a single-reducer global
    window over the corpus."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["layout_zonemap_skipping"](spark, sf_dir))
    assert "hashpartitioning(_ds_pid" in plan
    assert "CartesianProduct" not in plan


def test_changepoint_windows_are_key_partitioned_no_join(spark, sf_dir):
    """The prefix-sum identity replaces the pairwise join — the plan
    must hold key-partitioned windows and NO join at all."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_changepoint"](spark, sf_dir))
    assert "hashpartitioning(key" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_median_collapses_then_group_window(spark, sf_dir):
    """Values must collapse to the (group, value) frame before the
    cumulative window — the window never sees raw corpus rows — and
    the window is group-partitioned."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["agg_weighted_median"](spark, sf_dir))
    assert "hashpartitioning(grp" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_zipf_topk_partial_before_rank(spark, sf_dir):
    """The corpus-sized frame ends at TakeOrderedAndProject; the
    partition-less rank window runs on the k-row survivor frame."""
    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_zipf_profile"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_rare_term_cosine_blocked_join_topk_partial(spark, sf_dir):
    """Pair candidates must come from the rare-term equi-join (never
    all-pairs) and the top-k must be a partial TakeOrderedAndProject."""
    from kinesis_stream_spark.queries.dedup import QUERIES

    plan = _explain(QUERIES["dedup_rare_term_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_degree_profile_totals_broadcast_no_window(spark, sf_dir):
    """Role totals ride broadcast 1-row frames; the Spark side never
    needs the oracle's partition-less COUNT(*) OVER ()."""
    from kinesis_stream_spark.queries.graph import QUERIES

    plan = _explain(QUERIES["graph_degree_profile"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_shipping_lag_join_prunes_columns(spark, sf_dir):
    """The fact-to-fact join must scan only the four columns the lag
    percentiles need."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["join_shipping_lag_percentiles"](spark, sf_dir))
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas
    joined = " ".join(read_schemas)
    assert "l_extendedprice" not in joined and "o_totalprice" not in joined


def test_anomaly_episodes_island_window_key_partitioned(spark, sf_dir):
    """The island rank runs only on the flagged subset under a
    key-partitioned window; the totals join is key-keyed equi."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_anomaly_episodes"](spark, sf_dir))
    assert "hashpartitioning(key" in plan
    assert "CartesianProduct" not in plan


def test_cohort_ltv_window_is_cohort_partitioned(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_cohort_ltv"](spark, sf_dir))
    assert "hashpartitioning(cohort_week" in plan
    assert "CartesianProduct" not in plan


def test_lexical_diversity_single_pass_no_join(spark, sf_dir):
    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_lexical_diversity"](spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


def test_assortativity_degree_joins_are_equi(spark, sf_dir):
    from kinesis_stream_spark.queries.graph import QUERIES

    plan = _explain(QUERIES["graph_assortativity"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_prf_expansion_shortlist_broadcasts(spark, sf_dir):
    """The corpus tf frame must join the (queries·m)-row shortlist and
    the query-term exclusion broadcast — the corpus side never
    shuffles for them."""
    from kinesis_stream_spark.queries.retrieval import QUERIES

    plan = _explain(QUERIES["retrieval_prf_expansion"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_session_stats_single_entity_shuffle(spark, sf_dir):
    """Both lag windows (break flag, running session id) ride ONE
    entity-keyed exchange; no join anywhere."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_session_stats"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(ent") <= 1
    assert "Join" not in plan


def test_label_inertia_no_join_no_window(spark, sf_dir):
    """The centroid-free identity keeps the plan to explode +
    combinable aggregates — no centroid join, no window."""
    from kinesis_stream_spark.queries.evaluation import QUERIES

    plan = _explain(QUERIES["similarity_label_inertia"](spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan


def test_reciprocity_semi_join_on_reversed_key(spark, sf_dir):
    from kinesis_stream_spark.queries.graph import QUERIES

    plan = _explain(QUERIES["graph_reciprocity"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ks_drift_rides_distributed_cumsum_no_global_window(spark, sf_dir):
    """The KS CDF prefix sums must ride distributed_cumsums — the
    explainable plan truncates at its localCheckpoint (hiding the
    range exchange), but the surviving Window visibly partitions on
    the _ds_pid partition id, proving no partition-less global window
    ever forms; no cartesian anywhere."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["profile_ks_value_drift"](spark, sf_dir))
    assert "_ds_pid" in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_rides_distributed_cumsum(spark, sf_dir):
    from kinesis_stream_spark.queries.experiment import QUERIES

    plan = _explain(QUERIES["events_ab_mann_whitney"](spark, sf_dir))
    assert "_ds_pid" in plan
    assert "CartesianProduct" not in plan


def test_anova_is_pure_aggregation(spark, sf_dir):
    """k-row folds only: no window, no cartesian (the 1-row broadcast
    combines appear as aggregates, not joins over data)."""
    from kinesis_stream_spark.queries.experiment import QUERIES

    plan = _explain(QUERIES["events_anova_value_by_type"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_growth_accounting_single_unit_window_shuffle(spark, sf_dir):
    """min/lag/lead share ONE unit-partitioned window: exactly one
    hash exchange on the unit key feeds the window stage."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_growth_accounting"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the per-unit window partitions on the unit column, never global
    assert plan.count("Window") >= 1
    assert "unit" in plan


def test_runs_test_windows_partition_by_key(spark, sf_dir):
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_runs_test"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_weighted_sample_window_group_limit(spark, sf_dir):
    """The rank-<=-k filter must compile to WindowGroupLimit (partial
    + final), so every map partition pre-prunes to its local top-k
    BEFORE the group exchange — the property that keeps the sampler
    O(groups·k) per reducer instead of a corpus-sized sort."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["sample_weighted_per_type"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2  # Partial and Final


def test_scorecard_single_scan_for_row_local_checks(spark, sf_dir):
    """All row-local constraints share ONE aggregate: orders is
    scanned once for them plus once per referential rule (the
    child-key projection) — 3 scans total here (agg + ref-child +
    customer), never one per constraint."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["integrity_quality_scorecard"](spark, sf_dir))
    assert plan.count("orders.parquet") <= 2
    assert plan.count("customer.parquet") == 1


def test_join_cardinality_never_joins_raw_rows(spark, sf_dir):
    """The profile prices the join from per-key COUNT frames: the
    only join in the plan is keys-sized (post-aggregation), and no
    exchange carries raw lineitem rows beyond the two counting
    scans' partial aggregates."""
    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["join_cardinality_estimate"](spark, sf_dir))
    # both scans prune to the key column only
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "l_partkey" in line and "l_extendedprice" not in line


def test_spearman_rides_prefix_sum_no_cartesian(spark, sf_dir):
    """Both rank axes ride the distributed prefix-sum shape: every
    window whose spec touches a VALUE axis (xfx/yfx — the corpus-sized
    distinct-value frames) must partition by the range-exchange pid,
    never by the group alone (the single-reducer funnel); the only
    non-pid windows are the tiny offset frames (ordered by pid or by
    the groups-sized grp). No stage is a cartesian product — midranks
    join back on (group, value) equi-keys."""
    import re

    from kinesis_stream_spark.queries.relational import QUERIES

    plan = _explain(QUERIES["profile_spearman_corr"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    specs = [
        l for l in plan.splitlines()
        if "windowspecdefinition" in l
        and ("xfx" in l or "yfx" in l)
    ]
    assert specs, "expected value-axis window specs in the plan"
    for line in specs:
        assert "_ds_pid" in line, f"value-axis window not pid-keyed: {line}"


def test_lm_plausibility_broadcast_vocab_only_nlj(spark, sf_dir):
    """Gram and context lookups stay BROADCAST HASH equi-joins (two
    nodes); exactly one nested-loop join exists — the broadcast 1-row
    vocabulary size. A lookup degrading to a nested loop changes both
    counts."""
    import re

    from kinesis_stream_spark.queries.text import QUERIES

    plan = _explain(QUERIES["text_lm_plausibility"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    lines = [l.strip() for l in plan.splitlines()]
    bhj = sum(1 for l in lines if re.match(r"\(\d+\) BroadcastHashJoin", l))
    nlj = sum(
        1 for l in lines if re.match(r"\(\d+\) BroadcastNestedLoopJoin", l)
    )
    assert bhj == 2, f"gram/context lookups must stay hash joins: {bhj}"
    assert nlj == 1, f"only the 1-row vocab may nested-loop: {nlj}"


def test_linear_interpolation_windows_keyed(spark, sf_dir):
    """Both fill windows partition by the series key — parallel
    across keys, no single-reducer funnel."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    plan = _explain(QUERIES["events_linear_interpolation"](spark, sf_dir))
    for line in plan.splitlines():
        if "Window [" in line:
            assert "key" in line
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Round-11 operators: plan-shape pins
# --------------------------------------------------------------------------


def _tree(df) -> str:
    """The node-tree section of the formatted plan (each node listed
    once — the details section repeats names)."""
    return _explain(df).split("\n\n")[0]


def test_bootstrap_plan_is_one_explode_no_join(spark, sf_dir):
    """The x64 resample must stay a map-side explode feeding partial
    aggregates — never a row join; the only join is the broadcast of
    the 1-row replicate summary onto the 1-row base. Since the r13
    fold, the explode runs exactly ONCE inside the eager checkpoint
    job on the B-row replicate aggregate, and BOTH branches (summary
    and base) ride that checkpoint: the final plan must show zero
    parquet scans and two reads of the same checkpointed RDD."""
    from kinesis_stream_spark.queries.experiment import QUERIES

    df = QUERIES["events_bootstrap_ci"](spark, sf_dir)
    plan, tree = _explain(df), _tree(df)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert tree.count("Scan parquet") == 0      # corpus read in ckpt job
    assert tree.count("Scan ExistingRDD") == 2  # both branches share it
    assert tree.count("BroadcastNestedLoopJoin") == 1  # 1-row x 1-row


def test_ivf_recall_sweep_scan_count_stays_shared(spark, sf_dir):
    """ADVICE-r12: the r12 cut checkpointed the bruteforce truth and
    quantizer once so the composed sweep reads SIX corpus scans in the
    plan tree instead of re-deriving them per nprobe point — a
    regression here (shared-subtree recompute creeping back) is
    invisible to the bench at test SF, so pin the shape."""
    from kinesis_stream_spark.queries.similarity import QUERIES

    df = QUERIES["similarity_ivf_nprobe_sweep"](spark, sf_dir)
    plan, tree = _explain(df), _tree(df)
    assert tree.count("Scan parquet") <= 6
    assert "CartesianProduct" not in plan


def test_srm_and_cuped_are_single_scan_aggregates(spark, sf_dir):
    """The A/B health gate and CUPED are one combinable pass over the
    corpus — no join, no window, one parquet scan."""
    from kinesis_stream_spark.queries.experiment import QUERIES

    for name in ("events_ab_srm_check", "events_ab_cuped"):
        df = QUERIES[name](spark, sf_dir)
        plan, tree = _explain(df), _tree(df)
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert tree.count("Scan parquet") == 1, name


def test_rolling_distinct_bounded_explodes_no_cartesian(spark, sf_dir):
    """Contribution explode (x window) + grid explode only; the grid
    joins stay hash/broadcast — a per-day range self-join (cartesian)
    must never appear."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    df = QUERIES["events_rolling_distinct"](spark, sf_dir)
    plan, tree = _explain(df), _tree(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert tree.count("Generate") == 2


def test_seasonal_naive_joins_grid_frames_only(spark, sf_dir):
    """Calendar lags are equi-joins of the aggregated (key, bucket)
    grid — no cartesian, no window over raw events."""
    from kinesis_stream_spark.queries.temporal import QUERIES

    df = QUERIES["events_seasonal_naive_forecast"](spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_reconciliation_full_outer_on_keys_frames(spark, sf_dir):
    """The audit joins two keys-sized fx frames FULL OUTER (both
    sides' absences are findings) and scans each raw table once."""
    from kinesis_stream_spark.queries.relational import QUERIES

    df = QUERIES["integrity_total_reconciliation"](spark, sf_dir)
    plan, tree = _explain(df), _tree(df)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert tree.count("Scan parquet") == 2


def test_target_encoding_no_cartesian_single_row_global(spark, sf_dir):
    """Category stats join back by hash/broadcast; the only nested
    loop is the broadcast 1-row global mean."""
    from kinesis_stream_spark.queries.relational import QUERIES

    df = QUERIES["feature_target_encoding"](spark, sf_dir)
    plan, tree = _explain(df), _tree(df)
    assert "CartesianProduct" not in plan
    assert tree.count("BroadcastNestedLoopJoin") == 1
