"""Physical-plan regression tests.

Correctness tests prove the right ANSWER; these prove the right PLAN — the
properties that decide whether a query survives a 100× scale-up: filters
reaching the parquet scan, dims broadcasting, codegen covering the hot
path, and the flagship's pair stage not shuffling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.plans.registry import QUERIES, _load_all

_load_all()


def _plan(spark, sf_oracle, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_oracle)
    # mirror DataFrame.explain("formatted") but return the text
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_point_lookup_pushes_filter_to_scan(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "point_lookup")
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan


def test_projection_filter_prunes_columns(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "projection_filter_scan")
    # ReadSchema must not include unprojected columns like l_comment-ish
    # fields; the 5 needed columns only
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_partkey" not in read and "l_quantity" not in read
    assert "PushedFilters" in plan and "EqualTo(l_returnflag,R)" in plan


def test_q5_broadcasts_dimensions(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q5_region_volume")
    # all four dims ride broadcast joins; the only exchange pair belongs to
    # the lineitem⋈orders shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_q1_partial_aggregation_and_pushdown(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q1_pricing_summary")
    # map-side combine: partial_* before the exchange, final after —
    # the shuffle moves 6 rows per task regardless of input size
    assert "partial_sum" in plan and "partial_avg" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate," in plan


def _plan_of(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_flagship_pair_stage_does_not_shuffle(spark, sf_oracle, flagship_on):
    """SPARSE strategy (the 100 TB default): the pair join output must
    aggregate without an Exchange — the groupBy(title_id, abstract_id)
    reuses the title window's hash partitioning, and the DF side
    broadcasts."""
    plan = _plan_of(spark, flagship_on(sf_oracle, "sparse"))
    lines = plan.splitlines()
    # locate the pair aggregation (keys title_id + abstract_id)
    agg_idx = [
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l or "Exchange" in l or "BroadcastHashJoin" in l
    ]
    # property: somewhere a BroadcastHashJoin feeds HashAggregates with no
    # Exchange between them — assert no Exchange directly between the pair
    # join and its aggregates by checking the formatted operator list order
    ops = [l.split("(")[0].strip("+- :*") for i, l in enumerate(lines) if i in agg_idx]
    joined = ",".join(ops)
    assert "BroadcastHashJoin" in joined
    # the argmax window rides the same partitioning: WindowGroupLimit present
    assert "WindowGroupLimit" in plan


def test_flagship_sparse_branch_drops_tf_cache(spark, sf_oracle, monkeypatch):
    """The sparse branch must NOT route its pair-join build side through
    the probe's TF/DF cache: a persist feeding exactly one streaming pass
    breaks whole-stage fusion behind a TableCacheQueryStage barrier
    (measured 40.7 vs 22.0 s at the 16x replica, SCALE.md r7). After auto
    decides sparse, the final plan must contain no InMemoryRelation."""
    from similarity_analysis_big_data_spark.plans.similarity import title_best_abstract

    # force the full auto probe to run (no memo; the fixture's narrow
    # vocabulary leaves the pre-probe undecided) AND pick sparse by
    # shrinking the broadcast-cells ceiling to zero for the call
    from similarity_analysis_big_data_spark.operators import similarity as ops
    from similarity_analysis_big_data_spark.plans import similarity as S

    key = (spark.sparkContext.applicationId, sf_oracle)
    S._AUTO_STRATEGY_CACHE.pop(key, None)
    monkeypatch.setattr(ops, "DENSE_MAX_BROADCAST_CELLS", 0)
    try:
        df = title_best_abstract(spark, sf_oracle)
        assert S._AUTO_STRATEGY_CACHE[key] == "sparse"
        plan = _plan_of(spark, df)
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
        assert "ExistingRDD" not in plan  # nor through the probe's checkpoints
    finally:
        S._AUTO_STRATEGY_CACHE.pop(key, None)
        spark.catalog.clearCache()


@pytest.mark.parametrize("query", ["title_best_abstract", "corpus_curation_pipeline"])
def test_flagship_dense_leaves_the_session_cache_empty(spark, sf_oracle, flagship_on, query):
    """The flagship's probe/dense TF and DF and the curation pipeline's
    tokens live as long as the plan that reads them: two calls in one
    session cache nothing, so a long-lived driver keeps no relation per
    input and a repeat call is never served from an earlier call's data."""

    def run():
        if query == "title_best_abstract":
            return flagship_on(sf_oracle, "dense").collect()
        return QUERIES[query].fn(spark, sf_oracle).collect()

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    first = run()
    second = run()
    assert sorted(first) == sorted(second)
    assert cache.isEmpty()


def test_topn_uses_take_ordered(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "global_topn_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_semi_and_anti_join_operators(spark, sf_oracle):
    assert "LeftSemi" in _plan(spark, sf_oracle, "semi_join_active_customers")
    assert "LeftAnti" in _plan(spark, sf_oracle, "anti_join_dormant_customers")


def test_range_join_is_broadcast_nested_loop(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "range_join_price_bracket")
    assert "BroadcastNestedLoopJoin" in plan  # range predicate, map-side


def test_asof_join_single_user_shuffle(spark, sf_oracle):
    """The union+window as-of formulation: exactly the per-user exchanges,
    no range-join blowup (no NestedLoop anywhere)."""
    plan = _plan(spark, sf_oracle, "asof_join_purchase_click")
    assert "NestedLoop" not in plan
    assert "Window" in plan


def test_global_sort_is_range_partitioned(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "global_sorted_orders")
    # total order via sampled range partitioning, never a single-task sort
    assert "rangepartitioning" in plan and "Sort" in plan


def test_simhash_pairing_has_no_cartesian(spark, sf_oracle):
    """VERDICT r1 #3: the registered SimHash query must use the banded
    equi-join, never the O(n²) cross-join exactness oracle."""
    plan = _plan(spark, sf_oracle, "simhash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_heavy_hitters_two_phase_agg(spark, sf_oracle):
    """The salted aggregation must shuffle twice — once on (term, _salt),
    once on term — so a hot key never lands on a single reducer whole."""
    plan = _plan(spark, sf_oracle, "salted_heavy_hitter_terms")
    assert "CartesianProduct" not in plan
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("_salt" in l for l in exchanges), exchanges
    assert any("_salt" not in l and "term" in l for l in exchanges), exchanges


def test_latest_event_compaction_uses_window_group_limit(spark, sf_oracle):
    """Keep-newest dedup must prune per-task top-1 BEFORE the shuffle."""
    plan = _plan(spark, sf_oracle, "latest_event_per_user")
    assert "WindowGroupLimit" in plan


def test_subquery_decorrelation(spark, sf_oracle):
    """Catalyst must rewrite every subquery form to a join — no per-outer-row
    re-evaluation, no CartesianProduct — or the form dies at scale."""
    plan = _plan(spark, sf_oracle, "subq_exists_returned")
    assert "LeftSemi" in plan or "Semi" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, sf_oracle, "subq_not_exists_unreturned_parts")
    assert "LeftAnti" in plan or "Anti" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, sf_oracle, "subq_correlated_small_qty")
    # correlated scalar → per-partkey aggregate joined on the correlation key
    assert "partial_avg" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, sf_oracle, "subq_not_in_quiet_suppliers")
    # NOT IN is the null-aware anti form
    assert "LeftAnti" in plan or "Anti" in plan


def test_disjunctive_filter_pushes_down(spark, sf_oracle):
    """The Q19-shape OR-of-ANDs must reach the parquet scan as one pushed
    Or(...) filter, not evaluate post-scan only."""
    plan = _plan(spark, sf_oracle, "disjunctive_filter_revenue")
    read = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "Or(" in read and "l_quantity" in read


def test_lm_model_joinback_broadcasts(spark, sf_oracle):
    """The vocabulary-sized model relation must broadcast back onto the
    exploded corpus — a shuffle join there would exchange the corpus-sized
    side on term (the 100 TB bottleneck the formulation avoids)."""
    plan = _plan(spark, sf_oracle, "unigram_surprisal_scores")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, sf_oracle, "bigram_surprisal_scores")
    assert "BroadcastHashJoin" in plan


def test_semdedup_pair_stage_is_cell_keyed(spark, sf_oracle):
    """All pair comparisons stay cell-keyed: the pair stage must be an
    equi-join on cell_id, never an all-pairs operator. (The plan's only
    BroadcastNestedLoopJoins are the 8-row centroid broadcasts — same as
    the IVF queries.)"""
    plan = _plan(spark, sf_oracle, "semdedup_cell_survivors")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin Inner" in plan or "ShuffledHashJoin Inner" in plan


def test_chunking_is_narrow(spark, sf_oracle):
    """Chunk generation must not shuffle: one scan, one generator, no
    Exchange (the map-side row amplification is the whole plan)."""
    plan = _plan(spark, sf_oracle, "chunk_documents_stride")
    assert "Exchange" not in plan


def test_pack_window_is_lang_partitioned(spark, sf_oracle):
    """The running-sum window must hash-partition by lang — a global-order
    window would serialize the corpus through one task."""
    plan = _plan(spark, sf_oracle, "pack_docs_token_budget")
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_decontamination_eval_side_broadcasts(spark, sf_oracle):
    """The eval window index is benchmark-sized; it must broadcast so the
    corpus-sized training-window side never exchanges for the join."""
    plan = _plan(spark, sf_oracle, "decontaminate_against_eval")
    assert "BroadcastHashJoin" in plan


def test_bloom_runtime_filter_injected(spark, sf_oracle):
    """The filtered-dim join must carry an injected runtime bloom filter on
    the fact side: might_contain prunes lineitem rows at the scan, before
    the shuffle — the 100 TB join-pruning lever when the dim can't
    broadcast. (executedPlan, not explain: injection happens in optimizer
    rules whose effect we assert on the final physical plan.)"""
    df = QUERIES["bloom_runtime_filter_join"].fn(spark, sf_oracle)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_bloom_query_confs_do_not_leak(spark, sf_oracle):
    """The bloom demo lowers injection thresholds on a CLONED session; the
    caller's session must keep its own conf (broadcast stays enabled)."""
    QUERIES["bloom_runtime_filter_join"].fn(spark, sf_oracle)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_source_cap_uses_window_group_limit(spark, sf_oracle):
    """The per-source cap must prune to local top-K before the shuffle."""
    plan = _plan(spark, sf_oracle, "source_cap_documents")
    assert "WindowGroupLimit" in plan


def test_funnel_single_stream_shuffle(spark, sf_oracle):
    """All three funnel-stage windows ride ONE user_id partitioning: the
    event stream exchanges once; a per-stage self-join formulation would
    exchange it once per stage."""
    plan = _plan(spark, sf_oracle, "funnel_view_click_purchase")
    assert plan.count("hashpartitioning(user_id") <= 1


def test_weighted_reservoir_is_take_ordered(spark, sf_oracle):
    """A-ES weighted sampling must compile to TakeOrderedAndProject —
    per-task local top-K, K rows per task to the coordinator, no global
    sort of the corpus."""
    plan = _plan(spark, sf_oracle, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in plan


def test_zorder_key_is_narrow(spark, sf_oracle):
    """The Morton key is pure projection arithmetic: no Exchange, no UDF."""
    plan = _plan(spark, sf_oracle, "zorder_key_events")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_oracle):
    """Each Lloyd iteration must broadcast the K centroid literals onto the
    corpus (no cartesian shuffle): the corpus-side scan computes its argmin
    locally."""
    plan = _plan(spark, sf_oracle, "kmeans_embedding_clusters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_is_single_stage_expand(spark, sf_oracle):
    """melt = map-side Expand: one scan, no Exchange, no self-union."""
    plan = _plan(spark, sf_oracle, "unpivot_lineitem_measures")
    assert "Expand" in plan
    assert "Exchange" not in plan
    # exactly one file relation (formatted explain prints each node twice:
    # tree line + detail block, so count Location lines instead)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_bm25_statistics_broadcast(spark, sf_oracle):
    """df and (N, avgdl) relations broadcast back onto the query-term TF
    relation; the corpus is never shuffle-joined against itself."""
    plan = _plan(spark, sf_oracle, "bm25_top_docs")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row consts crossJoin
    assert "CartesianProduct" not in plan


def test_robust_stats_group_tables_broadcast(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "robust_stats_by_source")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_curation_pipeline_single_corpus_scan(spark, sf_oracle):
    """The tokenized relation is checkpointed: the corpus scan ran once,
    inside the eager checkpoint, and every stage branch reads the
    checkpoint's RDD — the plan scans no file."""
    plan = _plan(spark, sf_oracle, "corpus_curation_pipeline")
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "Scan ExistingRDD" in plan


def test_pagerank_rank_table_broadcasts(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "pagerank_trade_nations")
    assert "CartesianProduct" not in plan
    # per-iteration rank joins broadcast (3 iterations -> >= 3 BHJ on ranks)
    assert plan.count("BroadcastHashJoin") >= 3


def test_flagship_dense_strategy_materializes_no_pairs(spark, sf_oracle, flagship_on):
    """DENSE strategy: the pair stage is a broadcast matmul inside
    mapInPandas — no title⋈abstract join operator exists in the plan, and
    the fixture's 31-term vocabulary makes auto pick it."""
    plan = _plan_of(spark, flagship_on(sf_oracle, "dense"))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the merge of partition-local winners is the only window
    assert "WindowGroupLimit" in plan


def test_flagship_dense_matmul_input_is_key_partitioned(spark, sf_oracle, flagship_on):
    """The block matmul's input must be hash-partitioned on the blocking
    key (every candidate's terms co-located) — whether that comes from
    dense_best_match's own repartition or a collapsed-away upstream
    window exchange is Catalyst's choice (r11 measured: the explicit
    repartition collapses to a no-op when the l2 window already
    partitions on the id, and the matmul sees identical partitioning
    either way). The pin: below MapInPandas there IS an Exchange
    hashpartitioning on the id, and nothing between them re-shuffles on
    a different key (which would split a candidate's terms across
    blocks and corrupt the partition-local argmax)."""
    df = flagship_on(sf_oracle, "dense")
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    idx = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    below = lines[idx + 1 :]
    exchanges = [i for i, line in enumerate(below) if "Exchange" in line]
    assert exchanges, "no exchange below the matmul at all"
    first = below[exchanges[0]]
    assert "hashpartitioning(abstract_id" in first, first


def test_flagship_memo_is_a_bare_verdict(spark, sf_oracle, monkeypatch):
    """The auto-strategy memo holds the verdict string only ("dense" on
    the fixture's narrow vocabulary — the value perfbench reads), a repeat
    call makes ONE collect before the final action, and a poisoned verdict
    of either kind still returns the exact rows: a stale "dense" falls to
    dense_best_match's bound check, a stale "sparse" is exact by
    construction."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from similarity_analysis_big_data_spark.operators import similarity as ops
    from similarity_analysis_big_data_spark.plans import similarity as S

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    key = (spark.sparkContext.applicationId, sf_oracle)
    S._AUTO_STRATEGY_CACHE.pop(key, None)
    try:
        baseline = rows(S.title_best_abstract(spark, sf_oracle))
        assert S._AUTO_STRATEGY_CACHE[key] == "dense"

        collects = []
        orig = ClassicDataFrame.collect
        monkeypatch.setattr(
            ClassicDataFrame, "collect", lambda df: collects.append(1) or orig(df)
        )
        memo = S.title_best_abstract(spark, sf_oracle)
        assert len(collects) == 1, "memoized call: one stats+title collect"
        assert rows(memo) == baseline
        assert len(collects) == 2  # plus the final action
        monkeypatch.undo()

        S._AUTO_STRATEGY_CACHE[key] = "sparse"
        assert rows(S.title_best_abstract(spark, sf_oracle)) == baseline
        assert S._AUTO_STRATEGY_CACHE[key] == "sparse"  # no probe re-decided it

        monkeypatch.setattr(ops, "DENSE_MAX_VOCAB", 0)  # the operator's guard trips
        S._AUTO_STRATEGY_CACHE[key] = "dense"
        stale_dense = S.title_best_abstract(spark, sf_oracle)
        assert "MapInPandas" not in _plan_of(spark, stale_dense)  # fell back to the join
        assert rows(stale_dense) == baseline
    finally:
        S._AUTO_STRATEGY_CACHE.pop(key, None)
        spark.catalog.clearCache()


def test_ann_dense_strategy_is_map_side(spark, sf_oracle):
    """Dense ANN scoring, which the fixture's small query set takes:
    corpus stays map-side (MapInPandas over the scan), no pair join
    operator; merge is the only window."""
    from similarity_analysis_big_data_spark.plans.ann import ann_bruteforce_topk

    plan = _plan_of(spark, ann_bruteforce_topk(spark, sf_oracle))
    assert "MapInPandas" in plan
    assert "Join" not in plan  # no join operator of any kind


def test_q2_uses_window_group_limit(spark, sf_oracle):
    """The per-part min supplier is rank-1 pruning (WindowGroupLimit),
    not the textbook min-self-join; all dims broadcast."""
    plan = _plan(spark, sf_oracle, "q2_min_cost_supplier")
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q4_semi_join_with_pushdown(spark, sf_oracle):
    """EXISTS compiles to LeftSemi; the order-date window reaches the
    orders scan as pushed filters."""
    plan = _plan(spark, sf_oracle, "q4_late_order_priority")
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate," in plan


def test_q21_windows_reuse_one_shuffle(spark, sf_oracle):
    """Both window passes and the groupBy ride the per-(order, supplier)
    aggregate's partitioning: exactly ONE exchange hashes on l_orderkey,
    and none appears between the Window operators."""
    plan = _plan(spark, sf_oracle, "q21_blocking_suppliers")
    assert plan.count("Window") >= 2
    # exchanges: one for the supp_last agg (l_orderkey, l_suppkey -> after
    # AQE the window reuses it via hashpartitioning(l_orderkey)), one for
    # the final s_name groupBy; the windows add ZERO further exchanges
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange <= 3, plan


def test_mixture_rate_table_broadcasts(spark, sf_oracle):
    """The per-source rate table joins back by broadcast — the corpus
    side never shuffles for the membership pass."""
    plan = _plan(spark, sf_oracle, "mixture_temperature_resample")
    assert "BroadcastHashJoin" in plan


def test_scd2_single_user_shuffle(spark, sf_oracle):
    """Change-compression lag, interval lead, and the output all ride ONE
    hashpartitioning(user_id) exchange."""
    plan = _plan(spark, sf_oracle, "scd2_user_state_history")
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_knn_graph_never_cartesian(spark, sf_oracle):
    """The kNN-graph pair stage joins on cell_id — a CartesianProduct or
    BroadcastNestedLoopJoin in the scored-pairs subtree would mean the
    IVF bounding silently fell out of the plan."""
    plan = _plan(spark, sf_oracle, "knn_graph_edges")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the broadcast centroid cross
    # joins plus the 1-row n_cells scalar gate feeding each centroid
    # relation (sqrt-scaled cell count); the pair stage itself must be an
    # equi-join on cell_id
    # formatted plans print each operator twice (tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 8
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin" in plan


def test_vocab_oov_broadcasts_vocabulary(spark, sf_oracle):
    """The top-N vocabulary must ride a broadcast join back onto the
    exploded corpus — a shuffle join there would move the corpus twice."""
    plan = _plan(spark, sf_oracle, "vocab_oov_rates")
    assert "BroadcastHashJoin" in plan
    # per-doc agg is the only corpus-sized shuffle: partial then final
    assert "partial_count" in plan or "partial_sum" in plan


def test_pmi_joins_are_broadcast_and_aggs_partial(spark, sf_oracle):
    """PMI's two unigram join-backs land on the vocab-sized bigram-count
    relation via broadcast; the corpus-sized aggregations keep map-side
    combine."""
    plan = _plan(spark, sf_oracle, "token_pmi_collocations")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_count" in plan


def test_merge_upsert_reduces_before_join(spark, sf_oracle):
    """MERGE's full outer join must consume key-grained aggregates (both
    sides HashAggregate below the SortMergeJoin), not raw order rows."""
    plan = _plan(spark, sf_oracle, "merge_upsert_customer_state")
    assert "FullOuter" in plan
    assert "partial_count" in plan and "partial_sum" in plan


def test_triangle_count_collapses_fact_first(spark, sf_oracle):
    """Triangle joins run over the aggregated edge relation: the plan has
    hash joins keyed on vertices and no nested-loop pair stage."""
    plan = _plan(spark, sf_oracle, "triangle_count_trade")
    assert "CartesianProduct" not in plan
    # one BNLJ allowed: the final 1-row x 1-row scalar combine
    # formatted plans print each operator twice (tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin" in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join is the engine-native lever SCALE.md names for skewed
    equi-joins: with one hot key dominating the left side, the runtime
    re-plan must split the oversized partition (skew=true in the final
    adaptive plan) instead of letting one task process the whole key.
    Conf is scoped to a cloned session; thresholds are lowered so
    fixture-scale data crosses the skew detector."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    n_hot, n_keys = 200_000, 50
    # payload must be incompressible and actually consumed downstream —
    # 200k identical longs lz4-compress under the skew threshold, and a
    # column the join doesn't need gets pruned before the shuffle
    left = s2.range(n_hot + n_keys * 100).select(
        F.when(F.col("id") < n_hot, F.lit(0))
        .otherwise((F.col("id") % n_keys) + 1)
        .alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    right = s2.range(n_keys + 1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim")
    )
    # NOTE: a groupBy(k) directly after the join would pin the join's
    # hash distribution and make AQE refuse to split (splitting breaks
    # the downstream requirement) — a global aggregate imposes none.
    # max(payload) — count(payload) on a non-null column is rewritten to
    # count(1) and the column pruned anyway
    joined = left.join(right, "k").agg(
        F.count("*").alias("n"), F.max(F.col("payload")).alias("mp")
    )
    # collect() executes THIS DataFrame's queryExecution (first() would
    # plan a separate limited query and leave this one unexecuted)
    total = joined.collect()[0]["n"]
    assert total == n_hot + n_keys * 100  # every left row matches exactly once
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final_plan, (
        "AQE did not split the hot partition:\n" + final_plan[:2000]
    )


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_oracle, tmp_path_factory):
    """Dynamic partition pruning: joining a partitioned fact to a filtered
    dimension must inject a runtime subquery that prunes fact partitions
    by the dim's surviving join keys — at 100 TB this is the difference
    between scanning 3 partitions and 3000. Asserted via the
    dynamicpruning expression on the fact scan."""
    from similarity_analysis_big_data_spark.sources.readers import load_table

    base = str(tmp_path_factory.mktemp("dpp") / "orders_by_status")
    orders = load_table(spark, sf_oracle, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(base)

    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    # force the reuse-broadcast DPP path regardless of stats estimates
    s2.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false"
    )
    fact = s2.read.parquet(base)
    # DPP needs a selective predicate on the dim side — an unfiltered
    # one-row relation does not trigger the rewrite
    dim = s2.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    ).filter(F.col("label") == "finished")
    joined = fact.join(dim, "o_orderstatus").groupBy("label").count()
    plan = s2._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    # and the answer is right: only status F rows survive
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()
    assert {r["label"]: r["count"] for r in joined.collect()} == {"finished": n_f}


def test_nested_schema_pruning_reads_one_leaf(spark, tmp_path_factory):
    """Nested-schema pruning: selecting one leaf of a struct column must
    scan ONLY that leaf (ReadSchema shows the single nested field) — on
    wide nested telemetry this is most of the I/O at scale."""
    path = str(tmp_path_factory.mktemp("nested") / "t")
    df = spark.range(1000).select(
        F.col("id"),
        F.struct(
            (F.col("id") * 2).alias("a"),
            F.md5(F.col("id").cast("string")).alias("big_b"),
            (F.col("id") % 7).alias("c"),
        ).alias("payload"),
    )
    df.write.mode("overwrite").parquet(path)
    q = spark.read.parquet(path).select(F.col("payload.a").alias("a")).filter(
        F.col("a") > 10
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "a:bigint" in read.replace(" ", "")
    assert "big_b" not in read and "c:" not in read.replace(" ", "")


def test_weighted_median_shares_one_window_exchange(spark, sf_oracle):
    """Both window specs (running cumulative weight + group total) must
    share the single l_returnflag hash partitioning — a second Exchange
    would double the sort cost for no reason."""
    plan = _plan(spark, sf_oracle, "weighted_median_price")
    assert plan.count("Exchange hashpartitioning(l_returnflag") <= 2  # tree+detail


def test_copurchase_joins_on_basket_key(spark, sf_oracle):
    """The pair self-join must be an equi-join on l_orderkey (basket-
    bounded), never a cartesian pair stage."""
    plan = _plan(spark, sf_oracle, "copurchase_part_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_doc_top_keywords_uses_window_group_limit(spark, sf_oracle):
    """The per-doc top-k must compile to WindowGroupLimit (rank filter
    pushed into the window sort), not a full per-group sort + filter."""
    plan = _plan(spark, sf_oracle, "doc_top_keywords")
    assert "WindowGroupLimit" in plan


def test_point_in_time_join_is_equi_keyed(spark, sf_oracle):
    """The SCD2 interval predicate must ride an equi-join on user (hash
    or broadcast), never a nested-loop range join."""
    plan = _plan(spark, sf_oracle, "point_in_time_state_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cold_start_rec_uses_anti_join_and_group_limit(spark, sf_oracle):
    """The personal exclusion must be a LeftAnti join and the per-user
    top-k a WindowGroupLimit — the two operators that keep the
    recommendation fan-out bounded."""
    plan = _plan(spark, sf_oracle, "cold_start_part_recommendations")
    assert "LeftAnti" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_minhash_accuracy_joins_signatures_not_corpus(spark, sf_oracle):
    """The estimate stage must join the signature relation (hash equi-
    joins), with the exact verify bounded to candidates — no cartesian
    or nested-loop stage anywhere."""
    plan = _plan(spark, sf_oracle, "minhash_estimate_accuracy")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_burstiness_single_user_shuffle(spark, sf_oracle):
    """The gap window and the stats agg must share the user_id hash
    partitioning — one corpus shuffle total."""
    plan = _plan(spark, sf_oracle, "user_event_burstiness")
    # one user_id exchange (printed twice: tree + detail section)
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


_GLOBAL_TOPN_FIXED = [
    "bm25_top_docs",
    "token_pmi_collocations",
    "bpe_merge_pairs",
    "vocab_oov_rates",
    "vocab_drift_halves",
    "copurchase_part_pairs",
]


def test_tokenize_corpus_plan_has_no_window_at_all(spark, sf_oracle):
    """The headline encode query: the vocab is a driver-materialized
    model artifact (TakeOrderedAndProject + bounded collect), so the
    returned plan must contain NO window of any kind and join the vocab
    back by broadcast."""
    df = QUERIES["tokenize_corpus_to_ids"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", _GLOBAL_TOPN_FIXED)
def test_global_topn_compiles_to_take_ordered(spark, sf_oracle, name):
    """r3 verdict item 1: the top-N over an unbounded (term/bigram/score)
    relation must be TakeOrderedAndProject — per-task heaps — not a
    row_number window that funnels the relation through one partition.
    The only permissible unpartitioned windows rank the N-bounded
    survivors (their child is the TakeOrderedAndProject itself)."""
    df = QUERIES[name].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the executed-plan tree prints root-first and indents children, so a
    # rank window over the limited relation appears strictly ABOVE the
    # TakeOrderedAndProject node; a pre-limit (corpus-sized) window would
    # appear below it
    lines = plan.splitlines()
    first_topn = min(
        i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l
    )
    below = [
        l for l in lines[first_topn + 1 :]
        if "windowspecdefinition" in l and "row_number" in l
    ]
    assert not below, f"row_number window below the limit: {below[0][:160]}"


def test_quantile_normalize_all_corpus_windows_partitioned(spark, sf_oracle):
    """r3 verdict item 1 (quantile_normalize_doclen): the two corpus-sized
    unpartitioned windows are gone — every row_number window is
    partitioned by bucket, and the only unpartitioned windows run over
    the <=|sources|*B count relation (offset cumsums)."""
    df = QUERIES["quantile_normalize_doclen"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.strip()
        if "windowspecdefinition" not in s or "row_number" not in s:
            continue
        # row_number windows touch corpus rows: must carry a partition key
        assert "bkt#" in s, f"unpartitioned corpus window: {s[:160]}"


def test_quantile_normalize_bucketed_equals_window_form(spark, sf_oracle):
    """Property: the bucketed/arithmetic as-of formulation returns the
    exact rows of the straightforward double-global-window formulation."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_oracle, "documents")
    w_src = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id", "source", "n_chars", F.percent_rank().over(w_src).alias("pr")
    )
    w_glob = W.orderBy("n_chars", "doc_id")
    glob = docs.select(
        F.col("n_chars").alias("g_chars"),
        F.percent_rank().over(w_glob).alias("gpr"),
    )
    left = ranked.select(
        F.col("pr").alias("k"), F.lit(1).alias("flag"), "doc_id", "source",
        "n_chars", F.lit(None).cast("long").alias("g_chars"),
    )
    right = glob.select(
        F.col("gpr").alias("k"), F.lit(0).alias("flag"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"), "g_chars",
    )
    w_asof = W.orderBy("k", "flag", "g_chars").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    merged = left.unionByName(right).withColumn(
        "norm_chars", F.last("g_chars", ignorenulls=True).over(w_asof)
    )
    expected = (
        merged.filter(F.col("flag") == 1)
        .select(
            "doc_id", "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round("k", 6).alias("pr"),
            F.col("norm_chars").cast("long").alias("norm_chars"),
        )
    )
    actual = QUERIES["quantile_normalize_doclen"].fn(spark, sf_oracle)
    sym = actual.exceptAll(expected).count() + expected.exceptAll(actual).count()
    assert sym == 0


def test_rfm_arithmetic_ntile_equals_window_ntile(spark, sf_oracle):
    """Property: the distributed rank + arithmetic NTILE restatement
    produces exactly the three global-window ntile scores."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.plans.analytics import (
        RFM_BUCKETS, RFM_REF_DATE,
    )
    from similarity_analysis_big_data_spark.sources.readers import load_table

    orders = load_table(spark, sf_oracle, "orders")
    ref = F.lit(RFM_REF_DATE).cast("date")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(ref, F.max("o_orderdate").cast("date")).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    expected = rfm.select(
        "custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
        F.ntile(RFM_BUCKETS).over(W.orderBy("recency_days", "custkey"))
        .cast("long").alias("r_score"),
        F.ntile(RFM_BUCKETS).over(W.orderBy(F.desc("frequency"), "custkey"))
        .cast("long").alias("f_score"),
        F.ntile(RFM_BUCKETS).over(W.orderBy(F.desc("monetary"), "custkey"))
        .cast("long").alias("m_score"),
    )
    actual = QUERIES["rfm_customer_segments"].fn(spark, sf_oracle)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0


def test_gini_and_rfm_and_skyline_have_no_unpartitioned_corpus_window(
    spark, sf_oracle
):
    """r3 verdict item 2: the graduated queries keep every window over
    relation-sized data partitioned (bucket/day keys); the only
    unpartitioned windows run on the bounded count/bucket-max/day-total
    relations whose row count is <= |groups| * B by construction."""
    for name in (
        "customer_spend_gini",
        "rfm_customer_segments",
        "skyline_price_size_parts",
        "session_concurrency_sweep",
    ):
        df = QUERIES[name].fn(spark, sf_oracle)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            s = line.strip()
            if "windowspecdefinition" not in s or "row_number" not in s:
                continue
            assert "bkt#" in s or "_bkt#" in s, f"{name}: {s[:160]}"


def test_abc_running_sum_windows_are_bucket_partitioned(spark, sf_oracle):
    """bucketed_running_sum: every sum window over the catalog-sized
    relation must carry the bucket key; only the <=B-row subtotal cumsum
    runs unpartitioned."""
    df = QUERIES["abc_revenue_classification"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.strip()
        if "windowspecdefinition" not in s:
            continue
        # the only permissible non-bucket window is the offset cumsum over
        # the per-bucket subtotal relation (its frame sums _bs)
        assert "_bkt#" in s or "_bs#" in s, f"unbucketed window: {s[:160]}"


def test_hourly_interpolation_window_reads_spine_not_events(spark, sf_oracle):
    """r4 verdict item 5 (hourly_series_interpolated): the unpartitioned
    carry windows are legal only because their input is the
    sequence-exploded hour spine (time-range sized), never the events
    relation. Pin the shape: the single Window node's streamed child
    chain reaches Generate explode(sequence(...)) BEFORE any parquet
    scan, and the corpus-sized hourly rollup enters only through a
    BroadcastExchange on the join's build side."""
    df = QUERIES["hourly_series_interpolated"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win = [i for i, l in enumerate(lines) if l.strip().startswith(("+- Window", "Window", ":- Window"))]
    assert len(win) == 1, f"expected exactly one Window node, got {len(win)}"
    gen = [
        i for i, l in enumerate(lines)
        if "Generate explode(sequence(" in l
    ]
    assert gen, "spine Generate explode(sequence(...)) missing from plan"
    scans = [i for i, l in enumerate(lines) if "FileScan parquet" in l]
    assert win[0] < gen[0] < min(scans), (
        "window must sit above the spine explode, which must sit above "
        "every parquet scan"
    )
    # corpus rollup reaches the join only as a broadcast build side
    assert "BroadcastExchange" in plan
    # no shuffle between the window and the spine explode: the window's
    # direct input is the broadcast join of the exploded spine
    between = lines[win[0] + 1 : gen[0]]
    assert not any("Exchange hashpartitioning" in l for l in between), (
        "corpus-sized shuffle feeds the interpolation window directly"
    )


def test_trigram_backoff_count_joins_broadcast(spark, sf_oracle):
    """trigram_backoff_scores: all five count-table joins must broadcast
    the vocabulary-scaled build side — the held trigram stream shuffles
    exactly once, for the final per-doc aggregate."""
    df = QUERIES["trigram_backoff_scores"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_gdpr_cascade_probes_broadcast(spark, sf_oracle):
    """gdpr_erasure_cascade: every fact table is probed by a BROADCAST
    subject set (membership-flag left joins) — no fact shuffle anywhere."""
    df = QUERIES["gdpr_erasure_cascade"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_binary_sign_topk_uses_window_group_limit(spark, sf_oracle):
    """ann_binary_sign_recall_at_k: both per-query top-k rank filters
    compile to WindowGroupLimit, so each task prunes to k rows per query
    before the query_id shuffle — the pair relation never moves whole."""
    df = QUERIES["ann_binary_sign_recall_at_k"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2


def test_benford_digit_extraction_at_power_of_ten_boundaries(spark, tmp_path_factory):
    """The Benford digit comes from the integer-CENTS string, so prices
    sitting exactly at a power of ten (where float division by 10^k is
    one ULP from flipping 1000 -> 999.999...) still yield the right
    first digit, bit-for-bit on any engine."""
    sf_dir = tmp_path_factory.mktemp("benford")
    prices = [1000.00, 999.99, 100.00, 101.01, 99999.99, 857.71, 10.00]
    spark.createDataFrame(
        [(p,) for p in prices], "o_totalprice double"
    ).write.parquet(str(sf_dir / "orders.parquet"))
    out = QUERIES["benford_first_digit_audit"].fn(spark, str(sf_dir))
    rows = {r["digit"]: r for r in out.collect()}
    assert {d: r["n"] for d, r in rows.items()} == {"1": 4, "8": 1, "9": 2}
    assert abs(sum(r["obs_freq"] for r in rows.values()) - 1.0) < 1e-6
    # chi-square terms are non-negative and finite
    assert all(r["chisq_term"] >= 0.0 for r in rows.values())


def test_tokenizer_fertility_counts_utf8_bytes_not_chars(spark, tmp_path_factory):
    """Multi-byte text is exactly where bytes-per-token and n_chars
    diverge; the fertility query must count UTF-8 BYTES."""
    sf_dir = tmp_path_factory.mktemp("fert")
    docs = [
        (0, "héllo wörld", "de", "web", 11),  # 2 two-byte chars -> 13 bytes
        (1, "plain ascii text", "en", "web", 16),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf_dir / "documents.parquet"))
    out = QUERIES["tokenizer_fertility_by_lang"].fn(spark, str(sf_dir))
    rows = {r["lang"]: r for r in out.collect()}
    assert rows["de"]["utf8_bytes"] == 13  # not 11 chars
    assert rows["en"]["utf8_bytes"] == 16
    # "héllo wörld" -> BPE tokens over lowered text: h,éllo?? no: pattern is
    # [a-z]+|[0-9]+|[^a-z0-9\s] so é and ö are single non-alnum tokens:
    # h, é, llo, w, ö, rld = 6 tokens over 2 whitespace words -> fertility 3.0
    assert rows["de"]["bpe_tokens"] == 6
    assert rows["de"]["fertility"] == 3.0


def test_ann_mrr_rank_bounds(spark, sf_oracle):
    """nn_rank is 0 (miss) or within [1, TOP_K]; a hit at rank r yields
    reciprocal_rank == round(1/r, 6)."""
    from similarity_analysis_big_data_spark.plans.ann import TOP_K

    rows = QUERIES["ann_ivf_mrr_of_nn"].fn(spark, sf_oracle).collect()
    assert rows, "evaluation pool must be non-empty"
    for r in rows:
        assert 0 <= r["nn_rank"] <= TOP_K
        if r["nn_rank"] == 0:
            assert r["reciprocal_rank"] == 0.0
        else:
            assert abs(r["reciprocal_rank"] - round(1.0 / r["nn_rank"], 6)) < 1e-9


def test_intradoc_repeats_rewrite_keeps_first_occurrence(spark, tmp_path_factory):
    """A stuttered document keeps one copy of each sentence in original
    order; cross-document sharing is NOT a removal reason here (the
    complement of dedup_paragraphs_reassemble)."""
    sf_dir = tmp_path_factory.mktemp("intradoc")
    docs = [
        (0, "alpha beta. gamma! Alpha beta. delta? alpha beta.", "en", "web", 49),
        (1, "alpha beta. unique tail.", "en", "web", 24),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf_dir / "documents.parquet"))
    out = QUERIES["dedup_intradoc_repeats_rewrite"].fn(spark, str(sf_dir))
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0: 5 sentences, "alpha beta" repeats (case-folded) -> 3 kept
    assert rows[0]["n_sentences"] == 5 and rows[0]["n_kept"] == 3
    assert rows[0]["cleaned_text"] == "alpha beta. gamma. delta"
    # doc 1 shares "alpha beta" with doc 0 but has no INTERNAL repeat:
    # nothing is removed
    assert rows[1]["n_kept"] == 2
    assert rows[1]["cleaned_text"] == "alpha beta. unique tail"


def test_nprobe_curve_monotone_and_matches_components(spark, sf_oracle):
    """Recall is non-decreasing in nprobe (a lower-nprobe candidate set is
    a subset of a higher one on the same fixed-cell grid), and the
    nprobe=N_PROBE point equals the recall of the registered multiprobe
    query computed against brute force — the curve is the same machinery
    as ann_ivf_multiprobe_topk, not a reimplementation drifting on its
    own. (ann_ivf_recall_at_k is NOT comparable: ann_ivf_topk uses the
    sqrt-scaled grid, the multiprobe family the fixed N_CELLS grid.)"""
    from similarity_analysis_big_data_spark.plans.ann import N_PROBE, TOP_K

    rows = {
        r["nprobe"]: r
        for r in QUERIES["ann_nprobe_recall_curve"].fn(spark, sf_oracle).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    assert all(0.0 <= rows[p]["mean_recall_at_k"] <= 1.0 for p in rows)
    assert (
        rows[1]["mean_recall_at_k"]
        <= rows[2]["mean_recall_at_k"]
        <= rows[4]["mean_recall_at_k"]
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_bruteforce_topk"].fn(spark, sf_oracle).collect()
    }
    approx = QUERIES["ann_ivf_multiprobe_topk"].fn(spark, sf_oracle).collect()
    queries = {q for q, _ in exact}
    hits = {q: 0 for q in queries}
    for r in approx:
        if (r["query_id"], r["neighbor_id"]) in exact:
            hits[r["query_id"]] += 1
    mean_mp = round(sum(hits.values()) / (len(queries) * TOP_K), 6)
    assert abs(rows[N_PROBE]["mean_recall_at_k"] - mean_mp) < 1e-6


def test_cusum_flags_planted_mean_shift(spark, tmp_path_factory):
    """A level shift planted at day 10 of 20 must put the CUSUM extremum
    (the changepoint flag) exactly at the last pre-shift day, and the
    exact-integer statistic must be reconstructable from the data."""
    import datetime

    sf_dir = tmp_path_factory.mktemp("cusum")
    rows = []
    k = 0
    for day in range(20):
        level = 100.00 if day < 10 else 200.00
        for _ in range(3):  # several orders per day
            rows.append((k, datetime.date(2024, 1, 1 + day), level))
            k += 1
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).write.parquet(str(sf_dir / "orders.parquet"))
    out = QUERIES["cusum_changepoint_daily_revenue"].fn(spark, str(sf_dir))
    rows_out = {r["day"]: r for r in out.collect()}
    assert len(rows_out) == 20
    flagged = [d for d, r in rows_out.items() if r["is_changepoint"] == 1]
    assert flagged == ["2024-01-10"]  # last pre-shift day (t=10 of 20)
    # exact-integer reconstruction: S'_t = n*cumsum - t*total, in cents
    total = sum(r["rev_cents"] for r in rows_out.values())
    assert rows_out["2024-01-10"]["cusum_scaled"] == 20 * (10 * 30000) - 10 * total


def test_k_anonymity_counts_small_groups(spark, tmp_path_factory):
    """Crafted quasi-identifier groups of sizes 1, 2, and 6: k=1, two of
    three groups below k=5, 3 of 9 rows at risk."""
    sf_dir = tmp_path_factory.mktemp("kanon")
    rows = []
    cid = 0
    for nation, seg, bal, n in [
        (1, "AUTO", 1500.00, 1),
        (2, "AUTO", 1500.00, 2),
        (1, "HOUSE", 2500.00, 6),
    ]:
        for _ in range(n):
            rows.append((cid, f"c{cid}", nation, bal, seg))
            cid += 1
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(str(sf_dir / "customer.parquet"))
    r = QUERIES["k_anonymity_audit"].fn(spark, str(sf_dir)).collect()[0]
    assert r["k_anonymity"] == 1
    assert r["n_groups"] == 3
    assert r["n_groups_below_k"] == 2
    assert r["n_rows_at_risk"] == 3
    assert abs(r["at_risk_frac"] - round(3 / 9, 6)) < 1e-9


def test_token_counts_agree_with_duckdb_on_vertical_tab(spark, tmp_path_factory):
    """Java's \\s includes U+000B but RE2's does not; the shared token
    patterns spell the whitespace class out explicitly, so VT-containing
    text must produce IDENTICAL counts on both engines (the one input
    class where the old \\s-based patterns silently diverged)."""
    import duckdb

    sf_dir = tmp_path_factory.mktemp("vt")
    docs = [
        (0, "a\x0bb c", "en", "web", 5),  # VT between a and b
        (1, "plain text", "en", "web", 10),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf_dir / "documents.parquet"))
    got = {
        r["lang"]: r
        for r in QUERIES["tokenizer_fertility_by_lang"].fn(spark, str(sf_dir)).collect()
    }
    con = duckdb.connect()
    # Spark writes a directory of part files; glob them for DuckDB
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = con.execute(QUERIES["tokenizer_fertility_by_lang"].oracle).fetchdf()
    row = want[want["lang"] == "en"].iloc[0]
    assert got["en"]["ws_words"] == int(row["ws_words"])
    assert got["en"]["bpe_tokens"] == int(row["bpe_tokens"])
    # and the agreed-on reading: VT is NOT whitespace (RE2 semantics), so
    # "a\x0bb c" is 2 ws words and tokens a, <VT>, b, c
    assert got["en"]["ws_words"] == 2 + 2
    assert got["en"]["bpe_tokens"] == 4 + 2


def test_psi_drift_zero_for_identical_windows(spark, tmp_path_factory):
    """Identical before/after distributions must read PSI = 0 exactly:
    with n_ref = n_cur per bucket, the smoothed shares are equal and
    every (p-q)*ln(p/q) term is literally zero. A planted shift makes
    every term strictly positive (the PSI integrand is nonnegative)."""
    import datetime

    sf_dir = tmp_path_factory.mktemp("psi")
    rows = []
    k = 0
    # identical histograms on both sides of the split
    for price in (10_000.00, 40_000.00, 40_000.00, 90_000.00):
        rows.append((k, datetime.date(1997, 1, 1), price)); k += 1
        rows.append((k, datetime.date(1999, 1, 1), price)); k += 1
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).write.parquet(str(sf_dir / "orders.parquet"))
    out = QUERIES["psi_drift_order_totals"].fn(spark, str(sf_dir)).collect()
    assert all(r["psi_term"] == 0.0 for r in out)
    assert all(r["psi_total"] == 0.0 for r in out)

    sf2 = tmp_path_factory.mktemp("psi2")
    rows2 = [(0, datetime.date(1997, 1, 1), 10_000.00),
             (1, datetime.date(1997, 1, 1), 10_000.00),
             (2, datetime.date(1999, 1, 1), 90_000.00),
             (3, datetime.date(1999, 1, 1), 90_000.00)]
    spark.createDataFrame(
        rows2, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).write.parquet(str(sf2 / "orders.parquet"))
    out2 = QUERIES["psi_drift_order_totals"].fn(spark, str(sf2)).collect()
    assert all(r["psi_term"] > 0.0 for r in out2)
    assert out2[0]["psi_total"] > 0.2  # a full swap is far past the alert line


def test_l_diversity_flags_homogeneous_groups(spark, tmp_path_factory):
    """A large-but-homogeneous group is the case k-anonymity misses:
    6 customers share one QI group and ONE segment (l=1, all at risk);
    a second group of 3 carries three distinct segments (l=3, safe)."""
    sf_dir = tmp_path_factory.mktemp("ldiv")
    rows = [(i, f"c{i}", 1, 1500.00, "AUTO") for i in range(6)]
    rows += [(10 + j, f"c{10+j}", 2, 1500.00, seg)
             for j, seg in enumerate(["AUTO", "HOUSE", "STEEL"])]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(str(sf_dir / "customer.parquet"))
    r = QUERIES["l_diversity_audit"].fn(spark, str(sf_dir)).collect()[0]
    assert r["l_diversity"] == 1
    assert r["n_groups"] == 2
    assert r["n_groups_below_l"] == 1
    assert r["n_rows_at_risk"] == 6
    assert abs(r["at_risk_frac"] - round(6 / 9, 6)) < 1e-9


def test_vocab_coverage_on_known_zipf_corpus(spark, tmp_path_factory):
    """Hand-checkable distribution: counts 6/2/1/1 over 4 terms (10
    tokens). 50% needs just 'a' (rank 1, cum 6); 75% needs rank 2
    (cum 8); 90% rank 3 (cum 9); 99% rank 4 (cum 10)."""
    sf_dir = tmp_path_factory.mktemp("vocab")
    text = "a a a a a a b b c d"
    spark.createDataFrame(
        [(0, text, "en", "web", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sf_dir / "documents.parquet"))
    out = {
        r["coverage_target"]: r
        for r in QUERIES["vocab_coverage_curve"].fn(spark, str(sf_dir)).collect()
    }
    assert out[0.5]["vocab_rank"] == 1 and out[0.5]["achieved_share"] == 0.6
    assert out[0.75]["vocab_rank"] == 2 and out[0.75]["achieved_share"] == 0.8
    assert out[0.9]["vocab_rank"] == 3
    assert out[0.99]["vocab_rank"] == 4 and out[0.99]["achieved_share"] == 1.0
    assert out[0.99]["vocab_frac"] == 1.0



def test_fuzzy_thresholded_levenshtein_equals_unbounded(spark, sf_oracle):
    """The r12 thresholded-levenshtein rewrite must keep EXACTLY the rows
    and edit_dist values of the unbounded DP + filter form (threshold form
    returns -1 past the bound; distance <= bound iff result in [0, bound]).
    Recomputes the pre-r12 formulation inline and compares row sets."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.plans.dedup import (
        FUZZY_BLOCK_CAP,
        FUZZY_BUCKET,
        FUZZY_MAX_EDIT,
    )
    from similarity_analysis_big_data_spark.sources.readers import load_table

    got = sorted(
        map(tuple, QUERIES["fuzzy_levenshtein_pairs"].fn(spark, sf_oracle).collect())
    )

    d0 = load_table(spark, sf_oracle, "documents").select(
        "doc_id", "text", "lang", (F.col("n_chars") / FUZZY_BUCKET).cast("long").alias("bkt")
    )
    w = W.partitionBy("lang", "bkt").orderBy(
        F.md5(F.concat(F.lit("fz:"), F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    d = d0.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= FUZZY_BLOCK_CAP).drop("rn")
    lhs = d.select(F.col("doc_id").alias("id_l"), F.col("text").alias("text_l"), "lang", "bkt")
    rhs = d.select(F.col("doc_id").alias("id_r"), F.col("text").alias("text_r"), "lang", "bkt")
    ref = sorted(
        map(
            tuple,
            lhs.join(rhs, ["lang", "bkt"])
            .filter(F.col("id_l") < F.col("id_r"))
            .withColumn("edit_dist", F.levenshtein("text_l", "text_r").cast("long"))
            .filter(F.col("edit_dist") <= FUZZY_MAX_EDIT)
            .select("id_l", "id_r", "edit_dist")
            .collect(),
        )
    )
    assert got == ref and len(got) > 0
