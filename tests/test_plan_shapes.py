"""Plan-shape regression tests: the physical-plan properties the 100 TB
posture depends on (SCALE.md), frozen as assertions so a future edit
can't silently trade them away.

These don't time anything — they check WHAT Catalyst chose: pushdown
reaching the scan, dimensions broadcast, top-k via TakeOrdered, single
shuffles where one suffices, codegen in the hot path.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    return REGISTRY


def test_q_p1_pushes_filters_and_prunes_columns(spark, registry):
    df = registry["q_p1_filter_project"].spark(spark, SF_DIR)
    plan = _executed_plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    # Column pruning: the scan must not read all 11 lineitem columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema

def test_q_j1_broadcasts_dimensions(spark, registry):
    plan = _executed_plan(registry["q_j1_multijoin_revenue"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q_s1_uses_take_ordered(spark, registry):
    plan = _executed_plan(registry["q_s1_topk"].spark(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # No global Sort node — top-k must not totally sort the input.
    assert "\n+- Sort " not in plan


def test_q_t3_single_shuffle(spark, registry):
    plan = _executed_plan(registry["q_t3_sessionization"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_as1_shuffles_and_no_nested_loop(spark, registry):
    plan = _executed_plan(registry["q_as1_asof_attribution"].spark(spark, SF_DIR))
    # Exactly 2: one for the purchase-dedup groupBy upstream, one for the
    # as-of window itself. Never a nested loop.
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_operator_alone_is_single_shuffle(spark):
    import datetime as dt

    from receiptanalyzerpipeline_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, "k", base) for i in range(10)], "lid long, k string, lts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [("k", base, 1)], "k string, rts timestamp_ntz, payload long"
    )
    plan = _executed_plan(
        asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_a3_whole_stage_codegen(spark, registry):
    import contextlib
    import io

    df = registry["q_a3_tpch_q1"].spark(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")  # AQE toString hides WSCG; codegen mode shows it
    assert "WholeStageCodegen" in buf.getvalue()


def test_q_a6_cube_is_one_expand_one_shuffle(spark, registry):
    plan = _executed_plan(registry["q_a6_cube"].spark(spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.slow
def test_no_query_uses_python_row_udf(spark, registry):
    """Hot-path discipline: BatchEvalPython (row-at-a-time Python UDF)
    must appear in NO registered query; Python boundaries are Arrow
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) only."""
    offenders = []
    for name, q in sorted(registry.items()):
        plan = _optimized(q.spark(spark, SF_DIR))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_q_j2_aggregates_before_join(spark, registry):
    """Reconciliation collapses lineitem per-order BEFORE the join, so the
    join shuffle moves |orders| rows, not |lineitem| (SCALE.md). In the
    optimized tree the Aggregate must sit BELOW the Join (printed after)."""
    plan = _optimized(registry["q_j2_reconciliation"].spark(spark, SF_DIR))
    assert "Join" in plan and "Aggregate" in plan
    assert plan.index("Join") < plan.index("Aggregate"), (
        "Aggregate must be a child of the Join (aggregate-before-join)"
    )


def test_q_d3_minhash_banded_join_no_cartesian(spark, registry):
    """MinHash-LSH candidates come from a band-bucket EQUI-join; the plan
    must never fall back to a cartesian/nested-loop doc x doc pairing."""
    plan = _executed_plan(registry["q_d3_minhash_lsh"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_d5_blocked_allpairs_is_equi_join(spark, registry):
    """Exact cosine near-dup distributes its O(n^2) work via block-pair
    equi-join keys - never a BroadcastNestedLoop of the whole corpus
    (round-1 verdict scale-killer, fixed in round 2). Round 10: the
    quadratic kernel itself must be the Arrow-batched BLAS prefilter
    (FlatMapGroupsInPandas), not an expression-evaluated pair join —
    the sf10 anchor timed the expression form out at 200k vectors."""
    plan = _executed_plan(registry["q_d5_cosine_neardup"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_q_x5_ann_is_bucket_equi_join(spark, registry):
    """The ANN flagship prunes via (table, bucket) equi-join; corpus is
    never nested-looped against probes."""
    plan = _executed_plan(registry["q_x5_ann_lsh"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

def test_q_x11_decontamination_semi_join_no_nested_loop(spark, registry):
    plan = _executed_plan(registry["q_x11_decontamination"].spark(spark, SF_DIR))
    # Shingle overlap must be a (broadcast or shuffled) hash SEMI join —
    # cost bounded by shingle co-occurrence, never train×eval rows.
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q_n3_broadcasts_df_side(spark, registry):
    plan = _executed_plan(registry["q_n3_distinctive_terms"].spark(spark, SF_DIR))
    # The per-token document-frequency side and the 1-row source count
    # are broadcast; the big tf side never shuffles for the join.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q_x13_packing_single_shuffle(spark, registry):
    df = registry["q_x13_sequence_packing"].spark(spark, SF_DIR)
    plan = _executed_plan(df)
    # One hash shuffle (shard_id window); the final ORDER BY is a range
    # exchange, not another hash shuffle.
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_x9_repetition_is_zero_shuffle(spark, registry):
    # Top-bigram count is a map-side sorted-run fold: the whole corpus
    # token stream must NOT be shuffled (only the final ORDER BY range
    # exchange remains).
    plan = _executed_plan(registry["q_x9_repetition_filter"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 0
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q_d8_semantic_dedup_bucket_equi_join(spark, registry):
    plan = _executed_plan(registry["q_d8_semantic_dedup"].spark(spark, SF_DIR))
    # Candidate pairs come from the bucket EQUI-join; the corpus square
    # must never materialize.
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_selective_fact_join_gets_runtime_bloom_filter(spark):
    """session.py pins runtime.bloomFilter.enabled=true: a selective side of
    a shuffle join must inject might_contain(join_key) into the big side's
    scan. Default size thresholds only fire at cluster scale, so lower them
    here to prove the injection path is live."""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _executed_plan(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q_d9_incremental_dedup_no_nested_loop(spark, registry):
    plan = _executed_plan(registry["q_d9_incremental_dedup"].spark(spark, SF_DIR))
    # Asymmetric batch×corpus probes must be hash joins on fp / shingle —
    # never a nested loop over the corpus.
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # Exact-dup probe stays a semi join (no corpus row multiplication).
    assert "LeftSemi" in plan


def test_q_x14_quantile_filter_single_shuffle(spark, registry):
    # rank + count share one window partition (lang) → exactly one hash
    # shuffle; the final ORDER BY is a range exchange, not another hash.
    plan = _executed_plan(registry["q_x14_quantile_filter"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_a10_regression_single_shuffle(spark, registry):
    # Five decimal moments reduce in ONE partial+final aggregate — adding
    # moments must never add shuffles.
    plan = _executed_plan(registry["q_a10_regression_profile"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_q_x16_quality_zero_shuffle(spark, registry):
    # Rule-based quality is a pure projection: the ONLY exchange allowed
    # is the final ORDER BY's range exchange.
    plan = _executed_plan(registry["q_x16_heuristic_quality"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan


def test_q_x17_substring_dedup_two_hash_shuffles(spark, registry):
    # Window-over-whash marks cross-doc windows without a join-back, then
    # one groupBy(doc_id): exactly two hash exchanges, no join at all.
    plan = _executed_plan(registry["q_x17_substring_dedup"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    # md5 happens before the explode: the shuffled column is the hash.
    assert "CartesianProduct" not in plan


def test_q_x18_dsir_broadcasts_distributions(spark, registry):
    # The 128-row bucket distribution tables must broadcast back to the
    # per-(doc,bucket) counts — never a shuffled join against the corpus.
    plan = _executed_plan(registry["q_x18_dsir_importance"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # The only nested loop allowed is the broadcast cross with the 1-row
    # totals aggregate (a scalar), never against per-document data.
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) <= 1


def test_q_t6_funnel_reuses_user_partitioning(spark, registry):
    # Every stage keys on user_id: Catalyst should plan shuffled joins and
    # aggs on one key, with no nested loop anywhere.
    plan = _executed_plan(registry["q_t6_funnel"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q_w4_scd2_single_shuffle(spark, registry):
    # lead() over (user_id) is one hash exchange + in-partition sort; the
    # trailing ORDER BY adds only a range exchange.
    plan = _executed_plan(registry["q_w4_scd2_intervals"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_x20_centroids_broadcast_back(spark, registry):
    # The (label, dim) centroid table is tiny (n_labels × dims rows) and
    # must broadcast to the corpus — never a shuffled join against it.
    plan = _executed_plan(registry["q_x20_embedding_outliers"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_x21_hard_negatives_bucket_equi_join(spark, registry):
    # Candidates come from the (table, bucket) signature equi-join — the
    # different-label filter must not degrade it to a nested loop.
    plan = _executed_plan(registry["q_x21_hard_negatives"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_x19_quota_single_shuffle(spark, registry):
    # One window over lang; the trailing ORDER BY adds only a range
    # exchange.
    plan = _executed_plan(registry["q_x19_quota_capping"].spark(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q_x22_kmeans_broadcasts_centroids(spark, registry):
    # Assignment is a k-row broadcast cross per iteration; centroid update
    # is (cid, dim)-keyed. The corpus must never be on the build side of
    # a nested loop or in a CartesianProduct.
    plan = _executed_plan(registry["q_x22_kmeans_portable"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # Broadcast cross with the k centroids is the intended shape.
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan or "BroadcastHashJoin" in plan


def test_q_x23_span_removal_no_join_back(spark, registry):
    # Flagged windows come from the window-over-whash index; the only
    # join allowed is the per-doc flagged-array left join (doc_id-keyed),
    # never a nested loop.
    plan = _executed_plan(registry["q_x23_span_removal"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_x24_pipeline_single_job_no_nested_loop(spark, registry):
    # Five chained stages must stay filters/windows/joins on doc-keyed or
    # shingle-keyed data — no nested loop anywhere in the fused plan.
    plan = _executed_plan(registry["q_x24_curation_pipeline"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_er2_prefix_filter_no_nested_loop(spark, registry):
    # Candidates must come from the rare-gram inverted-index equi-join —
    # the edit-distance theta predicate must never become a nested loop
    # over all name pairs.
    plan = _executed_plan(registry["q_er2_qgram_edit_join"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_x27_ivf_cell_equi_join(spark, registry):
    # Candidates come from the cell equi-join (probe cells x assignment);
    # centroids broadcast; the corpus never enters a nested loop.
    plan = _executed_plan(registry["q_x27_ivf_portable"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_q_er3_linkage_blocked_equi_joins_only(spark, registry):
    # Candidate pairs must come from the two blocking-pass equi-joins;
    # the u-probability one-row aggs are broadcast; the scoring predicate
    # never becomes a nested loop over all customer pairs (the one-row
    # u-agg cross joins are BNLJ by construction — assert no nested loop
    # carries the CUSTOMER side on both inputs instead of banning BNLJ).
    plan = _executed_plan(registry["q_er3_linkage_scoring"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan  # pass joins are hash/SMJ
    # every nested-loop join in the plan is a broadcast of a 1-row agg
    import re

    for frag in re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "Cross" in frag  # only the u-probability broadcasts


def test_q_x28_bm25_prunes_tokens_before_shuffle(spark, registry):
    # The query-term semi-join must be a broadcast hash join sitting
    # below the tf aggregation's shuffle, so only matching tokens are
    # ever shuffled; df/stats re-joins are broadcasts too.
    plan = _executed_plan(registry["q_x28_bm25_retrieval"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # everything joinable is broadcast-size


def test_session_arrow_batch_sizing(spark):
    # r11 A/B REVERSAL of the r10 256k bump (12 order-rotated rounds on
    # q_er2's prepared 5.5M-row collect): best-of-reps 0.64 s @10k vs
    # 0.77 @64k vs 0.87 @256k — small batches pipeline the
    # executor->driver transfer; big ones make it bursty, and the
    # driver's r10 bench regression agreed. Frozen at the Spark default
    # so a future "fewer batches = faster" edit must re-run an A/B first
    # (see session.py for the full history).
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"
