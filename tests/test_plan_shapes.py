"""Plan-shape regression tests (SURVEY.md §4 discipline): broadcasts
stay broadcasts, filters reach the scan, the pipeline keeps exactly one
wide exchange, and no Python UDF appears outside the scoring pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wtq.pipeline import decide
from plan_audit import assert_in_plan, count_occurrences, plan_string
from wtq.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_broadcast_dims_in_region_revenue(spark):
    df = QUERIES["region_revenue"](spark, SF_DIR)
    assert count_occurrences(df, "BroadcastHashJoin") >= 2  # nation, region


@pytest.mark.parametrize("name", ["region_revenue", "cust_supp_nation_matrix"])
def test_fact_join_hint_plans_shuffled_hash(spark, name):
    """lineitem⋈orders carries a SHUFFLE_HASH hint in both queries; the
    session leaves every other join to the planner's default."""
    assert_in_plan(QUERIES[name](spark, SF_DIR), "ShuffledHashJoin")


def test_filter_pushdown_pricing_summary(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    plan = plan_string(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: html-less lineitem scan reads only needed columns
    assert "l_comment" not in plan


def test_left_anti_is_planned(spark):
    df = QUERIES["customers_without_orders"](spark, SF_DIR)
    assert "LeftAnti" in plan_string(df)


def test_pipeline_single_wide_exchange(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    df = decide(pages, num_partitions=8)
    plan = plan_string(df, mode="simple")
    # one exchange for the salted repartition; the dedup window reuses it
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "WindowGroupLimit" in plan  # top-1 dedup optimized
    assert plan.count("ArrowEvalPython") == 1  # exactly one Python pass
    assert "html" not in plan  # pruned before it ever reaches the scan


def test_window_top1_uses_group_limit(spark):
    df = QUERIES["latest_event_per_user"](spark, SF_DIR)
    assert "WindowGroupLimit" in plan_string(df)


def test_ann_broadcasts_query_side(spark):
    df = QUERIES["ann_bruteforce"](spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in plan_string(df) or "BroadcastHashJoin" in plan_string(df)


def test_whole_stage_codegen_in_agg(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only on execution
    # '*(n)' prefixes mark WholeStageCodegen spans in the executed plan
    assert "*(" in df._jdf.queryExecution().executedPlan().toString()


def test_spatial_join_is_equi_join_not_cartesian(spark):
    """The grid-cell spatial join must plan as a hash/sort-merge join
    on the cell key — never a cartesian or nested-loop product (the
    100 TB failure mode of a naive st_dwithin)."""
    df = QUERIES["spatial_radius_join"](spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_simhash_is_single_arrow_pass(spark):
    """SimHash signatures are one Arrow-batched map — no aggregation,
    no exchange beyond the deliberate input rebalance."""
    df = QUERIES["simhash"](spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    assert plan.count("ArrowEvalPython") == 1
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_pair_queries_single_arrow_pass(spark):
    """Signature UDFs must be evaluated exactly once in pair-generation
    plans. Two past regressions guarded here: a bucket SELF-JOIN
    duplicates the upstream subtree, and a filter on the UDF column
    pushes below the repartition and re-runs the whole Arrow pass
    serially over the unsplit scan."""
    for name in ("simhash_near_pairs", "dedup_minhash_lsh"):
        plan = plan_string(QUERIES[name](spark, SF_DIR), mode="simple")
        assert plan.count("ArrowEvalPython") == 1, f"{name} runs the UDF more than once"


def test_deciles_no_global_single_task_sort(spark):
    """Round-2 `weak`: order_value_deciles was an unpartitioned ntile
    window (single-task global sort).  The distributed rewrite must
    range-partition the data sort; the only SinglePartition exchange
    allowed is the one feeding the prefix-sum window over the tiny
    per-partition-counts aggregate (≤ defaultParallelism rows), never
    the orders data itself."""
    from wtq.queries import _deciles_base

    # the data-path plan (pre-checkpoint): range-partitioned sort,
    # never a single global sort
    base_plan = plan_string(_deciles_base(spark, SF_DIR), mode="simple")
    assert "rangepartitioning(o_totalprice" in base_plan, base_plan[:3000]
    assert "Exchange SinglePartition" not in base_plan

    df = QUERIES["order_value_deciles"](spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    # no full-data global window: ntile/percent_rank gone from the plan
    assert "ntile" not in plan and "percent_rank" not in plan
    # every SinglePartition exchange sits directly above an aggregate
    # (the tiny per-partition-counts / total subtrees), never above the
    # orders data path
    lines = plan.splitlines()
    single_idx = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert single_idx, "expected the tiny prefix-sum/total aggregates"
    for i in single_idx:
        assert "HashAggregate" in lines[i + 1], lines[i : i + 2]
    # the sorted/id-stamped base materializes ONCE (localCheckpoint —
    # not persist: a registry query can't own unpersist and CacheManager
    # entries leak across a long session) and is reused by all three
    # consumers as checkpointed-RDD scans
    assert plan.count("Scan ExistingRDD") >= 3
    # still correct: 10 deciles
    assert df.count() == 10


def test_ivf_kmeans_broadcasts_centroids(spark):
    """Every k-means round joins the embedding side against the 8-row
    centroid set via broadcast, and the final corpus+query assignments
    broadcast too.  The k-means result is localCheckpoint'ed (it feeds
    TWO broadcast joins; un-checkpointed, Lloyd's iteration would
    re-execute per broadcast), so its rounds are asserted on the
    pre-checkpoint subplan and the assignments on the final plan."""
    from wtq.operators.similarity import kmeans_centroids
    from wtq.queries import _t

    emb = _t(spark, SF_DIR, "embeddings")
    kplan = plan_string(kmeans_centroids(emb), mode="simple")
    assert kplan.count("BroadcastHashJoin") + kplan.count("BroadcastNestedLoopJoin") >= 2, kplan[:2000]
    assert "SortMergeJoin" not in kplan

    df = QUERIES["ann_ivf_topk"](spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    # corpus assignment + query assignment against the checkpointed
    # centroid set
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan[:2000]
    # assignment never sort-merge-joins the embedding side on a
    # non-broadcast centroid set
    assert "SortMergeJoin" not in plan.split("Window")[0]
    # assignment is a NARROW array argmax (round-3 verdict #3): the
    # ONLY Window operator in the whole query is the final per-query
    # top-k (plus its WindowGroupLimit pushdown) — no per-doc
    # Window-ranking of corpus×k exploded rows anywhere
    assert plan.count("Window [") == 1, plan[:2000]
    # k-means itself: one tiny Window ranking the k seed rows, nothing else
    assert kplan.count("Window [") <= 1, kplan[:2000]


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark gram set is tiny by construction — it must enter
    the plan as a broadcast (never a shuffled sort-merge join), and the
    gram explosion must never become a cartesian product."""
    from wtq.queries import QUERIES

    df = QUERIES["decontaminate"](spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_window_is_host_partitioned(spark):
    """The running-sum window must be partitioned by host — a global
    (SinglePartition) window would serialize the whole corpus through
    one task at scale."""
    from wtq.queries import QUERIES

    df = QUERIES["token_budget_sample"](spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "hashpartitioning(host" in plan, plan[:3000]


def test_flagged_pipeline_keeps_single_arrow_pass(spark, pages_path):
    """The curation flags must not multiply the Python stage: with
    strip_boilerplate AND host_gate on, the scoring pass is still
    exactly one ArrowEvalPython (the boilerplate pass and the gate are
    pure JVM expressions/aggregations)."""
    from wtq.pipeline import run_pipeline

    res = run_pipeline(
        spark, pages_path, num_partitions=8, strip_boilerplate=True, host_gate=True
    )
    plan = plan_string(res.decided, mode="simple")
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
    # the host drop-list joins back as a broadcast, never a shuffle
    assert "BroadcastHashJoin" in plan
