"""Physical-plan regression guards for the headline queries.

A refactor that silently loses predicate pushdown, widens a scan, or
demotes a broadcast join to sort-merge passes every correctness test but
is wrong at 100 TB — these assertions catch that class of regression.
"""

from __future__ import annotations

import re

import pytest

from youtube_scraper_db_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"
SPECS = {s.name: s for s in REGISTRY}


def plan_of(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def test_scans_are_column_pruned(spark):
    """No headline scan may read more columns than its query projects."""
    budgets = {  # max columns any scan of the query may read
        "pricing_summary": 6,
        "customer_order_counts": 2,
        "per_customer_stats": 2,
        "line_positions": 2,
        "ordered_part_lists": 4,
        "top_suppliers": 1,
    }
    for name, budget in budgets.items():
        for rs in read_schemas(plan_of(spark, name)):
            ncols = len([c for c in rs.split(",") if ":" in c])
            assert ncols <= budget, f"{name} scan reads {ncols} cols: {rs}"


def test_filters_reach_parquet(spark):
    """Selective predicates must appear as PushedFilters on the scan.

    (stale_events is exempt: its predicate applies to a timestamp rebuilt
    from the testdata's TIMESTAMP(NANOS) encoding via nanosAsLong, which
    is a computed column — nothing to push.)"""
    for name in ("point_lookup_order", "checkpoint_skip_orders", "valid_available_parts"):
        plan = plan_of(spark, name)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(p.strip() for p in pushed), f"{name}: no pushed filters\n{plan[:500]}"


def test_dimension_joins_broadcast(spark):
    """Dim-table joins must be broadcast, not sort-merge, at this scale."""
    for name in ("customer_order_counts", "per_customer_stats", "part_customer_attribution"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"


def test_single_shuffle_diff_sync(spark):
    """diff_sync_parts must keep the union+aggregate single-shuffle shape."""
    plan = plan_of(spark, "diff_sync_parts")
    assert plan.count("Exchange") <= 2, "diff-sync regressed to the multi-shuffle form"
    assert "Join" not in plan


def test_ordered_limit_is_topk(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (no global sort)."""
    plan = plan_of(spark, "top_suppliers")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", ["doc_token_stats", "doc_lang_id", "segment_join_render"])
def test_text_queries_stay_jvm_side(spark, name):
    """Text-analysis scans must contain no Python eval operators."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_field_update_has_no_forced_broadcast(spark):
    """field_update must not hint a broadcast of the update batch: a large
    backfill batch (most keys of a 100 TB table) would OOM every executor.
    AQE decides from runtime sizes instead — so the ANALYZED logical plan
    must carry no broadcast hint."""
    from youtube_scraper_db_spark.io import read_table
    from youtube_scraper_db_spark.operators.merge import field_update

    old = read_table(spark, SF, "orders")
    updates = old.select("o_orderkey", "o_orderpriority")
    plan = (
        field_update(old, updates, ["o_orderkey"], ["o_orderpriority"])
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in plan, "field_update still forces a broadcast hint"


def test_ivf_plan_size_constant_in_centroids(spark):
    """IVF cluster assignment must ship centroids as one broadcast row, not
    as per-centroid plan literals — the plan string must not grow with
    n_centroids (at thousands of centroids a literal plan explodes)."""
    from youtube_scraper_db_spark.io import read_table
    from youtube_scraper_db_spark.llm import similarity as S
    from pyspark.sql import functions as F

    emb = read_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        S.as_double("embedding").alias("qv")
    )

    def plan_len(n: int) -> int:
        df = S.ivf_ann_topk(emb, q, n_centroids=n, nprobe=2, k=5)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return len(df._jdf.queryExecution().explainString(mode))

    p8, p64 = plan_len(8), plan_len(64)
    assert p64 < 1.5 * p8, f"IVF plan grows with n_centroids: {p8} -> {p64}"


def test_sweep_line_has_no_single_partition_exchange(spark):
    """The in-transit sweep's running total must come from the two-phase
    distributed cumsum — a global ordered window (Exchange
    SinglePartition) funnels 100 TB into one reducer."""
    plan = (
        SPECS["shipments_in_transit_daily"].fn(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan


def test_star_join_broadcasts_all_dims(spark):
    """regional_revenue: the fact table must stream through four
    BroadcastHashJoins; the only allowed sort-merge candidates are none."""
    plan = plan_of(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:800]
    assert "SortMergeJoin" not in plan


def test_rollup_is_single_pass(spark):
    """ROLLUP must expand inside one aggregate (an Expand node), not as a
    union of per-level scans."""
    plan = plan_of(spark, "status_priority_rollup")
    assert "Expand" in plan
    assert len(read_schemas(plan)) == 1  # exactly one scan feeds the rollup


@pytest.mark.parametrize(
    "name", ["event_user_moving_avg", "top_orders_per_customer", "near_dup_clusters"]
)
def test_keyed_windows_have_no_global_sort(spark, name):
    """Keyed window queries must never plan a single-partition exchange."""
    plan = plan_of(spark, name)
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize(
    "name",
    ["doc_split_assign", "doc_stratified_sample", "corpus_mix_epochs", "doc_chunks",
     "doc_pii_scrub"],
)
def test_sampling_and_chunking_are_shuffle_free(spark, name):
    """Hash-deterministic sampling/splitting/mixing and chunking are pure
    projections — any Exchange in the plan is a regression."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:600]}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_is_skew_robust(spark):
    """event_funnel's skew-robust formulation (first-position aggregate
    chain): NO keyed window — a per-user sort funnels a hot user's whole
    history through one reducer, the exact hazard the rewrite removed —
    and every join must be an equi join (BHJ/SMJ/SHJ) that AQE's
    skew-join can split, never NestedLoop/Cartesian."""
    plan = plan_of(spark, "event_funnel")
    assert "Window" not in plan, plan[:800]
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:800]


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS must expand inside one aggregate over one scan."""
    plan = plan_of(spark, "status_priority_sets")
    assert "Expand" in plan
    assert len(read_schemas(plan)) == 1


def test_band_join_is_equi_join(spark):
    """event_neighbor_counts must run the binned rewrite: a hash/sort
    EQUI join on (user_id, bucket) — never a NestedLoop/Cartesian over
    the inequality predicate."""
    plan = plan_of(spark, "event_neighbor_counts")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_repetition_stats_shuffle_free(spark):
    """doc_repetition_stats must be a pure map over the scan — the
    sorted-array fold exists precisely to avoid the explode + double
    groupBy (two corpus-sized exchanges) its oracle uses."""
    plan = plan_of(spark, "doc_repetition_stats")
    assert "Exchange" not in plan, plan[:600]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_int8_topk_is_takeordered(spark):
    """int8_ann_topk: quantized scoring is a projection over the scan;
    the top-10 must be TakeOrderedAndProject with no shuffle exchange
    (only the 1-row broadcast of the quantized query vector)."""
    plan = plan_of(spark, "int8_ann_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_weighted_sample_is_topk_no_shuffle(spark):
    """weighted_doc_sample: scoring is a projection; the top-50 must be
    TakeOrderedAndProject with zero Exchange (no global sort)."""
    plan = plan_of(spark, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_share_window_runs_over_aggregate(spark):
    """nation_share_of_region: the window must sit above the aggregate
    (25 rows), with the fact scan feeding broadcast joins only."""
    plan = plan_of(spark, "nation_share_of_region")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_scd2_history_single_keyed_exchange(spark):
    """user_status_history claims both windows share one (user_id)
    shuffle + sort; a refactor that re-partitions between the change
    filter and the interval window would double the exchange count."""
    plan = plan_of(spark, "user_status_history")
    # formatted explain lists each operator twice (tree + detail)
    assert plan.count("Exchange") <= 2, plan[:800]
    assert "Exchange SinglePartition" not in plan


def test_rarity_tfidf_have_no_hot_key_shuffle_join(spark):
    """The heavy-hitter split: the frequent-word side must appear as a
    BroadcastHashJoin; a plain sort-merge join of the full tf posting
    list against the vocabulary would put 'the' on one reducer."""
    for name in ("doc_unigram_rarity", "doc_tfidf_terms"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost the broadcast split"


def test_vocab_coverage_cuts_are_topk_not_global_sort(spark):
    plan = plan_of(spark, "vocab_coverage_curve")
    assert "TakeOrderedAndProject" in plan


def test_q5_broadcasts_all_dims_no_smj(spark):
    """TPC-H Q5: every dimension join must broadcast — a sort-merge
    join anywhere means the fact table is being shuffled for a dim."""
    plan = plan_of(spark, "classic_q5_local_volume")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q8_single_aggregate_conditional_ratio(spark):
    """TPC-H Q8: numerator and denominator must ride ONE aggregate —
    a second scan or a self-join to compute the share means the 7-way
    join ran twice. The region/nation dims must broadcast."""
    plan = plan_of(spark, "classic_q8_market_share")
    # 7 scans = one per relation ROLE (nation appears twice: customer's
    # and supplier's side); formatted-mode explain mentions each scan
    # twice (tree + details), hence 14. A conditional-ratio via
    # self-join would double the fact scan and push past this.
    assert plan.count("Scan parquet") <= 14
    assert "BroadcastHashJoin" in plan


def test_q17_threshold_join_is_decorrelated(spark):
    """TPC-H Q17: the correlated avg-quantity subquery must decorrelate
    to one grouped aggregate joined back — no nested-loop per-row
    subquery execution (BNLJ) and no duplicate lineitem aggregation."""
    plan = plan_of(spark, "classic_q17_small_qty")
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_anti_side_reuses_late_set(spark):
    """TPC-H Q21: EXISTS/NOT-EXISTS decorrelate to semi + anti joins —
    no nested-loop correlation anywhere in the plan."""
    plan = plan_of(spark, "classic_q21_waiting_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["histogram_quantile_sketch", "stream_histogram_quantiles"]
)
def test_quantile_picks_share_one_running_count(spark, name):
    """Every quantile's pick reads ONE running-count Window over the
    bins: a Window (and its single-partition Exchange) per quantile
    means the pick subtree was copied per q."""
    plan = plan_of(spark, name)
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1, plan
