"""Later-round-9 physical-plan pins: the kNN join family's shuffle
discipline. The exact join must move only signature/edge-sized data
through its Exchanges and must contain NO join operator anywhere (the
block-nested-loop replaces the join); the IVF variant adds only the
one cell-group Exchange."""

from duckdb_pipeline_spark.queries import collect_all
from tests.test_plans import _shuffle_exchanges, plan_text


def _plan(spark, sf_dir, name):
    return plan_text(collect_all()[name].fn(spark, sf_dir), "simple")


def test_knn_join_topk_plan_two_exchanges_no_join(spark, sf_dir):
    """Exact kNN join: exactly TWO shuffle Exchanges — the (ablk,bblk)
    group for the block kernel and the per-id window merge — and no
    join operator (SortMergeJoin/BroadcastHashJoin/ShuffledHashJoin/
    CartesianProduct) anywhere: the pair space exists only inside the
    numpy kernel, never as a plan edge."""
    plan = _plan(spark, sf_dir, "knn_join_topk")
    assert _shuffle_exchanges(plan) == 2, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} leaked into the kNN plan:\n{plan}"


def test_knn_join_ivf_plan_single_group_exchange_no_join(spark, sf_dir):
    """IVF kNN join: assignments come from the at-rest IVF index
    (optimization r15), so the plan is index scan -> one cell-group
    Exchange -> the per-cell kernel: ONE Python boundary (no
    assignment MapInPandas), one Exchange, no joins; ranks are final
    in-kernel so there is no merge window."""
    plan = _plan(spark, sf_dir, "knn_join_topk_ivf")
    assert _shuffle_exchanges(plan) == 1, plan
    assert "MapInPandas" not in plan, plan  # assignment pass is gone
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} leaked into the IVF kNN plan:\n{plan}"


def test_knn_incremental_probe_scan_is_partition_pruned(spark, sf_dir):
    """The incremental probe must read only the probed index
    partitions (PartitionFilters on cell) and contain no join
    operator — the batch meets its candidates in the per-cell group
    kernel."""
    plan = _plan(spark, sf_dir, "knn_incremental_probe")
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} leaked into the probe plan:\n{plan}"
