"""Physical-plan pins for the round-9 later-session additions: the
PQ family's map-only serving discipline and the analytics batch's
shuffle/broadcast shapes."""

from duckdb_pipeline_spark.queries import collect_all
from tests.test_plans import _shuffle_exchanges, plan_text

_JOIN_OPS = (
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
)


def _plan(spark, sf_dir, name):
    return plan_text(collect_all()[name].fn(spark, sf_dir), "simple")


def test_pq_adc_topk_plan_map_only(spark, sf_dir):
    """Trained-PQ serving: the scored scan is map-only — ZERO shuffle
    Exchanges (TakeOrdered finishes the top-k) and no join operator;
    training traffic happens in separate bounded jobs at plan build,
    not in the serving plan."""
    plan = _plan(spark, sf_dir, "similarity_pq_adc_topk")
    assert _shuffle_exchanges(plan) == 0, plan
    for op in _JOIN_OPS + ("BroadcastHashJoin",):
        assert op not in plan, f"{op} leaked into the PQ serving plan:\n{plan}"
    assert "TakeOrderedAndProject" in plan


def test_ivf_pq_topk_scan_partition_pruned_map_only(spark, sf_dir):
    """IVF-PQ: the serving scan reads only the probed cell partitions
    (PartitionFilters on cell) and stays map-only — zero Exchanges,
    no joins."""
    plan = _plan(spark, sf_dir, "similarity_ivf_pq_topk")
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters
    assert _shuffle_exchanges(plan) == 0, plan
    for op in _JOIN_OPS + ("BroadcastHashJoin",):
        assert op not in plan, f"{op} leaked into the IVF-PQ plan:\n{plan}"


def test_regression_plan_one_exchange(spark, sf_dir):
    """Groupwise OLS: one shuffle (the group-key aggregation), no
    joins — sufficient statistics ride map-side partials."""
    plan = _plan(spark, sf_dir, "stats_regression_by_group")
    assert _shuffle_exchanges(plan) == 1, plan
    for op in _JOIN_OPS + ("BroadcastHashJoin",):
        assert op not in plan, f"{op} leaked into the OLS plan:\n{plan}"


def test_basket_lift_only_broadcast_joins(spark, sf_dir):
    """Market-basket lift: the dimension joins (brand counts, total
    orders) must all broadcast — no shuffle join operator anywhere;
    the one BroadcastNestedLoopJoin is the single-row n_orders stats
    cross join (the bounded crossJoin(broadcast(agg)) idiom); pair
    generation is a map-side array transform, so no plan edge carries
    the pair space before its groupBy."""
    plan = _plan(spark, sf_dir, "market_basket_lift")
    for op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert op not in plan, f"{op} leaked into the basket plan:\n{plan}"
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan


def test_pruning_audit_no_sort_no_window(spark, sf_dir):
    """Layout pruning audit: chunk assignment must stay a projection —
    no global Sort before the per-chunk aggregation and no Window
    operator (the bit-twiddle/range chunk ids replace ntile)."""
    plan = _plan(spark, sf_dir, "layout_pruning_audit")
    assert "Window" not in plan, plan
    agg_part = plan.split("HashAggregate")[0]
    assert "Sort" not in agg_part, plan


def test_cusum_no_single_partition_window(spark, sf_dir):
    """The CUSUM prefix sum must stay sharded: every Window operator's
    partition spec includes the day shard (no per-type single-task
    window), and the plan contains no 'Window ... PARTITION BY
    event_type#x ORDER' without day."""
    plan = _plan(spark, sf_dir, "timeseries_cusum_drift")
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "event_type" in spec and "unix_date" not in spec and "day" not in spec:
            raise AssertionError(f"unsharded per-type window:\n{m.group(0)}")


def test_markov_single_user_window_bounded_joins(spark, sf_dir):
    """Markov transitions: one user-keyed window; the row-total join
    broadcasts (no shuffle join)."""
    plan = _plan(spark, sf_dir, "events_markov_transitions")
    for op in _JOIN_OPS:
        assert op not in plan, f"{op} in markov plan:\n{plan}"
    assert "BroadcastHashJoin" in plan


def test_expectations_gate_no_shuffle_joins(spark, sf_dir):
    """The referential check must broadcast the dimension side."""
    plan = _plan(spark, sf_dir, "quality_expectations_gate")
    for op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert op not in plan, f"{op} in gate plan:\n{plan}"


def test_phash_neardup_band_join_only(spark, sf_dir):
    """Image near-dup pairs: the only join is the band-key self-join —
    no cartesian, no nested-loop (never all-pairs)."""
    plan = _plan(spark, sf_dir, "multimodal_phash_neardup")
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} in phash near-dup plan:\n{plan}"


def test_ivfpq_indexed_serving_plan(spark, sf_dir):
    """Persisted IVF-PQ serving: partition-pruned scan of the code
    table (PartitionFilters on cell), zero Exchanges, no joins, no
    Python stage (the LUT fold is an in-plan expression — the plan
    must not contain ArrowEvalPython / MapInPandas / BatchEvalPython)."""
    plan = _plan(spark, sf_dir, "similarity_ivf_pq_topk_indexed")
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters
    assert _shuffle_exchanges(plan) == 0, plan
    for op in _JOIN_OPS + ("BroadcastHashJoin",):
        assert op not in plan, f"{op} in the indexed IVF-PQ plan:\n{plan}"
    for py in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py not in plan, f"{py} in the indexed serving plan:\n{plan}"
