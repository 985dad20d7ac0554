"""Physical-plan regression tests: the scale properties we designed for
(predicate pushdown, column pruning, broadcast joins, shuffle-free
maps, partial aggregation) asserted from the actual executed plans —
so a refactor that silently loses one fails CI, not the 100 TB run.
"""

import contextlib
import io
import os
import shutil

from pyspark.sql import functions as F

from duckdb_pipeline_spark.operators.dedup import (
    minhash_bands_mapped,
    minhash_signatures_mapped,
    shingle_sets_mapped,
    simhash_fingerprints_mapped,
)
from duckdb_pipeline_spark.operators.text import rolling_fingerprint
from duckdb_pipeline_spark.queries import collect_all


def plan_text(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _shuffle_exchanges(plan: str) -> int:
    """Count shuffle Exchanges only (broadcast exchanges are the cheap
    dim-side sends the bucketed design keeps).

    Substring match, NOT line-prefix: in simple-mode explain the left
    subtree of a join prefixes lines with ':' (e.g.
    ':  +- Exchange hashpartitioning(...)'), so prefix matching
    undercounts two-sided shuffles (ADVICE r7).  ReusedExchange nodes
    reference an already-counted shuffle and are excluded.
    """
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
        and "SinglePartition" not in line
    )


def _simple_plan(spark, sf_dir, name):
    return plan_text(collect_all()[name].fn(spark, sf_dir), "simple")


def test_q6_filters_push_into_parquet_scan(spark, sf_dir):
    df = collect_all()["q6_forecast_revenue"].fn(spark, sf_dir)
    plan = plan_text(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: the scan must not read the 11-column lineitem
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_q5_broadcasts_small_dims(spark, sf_dir):
    df = collect_all()["q5_regional_revenue"].fn(spark, sf_dir)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan


def test_python_map_kernels_resplit_only_an_under_split_scan(spark, sf_dir, split_docs_dir):
    """Every Python map kernel over a corpus re-splits its input through
    `queries.common.spread`: on well-split input it is a pure map
    (scan -> Python -> out), and the one-file smoke table gets exactly
    one round-robin Exchange, below the Python stage."""
    kernels = [
        minhash_signatures_mapped,
        minhash_bands_mapped,
        shingle_sets_mapped,
        simhash_fingerprints_mapped,
        rolling_fingerprint,
    ]
    split = spark.read.parquet(split_docs_dir)
    one_file = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for kernel in kernels:
        plan = plan_text(kernel(split), "simple")
        assert "Exchange" not in plan, (kernel.__name__, plan)

        lines = plan_text(kernel(one_file), "simple").splitlines()
        exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
        python = [i for i, l in enumerate(lines) if "MapInPandas" in l]
        assert len(exchanges) == 1, (kernel.__name__, lines)
        assert "RoundRobinPartitioning" in lines[exchanges[0]]
        assert python and python[0] < exchanges[0], (kernel.__name__, lines)


def test_gold_agg_has_partial_aggregation(spark, sf_dir):
    df = collect_all()["pipeline_gold_daily_agg"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    # partial + final HashAggregate around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """Bucketing is the 100 TB co-located-join strategy: two tables
    bucketed by the join key sort-merge join with ZERO exchanges."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # the session catalog is in-memory but the warehouse dir persists
    # across sessions: drop the table AND its leftover location
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    joined = spark.table("b_lineitem").join(
        spark.table("b_orders").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = plan_text(joined, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: no shuffle either side
    assert joined.count() == li.count()


def test_topk_per_group_avoids_global_sort(spark, sf_dir):
    df = collect_all()["window_topk_per_group"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    # window sort is partition-local: no global (rangepartitioned) sort
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_ivf_topk_is_map_plus_topk_only(spark, sf_dir):
    """IVF ANN: cell assignment + in-cell scoring are ONE map stage;
    the only non-map work is the global top-k (TakeOrdered) — no
    shuffle, no join in the plan."""
    from duckdb_pipeline_spark.operators.similarity import ivf_topk_vectorized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = ivf_topk_vectorized(emb, query_id=0, k=10, n_cells=8, n_probe=2)
    plan = plan_text(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_rolling_fingerprint_prunes_scan_to_two_columns(spark, sf_dir):
    df = collect_all()["text_rolling_fingerprint"].fn(spark, sf_dir)
    plan = plan_text(df)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_join_left_zero_counts_aggregates_below_join(spark, sf_dir):
    """The fact-table aggregation must run BELOW the left join (one row
    per partkey reaches the join, not every lineitem row)."""
    df = collect_all()["join_left_zero_counts"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    join_pos = plan.find("Join")
    agg_positions = [i for i in range(len(plan)) if plan.startswith("HashAggregate", i)]
    assert join_pos >= 0 and agg_positions
    # in explain output, children print BELOW their parent — the
    # aggregate feeding the join appears after the join line
    assert any(p > join_pos for p in agg_positions)
    # and no aggregate sits above the join (nothing re-aggregates the
    # join output)
    assert not any(p < join_pos for p in agg_positions)


def test_window_moving_7d_single_partition_exchange(spark, sf_dir):
    """The RANGE-frame window shuffles ONCE on the partition key and
    prunes the orders scan to the four referenced columns."""
    df = collect_all()["window_moving_7d"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    fplan = plan_text(df)
    read_schema = fplan.split("ReadSchema")[1][:400]
    assert "o_totalprice" in read_schema and "o_orderpriority" not in read_schema


def test_sample_stratified_filter_is_scan_side(spark, sf_dir):
    """The md5-threshold predicate runs before the aggregation exchange
    (map-side filter + partial agg — nothing unsampled shuffles)."""
    df = collect_all()["sample_stratified"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    before_exchange = plan.split("Exchange")[-1]  # below the agg exchange
    assert "Filter" in before_exchange
    assert "HashAggregate" in before_exchange  # partial agg below too


def test_quantize_int8_is_pure_map(spark, sf_dir):
    df = collect_all()["embedding_quantize_int8"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "Exchange" not in plan  # scan -> project, no shuffle


def test_containment_uses_no_cartesian(spark, sf_dir):
    """The decontamination join is keyed on the shingle (inverted
    index) — never a cartesian/nested-loop pair enumeration — and
    (round 6) every shingle-keyed join is a BROADCAST of the small
    eval side: the training/full-corpus shingle stream must reach its
    pair aggregation without a single shuffle keyed on the shingle
    string (SortMergeJoin or ShuffledHashJoin would mean the 100 TB
    side moves; the broadcast shape moves only the KB-to-GB eval
    side)."""
    import duckdb_pipeline_spark.queries.common as common

    # below the size threshold (round 9): the whole decontamination is
    # one union-of-collect-sets shuffle chain — NO joins of any kind
    df = collect_all()["dedup_containment"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    # at scale (force the big branch): broadcast-only shingle joins —
    # the training/full-corpus stream must reach its pair aggregation
    # without a shuffle keyed on the shingle string
    real = common.input_bytes
    common.input_bytes = lambda _df: 1 << 40
    try:
        dfb = collect_all()["dedup_containment"].fn(spark, sf_dir)
    finally:
        common.input_bytes = real
    planb = plan_text(dfb, "simple")
    assert "CartesianProduct" not in planb
    assert "BroadcastNestedLoopJoin" not in planb
    assert "SortMergeJoin" not in planb
    assert "ShuffledHashJoin" not in planb
    assert "BroadcastHashJoin" in planb


def test_ivf_pruned_scan_reads_only_probed_partitions(spark, sf_dir, tmp_path):
    """The realized IVF layout: the index is parquet partitioned by
    cell id, and the probe filter must become PartitionFilters on the
    scan — the physical plan reads n_probe of n_cells partitions, not
    the whole table. This is the property that makes IVF sub-linear at
    100 TB (n_probe/n_cells of the corpus scanned per query)."""
    from duckdb_pipeline_spark.operators.similarity import (
        ivf_topk_pruned,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx_path = str(tmp_path / "ivf_idx")
    ivf_write_index(emb, idx_path, n_cells=8)
    df = ivf_topk_pruned(spark, idx_path, emb, query_id=0, k=10, n_cells=8, n_probe=2)
    plan = plan_text(df)
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters and "IN" in part_filters.upper()
    # physically: the scan's file listing covers exactly the probed dirs
    pruned_scan = df.limit(10)
    n_files_probed = pruned_scan.select(F.input_file_name()).distinct().count()
    import glob
    files_per_cell = {
        d: len(glob.glob(os.path.join(idx_path, d, "*.parquet")))
        for d in os.listdir(idx_path)
        if d.startswith("cell=")
    }
    assert len(files_per_cell) == 8
    # two probed cells -> at most the files of two partitions are read
    assert n_files_probed <= 2 * max(files_per_cell.values())


def test_vocab_top_tokens_uses_takeordered(spark, sf_dir):
    """Tokenizer-vocab counting: the top-500 cut must be TakeOrdered
    (per-partition heaps + merge), never a global Sort of the full
    vocabulary — at web-corpus scale the vocabulary is billions of
    distinct tokens and a global sort materializes all of them."""
    df = collect_all()["vocab_top_tokens"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_trimmed_mean_single_window_exchange(spark, sf_dir):
    """Trimmed mean: ONE hash Exchange on source feeds both the rank
    window and the final aggregation (partial aggs downstream) — no
    second shuffle, no global sort."""
    df = collect_all()["stats_trimmed_mean"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("Exchange") <= 2  # window hash + (AQE) agg reuse
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_agg_rollup_expands_aggregate_not_input(spark, sf_dir):
    """agg_rollup must Expand the 9-row finest-level AGGREGATE, not the
    raw input: the Expand node sits above the first HashAggregate pair
    in the plan (aggregate-then-rollup), so the scan volume is 1x, not
    grouping-sets-x."""
    df = collect_all()["agg_rollup"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "Expand" in plan
    # the Expand's subtree already contains the base aggregation
    below_expand = plan.split("Expand", 1)[1]
    assert "HashAggregate" in below_expand


def test_band_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """Incremental dedup probe: the persisted band index is parquet
    partitioned by (band, bucket); a probe batch must reach it through
    PartitionFilters covering only the (band, bucket) cells its own
    signatures hash into. A small batch occupies few cells, so the
    probe reads a bounded slice of the index regardless of corpus size
    — the property that makes hourly-batch dedup sub-linear at
    100 TB."""
    import glob

    from duckdb_pipeline_spark.operators.dedup import (
        minhash_band_index_probe,
        minhash_band_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    idx_path = str(tmp_path / "band_idx")
    minhash_band_index_write(docs.where("doc_id % 4 != 0"), idx_path)
    # a deliberately tiny probe: two re-uploaded docs
    probe_batch = docs.where("doc_id in (1, 13)").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    df = minhash_band_index_probe(spark, idx_path, probe_batch)
    plan = plan_text(df)
    # the index scan must carry a non-empty partition filter over both
    # partition columns (input_file_name() can't run on the two-source
    # probe plan itself, so the physical file check below reconstructs
    # the identical pruned scan as a single source)
    part_filters = plan.split("PartitionFilters")[1][:400]
    assert "band" in part_filters and "bucket" in part_filters
    # physically: 2 docs occupy at most 4 bands x 2 sig-buckets = 8 of
    # the index's populated (band, bucket) dirs; the same cell filter
    # over a standalone index scan must read a strict subset of files
    from duckdb_pipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        word_shingles,
    )

    cells = (
        lsh_bands(minhash_signatures(word_shingles(probe_batch, distinct=False)))
        .withColumn("bucket", F.pmod(F.hash("sig"), F.lit(8)))
        .select("band", "bucket")
        .distinct()
        .collect()
    )
    cond = None
    for r in cells:
        c = (F.col("band") == r["band"]) & (F.col("bucket") == r["bucket"])
        cond = c if cond is None else (cond | c)
    pruned = spark.read.parquet(idx_path).where(cond)
    n_files_probed = pruned.select(F.input_file_name()).distinct().count()
    all_files = len(glob.glob(os.path.join(idx_path, "band=*", "bucket=*", "*.parquet")))
    n_cells = len(glob.glob(os.path.join(idx_path, "band=*", "bucket=*")))
    per_cell = all_files / n_cells
    assert n_files_probed <= 8 * per_cell < all_files


def test_ivf_adc_composed_prunes_partitions_and_avoids_shuffle(spark, sf_dir):
    """The composed IVF->ADC path: the probe filter reaches the index
    scan as PartitionFilters (n_probe of n_cells partitions read), and
    the ranking is a map (coding kernel) + TakeOrdered — no Exchange,
    no Join anywhere in the plan. Also: its candidate set equals the
    exact-cosine IVF probe's candidate set (same cells, same index)."""
    from duckdb_pipeline_spark.queries.similarity import similarity_ivf_adc_topk

    df = similarity_ivf_adc_topk(spark, sf_dir)
    plan = plan_text(df)
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters and "IN" in part_filters.upper()
    simple = plan_text(df, "simple")
    assert "TakeOrderedAndProject" in simple
    assert "Exchange" not in simple
    assert "Join" not in simple
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert all(r.adc_dist >= 0 for r in rows)
    # total order: (adc_dist, vec_id) strictly nondecreasing
    keys = [(r.adc_dist, r.vec_id) for r in rows]
    assert keys == sorted(keys)


# Bucketed-at-rest layouts: the fact-side work must run with ZERO
# shuffle Exchanges — the point of the layout is that the one big
# Exchange moved to ingest time.


def test_q3_bucketed_join_and_agg_have_no_fact_exchange(spark, sf_dir):
    # at test scale the fact tables fit under the auto-broadcast
    # threshold and Spark (correctly) broadcasts li⋈orders; disable it
    # here to see the plan the layout exists for — the 100 TB shape
    # where neither fact side can broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _simple_plan(spark, sf_dir, "q3_top_orders_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan  # li ⋈ orders co-located on buckets
    assert "BroadcastHashJoin" in plan  # customer is the broadcast dim
    # the only allowed Exchange is the TakeOrdered single-partition
    # gather; join sides and the orderkey-grouped agg reuse the bucket
    # distribution
    assert _shuffle_exchanges(plan) == 0, plan


def test_sessions_bucketed_window_has_no_exchange(spark, sf_dir):
    plan = _simple_plan(spark, sf_dir, "user_sessions_gap30_bucketed")
    assert "Window" in plan
    assert _shuffle_exchanges(plan) == 0, plan


def test_retention_bucketed_user_rollup_reuses_buckets(spark, sf_dir):
    plan = _simple_plan(spark, sf_dir, "retention_cohorts_bucketed")
    # exactly ONE shuffle: the tiny (cohort_day, day_offset) reduce;
    # the user-keyed day-mask rollup (the 10M-row shuffle in the plain
    # plan) must consume the bucket distribution. (The 64-row offset
    # table's BroadcastExchange is not a shuffle.)
    assert _shuffle_exchanges(plan) == 1, plan
    # the round-8 mask shape: bit_or rollup directly on the bucketed
    # scan, bits unpacked by a broadcast nested-loop join
    assert "bit_or" in plan and "BroadcastNestedLoopJoin" in plan
    scan_side = plan.split("HashAggregate")[-1]
    # scan-side agg shuffle-free (the offsets BroadcastExchange prints
    # inside this segment in tree order; only shuffles are forbidden)
    assert _shuffle_exchanges(scan_side) == 0, plan


def test_funnel_bucketed_window_has_single_tiny_exchange(spark, sf_dir):
    plan = _simple_plan(spark, sf_dir, "funnel_top_paths_bucketed")
    assert "Window" in plan
    # one shuffle only: the |event_types|^3-cardinality path count;
    # the user window itself is Exchange-free
    assert _shuffle_exchanges(plan) <= 1, plan
    # and no Exchange may appear below the Window operator
    below_window = plan.split("Window")[-1]
    assert "Exchange" not in below_window, plan


def test_range_join_is_single_shuffle_window(spark, sf_dir):
    """Round-7 rewrite: the 10-minute range 'join' must plan as ONE
    user-keyed Exchange feeding a Window — no Join operator at all
    (the old formulation shuffled both sides of an equi+range join)."""
    plan = _simple_plan(spark, sf_dir, "range_join_next_10m")
    assert "Window" in plan
    assert "Join" not in plan
    assert _shuffle_exchanges(plan) == 1, plan


@contextlib.contextmanager
def _toktf_build(spark, sf_dir, tmp_path):
    """Build the toktf layout of a private copy of ``sf_dir``'s
    documents; yields (the physical plan of the build's one write, the
    built table's bucket count)."""
    from duckdb_pipeline_spark import sinks
    from duckdb_pipeline_spark.queries import tokcache

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), corpus)
    sc = spark.sparkContext
    tag = f"toktf_build_plan_{tmp_path.name}"
    sc.setJobDescription(tag)
    try:
        tname = tokcache._ensure_doc_tf(spark, corpus)
    finally:
        sc.setJobDescription(None)
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        writes = [
            execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())
            if execs.apply(i).description() == tag
            and "InsertIntoHadoopFsRelationCommand" in execs.apply(i).physicalPlanDescription()
        ]
        assert len(writes) == 1, writes
        yield writes[0], sinks.bucket_spec(spark, tname)["n_buckets"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(tokcache.cache_location(corpus)[1], ignore_errors=True)


def test_toktf_build_plans_one_exchange_on_raw_documents(spark, sf_dir, tmp_path, monkeypatch):
    """The toktf build shuffles once, the raw documents by doc_id: the
    bucketed writer's repartition on doc_id is the one `_tf` already
    made, so Spark drops it, and the tf fold and the bucketed write run
    on the documents' shuffle. (A multi-bucket build: the smoke corpus
    is far below the 1 MiB-per-bucket floor, so the floor is lowered.)"""
    import re

    from duckdb_pipeline_spark import sinks

    monkeypatch.setattr(sinks, "MIN_BUCKET_BYTES", 1024)
    with _toktf_build(spark, sf_dir, tmp_path) as (plan, n_buckets):
        assert n_buckets > 1
        tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
        ids = re.findall(r"\bExchange \((\d+)\)", tree)
        assert len(ids) == 1, plan
        node = plan.split(f"({ids[0]}) Exchange\n")[1].split("\n\n")[0]
        assert re.search(r"Input \[3\]: \[doc_id#\d+L, source#\d+, text#\d+\]", node), node
        assert "hashpartitioning(doc_id#" in node, node


def test_toktf_one_bucket_build_plans_no_shuffle(spark, sf_dir, tmp_path):
    """A corpus below the 1 MiB-per-bucket floor builds ONE bucket, and
    its build coalesces the documents instead of shuffling them: the
    single partition satisfies the tf fold and the write, with no
    Exchange at all."""
    with _toktf_build(spark, sf_dir, tmp_path) as (plan, n_buckets):
        assert n_buckets == 1
        assert _shuffle_exchanges(plan) == 0, plan
        assert "Coalesce" in plan, plan


# ---------------------------------------------------------------------------
# kNN join family: the shuffle discipline. The exact join must move only
# signature/edge-sized data through its Exchanges and must contain NO
# join operator anywhere (the block-nested-loop replaces the join); the
# IVF variant adds only the one cell-group Exchange.
# ---------------------------------------------------------------------------


def test_knn_join_topk_plan_two_exchanges_no_join(spark, sf_dir):
    """Exact kNN join: exactly TWO shuffle Exchanges — the (ablk,bblk)
    group for the block kernel and the per-id window merge — and no
    join operator (SortMergeJoin/BroadcastHashJoin/ShuffledHashJoin/
    CartesianProduct) anywhere: the pair space exists only inside the
    numpy kernel, never as a plan edge."""
    plan = _simple_plan(spark, sf_dir, "knn_join_topk")
    assert _shuffle_exchanges(plan) == 2, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} leaked into the kNN plan:\n{plan}"


def test_knn_join_ivf_plan_single_group_exchange_no_join(spark, sf_dir):
    """IVF kNN join: assignments come from the at-rest IVF index, so
    the plan is index scan -> one cell-group Exchange -> the per-cell
    kernel: ONE Python boundary (no assignment MapInPandas), one
    Exchange, no joins; ranks are final in-kernel so there is no merge
    window."""
    plan = _simple_plan(spark, sf_dir, "knn_join_topk_ivf")
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
    plan = _simple_plan(spark, sf_dir, "knn_incremental_probe")
    part_filters = plan.split("PartitionFilters")[1][:300]
    assert "cell" in part_filters
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{op} leaked into the probe plan:\n{plan}"
