"""Round-10 additions: versioned-table crash safety + NULL-key CDC,
IVF-PQ append exactly-once, clustered-ANN recall operating point,
CUSUM/Morton envelope guards."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_write_version_recovers_from_orphaned_dir(spark, tmp_path):
    """An aborted snapshot write (orphaned v=<n> dir with NO manifest
    entry — e.g. a crashed Spark job) must not wedge the table: the
    next write_version for that version clobbers the debris and
    commits normally (ADVICE r9 medium)."""
    from duckdb_pipeline_spark.sinks import read_version, write_version

    root = str(tmp_path / "vt")
    d1 = spark.range(5).withColumn("k", F.col("id") % 2)
    assert write_version(d1, root) == 1
    # simulate a crashed attempt at v=2: data dir exists, unmanifested
    orphan = os.path.join(root, "v=2")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-crashed.parquet"), "wb") as f:
        f.write(b"not parquet")
    # readers never saw it (manifest resolution)
    assert read_version(spark, root).count() == 5
    # and the writer recovers instead of erroring forever
    d2 = spark.range(8).withColumn("k", F.col("id") % 2)
    assert write_version(d2, root) == 2
    assert read_version(spark, root).count() == 8
    assert read_version(spark, root, 1).count() == 5
    # staging debris also cleaned up
    assert not any(p.startswith("_staging") for p in os.listdir(root))


def test_read_version_diff_null_key_is_update_not_insert_delete(spark, tmp_path):
    """A legitimately NULL key must pair up via eqNullSafe and classify
    by value comparison — never as simultaneous insert+delete
    (ADVICE r9)."""
    from duckdb_pipeline_spark.sinks import read_version_diff, write_version

    root = str(tmp_path / "vt")
    rows1 = [(1, "a"), (None, "x"), (2, "b")]
    rows2 = [(1, "a"), (None, "y"), (3, "c")]
    d1 = spark.createDataFrame(rows1, "k int, v string")
    d2 = spark.createDataFrame(rows2, "k int, v string")
    assert write_version(d1, root) == 1
    assert write_version(d2, root) == 2
    diff = {
        (r["k"], r["_change"]): r["v"]
        for r in read_version_diff(spark, root, 1, 2, keys=["k"]).collect()
    }
    assert diff == {
        (None, "update"): "y",  # NULL key: value changed -> update
        (2, "delete"): "b",
        (3, "insert"): "c",
    }


def test_ivfpq_append_resumes_after_partial_move(spark, sf_dir):
    """Crash recovery: a batch left in 'pending' state with its staging
    dir PARTIALLY moved must complete exactly-once on replay — no
    duplicate vec_ids, correct row count."""
    from duckdb_pipeline_spark.queries.similarity import (
        _ensure_ivfpq_index,
        ivfpq_append_batch,
    )

    idx = _ensure_ivfpq_index(spark, sf_dir)
    n0 = spark.read.parquet(idx).count()
    rng = np.random.RandomState(17)
    rows = [
        (20_000 + i, [float(x) for x in rng.uniform(-1, 1, 64).astype("float32")])
        for i in range(12)
    ]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # phase 1 by hand: encode to staging + pending manifest entry, then
    # "crash" after moving only the first cell dir
    import duckdb_pipeline_spark.queries.similarity as sim

    CB1 = np.asarray(json.load(open(os.path.join(idx, "_CODEBOOKS.json"))), "float64")
    C = np.asarray(json.load(open(os.path.join(idx, "_CENTROIDS.json"))), "float64")
    staging = os.path.join(idx, "_staging_batch_crash1")
    sim._ivfpq_encode(batch, CB1, C).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(staging)
    manifest = os.path.join(idx, "_BATCHES.json")
    entries = []
    if os.path.exists(manifest):
        entries = json.load(open(manifest))
        if entries and isinstance(entries[0], str):
            entries = [{"id": b, "state": "applied", "rows": None} for b in entries]
    entries.append({"id": "crash1", "state": "pending", "rows": 12})
    with open(manifest, "w") as f:
        json.dump(entries, f)
    cell_dirs = sorted(
        d for d in os.listdir(staging) if d.startswith("cell=")
    )
    first = cell_dirs[0]
    dst = os.path.join(idx, first)
    os.makedirs(dst, exist_ok=True)
    moved = 0
    for fn in sorted(os.listdir(os.path.join(staging, first))):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(staging, first, fn), os.path.join(dst, fn))
            moved += 1
    assert moved > 0  # the crash happened mid-move
    # replay completes the move exactly-once
    assert ivfpq_append_batch(spark, batch, idx, "crash1") == 12
    after = spark.read.parquet(idx)
    assert after.count() == n0 + 12
    assert after.groupBy("vec_id").count().where("count > 1").count() == 0
    # a second replay is a committed no-op
    assert ivfpq_append_batch(spark, batch, idx, "crash1") == 0
    # the appended index is now flagged stale for the pure-corpus query
    assert sim._ivfpq_applied_batches(idx) == ["crash1"]
    # rebuild restores the pure-corpus index for other tests
    shutil.rmtree(idx)
    assert _ensure_ivfpq_index(spark, sf_dir) == idx
    assert sim._ivfpq_applied_batches(idx) == []


def test_ann_recall_clustered_operating_point(spark, sf_dir):
    """The planted-cluster corpus demonstrates a production operating
    point: recall >= 0.9 while probing < 25% of cells (VERDICT r9 #4).
    The cluster-aligned 16-cell layout must beat 0.9 at 6.25% probed."""
    from duckdb_pipeline_spark.queries.similarity import ann_recall_clustered

    rows = {r["n_cells"]: r for r in ann_recall_clustered(spark, sf_dir).collect()}
    r16 = rows[16]
    assert r16["probed_frac"] < 0.25
    assert r16["recall"] >= 0.9, r16
    # and the audit is not vacuous: the mis-sized 4-cell layout loses
    assert rows[4]["recall"] < r16["recall"]


def test_cusum_envelope_guard_trips(spark):
    """Values engineered past the int64 envelope must fail fast with
    the guard's own message. The regime that matters: every SUM still
    fits int64 (so ANSI arithmetic alone would NOT yet raise — and a
    non-ANSI deployment would wrap silently), but n * sum|xi| crosses
    the 2^62 safety margin: n=4e5, xi=3e7 -> sum=1.2e13 (fits),
    n*sum=4.8e18 >= 2^62 while still < 2^63."""
    df = spark.range(400_000).select(
        F.lit("t").alias("event_type"),
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        F.lit(300_000.0).alias("value"),
    )
    import duckdb_pipeline_spark.queries.timeseries as ts

    orig = ts.load
    try:
        ts.load = lambda spark, sf_dir, name: df
        with pytest.raises(Exception, match="envelope"):
            ts.timeseries_cusum_drift(spark, "/ignored").collect()
    finally:
        ts.load = orig


def test_zbits_envelope_guard_trips(spark):
    """A key past the _ZBITS-bit Morton envelope must raise, not alias."""
    import duckdb_pipeline_spark.queries.analytics as an

    df = spark.createDataFrame(
        [(1, 1 << (an._ZBITS + 1), 3)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    orig = an.load
    try:
        an.load = lambda spark, sf_dir, name: df
        with pytest.raises(Exception, match="envelope"):
            an.layout_pruning_audit(spark, "/ignored").collect()
    finally:
        an.load = orig


def test_q5_spine_rewrite_plan(spark, sf_dir):
    """Round-10 q5 shape: lineitem reaches the final aggregation through
    BROADCAST probes only — no SortMergeJoin/ShuffledHashJoin anywhere
    (the old tree shuffled all of lineitem wide on orderkey, then the
    li⋈orders intermediate again on custkey: the 12.8x sf10 register
    entry)."""
    from duckdb_pipeline_spark.queries import collect_all

    df = collect_all()["q5_regional_revenue"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert op not in plan, f"{op} in q5 plan:\n{plan}"
    assert plan.count("BroadcastHashJoin") >= 3  # supp, cust, spine


def test_chi2_single_scan(spark, sf_dir):
    """Chi-square: marginals are windows over the bounded cell table —
    the events relation appears exactly ONCE in the plan (the r9 shape
    re-consumed it through three aggregate branches + two joins)."""
    from duckdb_pipeline_spark.queries import collect_all

    df = collect_all()["stats_chi2_independence"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") <= 1 or plan.count("Scan parquet") <= 1
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan, f"join survived the window rewrite:\n{plan}"


def test_expectations_gate_no_expand(spark, sf_dir):
    """The bitmap-word distinct must not plan an Expand (the
    countDistinct + scalar-agg combination's Expand doubled every row;
    5.98x -> 4.4x at sf10)."""
    from duckdb_pipeline_spark.queries import collect_all

    df = collect_all()["quality_expectations_gate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan


def test_zipf_no_global_window_over_vocab(spark, sf_dir):
    """Zipf top-1000 must plan TakeOrderedAndProject, not a global
    row_number window over the whole vocabulary."""
    from duckdb_pipeline_spark.queries import collect_all

    df = collect_all()["quality_zipf_audit"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan, plan


def test_read_version_diff_randomized_roundtrip(spark, tmp_path):
    """Property check: for random keyed edits (insert/delete/update/
    unchanged, incl. NULL values in a value column), the CDC diff must
    reproduce exactly the set-difference classification a reference
    dict computation gives."""
    from duckdb_pipeline_spark.sinks import read_version_diff, write_version

    rng = np.random.RandomState(1007)
    for trial in range(3):
        n = 60
        keys = list(range(n))
        v1 = {k: (None if rng.rand() < 0.1 else int(rng.randint(0, 5))) for k in keys}
        v2 = {}
        expect = {}
        for k in keys:
            r = rng.rand()
            if r < 0.2:
                expect[k] = ("delete", v1[k])  # dropped in v2
            elif r < 0.4:
                nv = (v1[k] or 0) + 1
                v2[k] = nv
                expect[k] = ("update", nv)
            elif r < 0.5:
                v2[k] = None if v1[k] is not None else 0  # null flip = update
                expect[k] = ("update", v2[k])
            else:
                v2[k] = v1[k]  # unchanged -> absent from diff
        for k in range(n, n + 10):  # inserts
            v2[k] = int(rng.randint(0, 5))
            expect[k] = ("insert", v2[k])
        root = str(tmp_path / f"vt{trial}")
        write_version(
            spark.createDataFrame([(k, v) for k, v in v1.items()], "k int, v int"),
            root,
        )
        write_version(
            spark.createDataFrame([(k, v) for k, v in v2.items()], "k int, v int"),
            root,
        )
        got = {
            r["k"]: (r["_change"], r["v"])
            for r in read_version_diff(spark, root, 1, 2, keys=["k"]).collect()
        }
        want = {k: e for k, e in expect.items() if e[0] != "unchanged"}
        assert got == want, (trial, got.keys() ^ want.keys())


def test_mrr_audit_branches_cached(spark, sf_dir, monkeypatch):
    """search_mrr_audit's persist contract, PER SITE since
    optimization r15 (VERDICT r14 #1): the (q_id, doc_id, score)
    ``pair`` intermediate persists UNCONDITIONALLY (its inlined
    re-derivation repays the corpus-cardinality dl merge join and the
    full-corpus stats fold per consumer), while the probe-vocab ``tf``
    stays scale-adaptive (common.maybe_persist — its re-derivation is
    one predicate-pushed bucketed scan, nearly free below the floor).
    Pin BOTH sides of tf's switch on the same data by moving the
    floor — pair's cache must be present either way, and tf's cache
    must ADD InMemoryTableScans only below the floor — and that both
    plans still yield rows (the oracle suite covers values)."""
    from duckdb_pipeline_spark.queries import collect_all, common

    monkeypatch.setattr(common, "PERSIST_FLOOR_BYTES", 1 << 60)
    df = collect_all()["search_mrr_audit"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_gated_off = plan.count("InMemoryTableScan")
    assert n_gated_off > 0, plan  # pair is cached even above the floor
    assert df.count() > 0
    spark.catalog.clearCache()

    monkeypatch.setattr(common, "PERSIST_FLOOR_BYTES", 0)
    df = collect_all()["search_mrr_audit"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") > n_gated_off, plan
    assert df.count() > 0
    spark.catalog.clearCache()


def test_upsert_recovers_from_interrupted_swap(spark, tmp_path):
    """Crash between the move-aside and the swap-in leaves the dataset
    in the aside dir; the next upsert must restore it and merge against
    the REAL prior state, not an empty table (the write_version
    staged-rename precedent applied to upsert_parquet/_swap_dir)."""
    import os

    from duckdb_pipeline_spark.sinks import _aside_path, upsert_parquet

    path = str(tmp_path / "tbl")
    upsert_parquet(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path, ["k"],
    )
    os.rename(path, _aside_path(path))  # simulated mid-swap crash
    n = upsert_parquet(
        spark, spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        path, ["k"],
    )
    assert n == 3
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.isdir(_aside_path(path))


def test_upsert_clears_stale_aside(spark, tmp_path):
    """Crash AFTER the swap-in but before the old state's removal
    leaves a stale aside next to a live dataset; the next call must
    drop it (not restore it over the live data)."""
    import os

    from duckdb_pipeline_spark.sinks import _aside_path, upsert_parquet

    path = str(tmp_path / "tbl")
    upsert_parquet(
        spark, spark.createDataFrame([(1, "old")], "k int, v string"), path, ["k"]
    )
    os.makedirs(_aside_path(path))  # stale aside; live dataset present
    upsert_parquet(
        spark, spark.createDataFrame([(2, "new")], "k int, v string"), path, ["k"]
    )
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "old"), (2, "new")}
    assert not os.path.isdir(_aside_path(path))


def test_compact_recovers_from_interrupted_swap(spark, tmp_path):
    """compact_small_files: same crash window, same recovery — and the
    aside name is underscore-prefixed so a crash inside a hive layout
    never surfaces a bogus `col=value._old` partition to readers."""
    import os

    from duckdb_pipeline_spark.sinks import (
        _aside_path, compact_small_files, write_partitioned,
    )

    root = str(tmp_path / "lake")
    df = spark.createDataFrame([(d, i) for d in (1, 2) for i in range(4)], "day int, x int")
    write_partitioned(df.repartition(4), root, ["day"])
    part = os.path.join(root, "day=1")
    os.rename(part, _aside_path(part))  # simulated mid-swap crash
    assert os.path.basename(_aside_path(part)).startswith("_")
    n_files = compact_small_files(spark, root, 1, "day=1")
    assert n_files == 1
    got = sorted(r.x for r in spark.read.parquet(root).where("day = 1").collect())
    assert got == [0, 1, 2, 3]
    # full-table read sees exactly the two real partitions
    assert sorted(
        r.day for r in spark.read.parquet(root).select("day").distinct().collect()
    ) == [1, 2]
