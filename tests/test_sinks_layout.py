"""Lake-layout tests: Hive-partitioned writes with partition pruning
visible to Catalyst, and small-file compaction."""

import contextlib
import glob
import io
import os

import pytest
from pyspark.sql import functions as F

from duckdb_pipeline_spark.queries.common import load
from duckdb_pipeline_spark.sinks import compact_small_files, write_partitioned


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "events_lake")
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, lake, ["event_date"])
    # layout is hive-style
    assert glob.glob(f"{lake}/event_date=*")

    one_day = spark.read.parquet(lake).where(F.col("event_date") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    # correctness: pruned read equals the filtered full read
    want = ev.where(F.to_date("ts") == "2024-01-02").count()
    assert one_day.count() == want > 0


def test_compact_small_files(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "fragmented")
    ev = load(spark, sf_dir, "events")
    ev.repartition(16).write.parquet(lake)
    assert len(glob.glob(os.path.join(lake, "part-*.parquet"))) == 16

    n_after = compact_small_files(spark, lake, target_files=2)
    assert n_after == 2
    assert spark.read.parquet(lake).count() == ev.count()


def test_upsert_parquet_merges_by_key(spark, sf_dir, tmp_path):
    from duckdb_pipeline_spark.sinks import upsert_parquet

    path = str(tmp_path / "dim_customer")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")

    n0 = upsert_parquet(spark, cust, path, ["c_custkey"])
    assert n0 == cust.count()

    updates = (
        cust.limit(10).withColumn("c_acctbal", F.lit(-1.0))
    ).unionByName(
        spark.createDataFrame(
            [(10_000_001, "new customer", 5.0)], ["c_custkey", "c_name", "c_acctbal"]
        )
    )
    n1 = upsert_parquet(spark, updates, path, ["c_custkey"])
    assert n1 == n0 + 1  # 10 replaced in place, 1 inserted

    merged = spark.read.parquet(path)
    assert merged.where(F.col("c_acctbal") == -1.0).count() == 10
    assert merged.where(F.col("c_custkey") == 10_000_001).count() == 1
    # replaced keys are not duplicated
    assert merged.groupBy("c_custkey").count().where("count > 1").count() == 0


def test_upsert_partitioned_cow(spark, sf_dir, tmp_path):
    """Copy-on-write contract (VERDICT r8 #7): a MERGE touching one
    partition rewrites only that partition directory — every other
    partition's files are byte-identical with unchanged mtimes."""
    import os

    from duckdb_pipeline_spark.sinks import upsert_partitioned, write_partitioned

    root = str(tmp_path / "orders_by_status")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_partitioned(orders, root, ["o_orderstatus"])

    def snapshot(status):
        d = os.path.join(root, f"o_orderstatus={status}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
            if f.startswith("part-")
        }

    untouched_before = {s: snapshot(s) for s in ("F", "P")}
    touched = (
        orders.where("o_orderstatus = 'O'")
        .limit(5)
        .withColumn("o_totalprice", F.lit(-9.0))
    )
    counts = upsert_partitioned(
        spark, touched, root, "o_orderstatus", ["o_orderkey"]
    )
    assert set(counts) == {"O"}
    assert counts["O"] == orders.where("o_orderstatus = 'O'").count()
    for s in ("F", "P"):
        assert snapshot(s) == untouched_before[s]
    merged = spark.read.parquet(root)
    assert merged.where("o_totalprice = -9.0").count() == 5
    assert merged.count() == orders.count()


def test_write_sorted_parquet_rowgroup_stats_disjoint(spark, sf_dir, tmp_path):
    """The sorted layout must yield (near-)disjoint per-file ts ranges —
    the property footer-stats pruning depends on. Verified from the
    parquet footers directly (pyarrow), not from Spark."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from duckdb_pipeline_spark.queries.common import load
    from duckdb_pipeline_spark.sinks import write_sorted_parquet

    events = load(spark, sf_dir, "events")
    out = str(tmp_path / "events_sorted")
    write_sorted_parquet(events, out, ["ts"], num_files=4)

    ranges = []
    for f in _glob.glob(f"{out}/part-*.parquet"):
        md = _pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "ts"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 2, "expected multiple files/row groups"
    ranges.sort()
    overlaps = sum(1 for a, b in zip(ranges, ranges[1:]) if b[0] < a[1])
    # range partitioning makes ranges disjoint up to boundary duplicates
    assert overlaps == 0, f"overlapping ts ranges defeat pruning: {ranges}"


def test_write_zorder_parquet_narrows_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustering on (user_id, value) must narrow per-file
    footer ranges in BOTH dimensions (measured, sf0.01: ~0.27/0.22 of
    the global span at 16 files), where the single-key sorted layout is
    near-zero on its key and ~full-span on the other. Verified from
    parquet footers (pyarrow), not from Spark."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from duckdb_pipeline_spark.queries.common import load
    from duckdb_pipeline_spark.sinks import write_sorted_parquet, write_zorder_parquet

    events = load(spark, "/root/testdata/sf0.01", "events")
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_parquet(events, zdir, ("user_id", "value"), num_files=16)
    write_sorted_parquet(events, sdir, ["user_id"], num_files=16)

    def mean_span(d, col):
        gmn, gmx, spans = None, None, []
        for f in _glob.glob(f"{d}/part-*.parquet"):
            md = _pq.ParquetFile(f).metadata
            ci = next(i for i in range(len(md.schema)) if md.schema.column(i).name == col)
            mn = min(md.row_group(r).column(ci).statistics.min for r in range(md.num_row_groups))
            mx = max(md.row_group(r).column(ci).statistics.max for r in range(md.num_row_groups))
            spans.append((mn, mx))
            gmn = mn if gmn is None else min(gmn, mn)
            gmx = mx if gmx is None else max(gmx, mx)
        return sum((mx - mn) / (gmx - gmn) for mn, mx in spans) / len(spans)

    assert mean_span(zdir, "user_id") < 0.45
    assert mean_span(zdir, "value") < 0.45
    # the contrast the layout exists for: one-key sort leaves the second
    # dimension unprunable
    assert mean_span(sdir, "value") > 0.5
    assert mean_span(sdir, "user_id") < 0.1

    # row counts survive the relayout
    assert spark.read.parquet(zdir).count() == events.count()


def test_morton_spread_matches_bit_reference(spark):
    """The mask-shift Morton interleave inside write_zorder_parquet
    must equal a per-bit reference on random 16-bit cell pairs. The
    z-expression is exercised through the same code path (a write to a
    temp dir is unnecessary — the helper is exercised structurally by
    the layout test; here the arithmetic itself faces 400 random
    pairs via an equivalent inline expression)."""
    import random

    from pyspark.sql import functions as F

    def ref(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(42)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(400)]
    df = spark.createDataFrame(pairs, "a long, b long")

    from duckdb_pipeline_spark.sinks import morton_z

    z = morton_z(F.col("a"), F.col("b"))
    got = {(r.a, r.b): r.z for r in df.select("a", "b", z.alias("z")).collect()}
    for a, b in pairs:
        assert got[(a, b)] == ref(a, b)


def test_versioned_table_time_travel(spark, tmp_path):
    """write_version commits immutable snapshots: old versions stay
    byte-identical after new writes, read_version resolves by manifest
    (default latest), and vacuum prunes from the manifest before the
    data dirs."""
    import os

    from duckdb_pipeline_spark.sinks import (
        read_version,
        vacuum_versions,
        write_version,
    )

    root = str(tmp_path / "vt")
    d1 = spark.range(5).withColumnRenamed("id", "k")
    d2 = spark.range(8).withColumnRenamed("id", "k")
    assert write_version(d1, root) == 1
    v1_files = {
        f: os.path.getmtime(os.path.join(root, "v=1", f))
        for f in os.listdir(os.path.join(root, "v=1"))
        if f.endswith(".parquet")
    }
    assert write_version(d2, root) == 2
    # v1 untouched by the v2 commit
    for f, mt in v1_files.items():
        p = os.path.join(root, "v=1", f)
        assert os.path.getmtime(p) == mt
    assert read_version(spark, root).count() == 8          # latest
    assert read_version(spark, root, 1).count() == 5       # time travel
    # an uncommitted dir is invisible
    os.makedirs(os.path.join(root, "v=9"), exist_ok=True)
    assert read_version(spark, root).count() == 8
    assert write_version(d1, root) == 3
    assert vacuum_versions(root, keep=1) == [1, 2]
    assert read_version(spark, root).count() == 5
    assert not os.path.exists(os.path.join(root, "v=1"))
    try:
        read_version(spark, root, 2)
        raise AssertionError("pruned version must not resolve")
    except ValueError:
        pass


def test_read_version_diff_cdc(spark, tmp_path):
    """Snapshot CDC: inserts/deletes/updates classified by the keyed
    full-outer diff; unchanged rows dropped."""
    from pyspark.sql import functions as F

    from duckdb_pipeline_spark.sinks import read_version_diff, write_version

    root = str(tmp_path / "cdc")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    v2 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c2", 30.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    write_version(v1, root)
    write_version(v2, root)
    diff = {
        int(r["k"]): r["_change"]
        for r in read_version_diff(spark, root, 1, 2, ["k"]).collect()
    }
    assert diff == {1: "delete", 3: "update", 4: "insert"}
    # update rows carry the NEW values; deletes carry the old
    rows = {
        (int(r["k"]), r["_change"]): r["s"]
        for r in read_version_diff(spark, root, 1, 2, ["k"]).collect()
    }
    assert rows[(3, "update")] == "c2" and rows[(1, "delete")] == "a"


def test_replace_file_that_raises_keeps_previous_marker(tmp_path, monkeypatch):
    """A marker write that raises mid-way leaves the previous marker
    parseable and no temp file beside it."""
    import json

    from duckdb_pipeline_spark.sinks import replace_file

    marker = tmp_path / "_SRC.json"
    replace_file(str(marker), json.dumps({"appends": 1}).encode())

    def dies(fd):
        raise OSError("disk died")

    monkeypatch.setattr(os, "fsync", dies)
    with pytest.raises(OSError, match="disk died"):
        replace_file(str(marker), json.dumps({"appends": 2}).encode())
    assert json.loads(marker.read_text()) == {"appends": 1}
    assert os.listdir(tmp_path) == ["_SRC.json"]


def test_write_single_parquet_failed_rename_keeps_previous_file(spark, tmp_path, monkeypatch):
    """If the final rename fails, the previous file stays in place and
    the staging dir is removed."""
    from duckdb_pipeline_spark.sinks import write_single_parquet

    target = str(tmp_path / "2023-01-01" / "agg_20230101.parquet")
    write_single_parquet(spark.range(3), target)

    def dies(*a, **k):
        raise RuntimeError("rename died")

    monkeypatch.setattr(os, "replace", dies)
    monkeypatch.setattr(os, "rename", dies)
    with pytest.raises(RuntimeError, match="rename died"):
        write_single_parquet(spark.range(5), target)
    monkeypatch.undo()
    assert spark.read.parquet(target).count() == 3
    assert os.listdir(os.path.dirname(target)) == ["agg_20230101.parquet"]
