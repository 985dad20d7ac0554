"""Pipeline-stage tests with the reference's own literal fixtures.

Golden values from /root/reference/tests/test_dl_transformer.py:46-74
(clean) and :100-120 (aggregate); end-to-end bronze→silver→gold run
over generated .json.gz fixtures mirrors the cron lifecycle (SURVEY §3).
"""

import contextlib
import gzip
import json
import os
from datetime import date, datetime

import pytest

from duckdb_pipeline_spark.config import EngineConfig
from duckdb_pipeline_spark.transform import (
    DataLakeTransformer,
    clean_projection,
    daily_aggregate,
)

RAW_ROWS = [
    {
        "id": 1,
        "actor": {"id": 101, "login": "user1", "display_login": "User One"},
        "type": "PushEvent",
        "repo": {"id": 201, "name": "repo1", "url": "https://github.com/user1/repo1"},
        "created_at": "2023-01-01 12:00:00",
    },
    {
        "id": 2,
        "actor": {"id": 102, "login": "user2", "display_login": "User Two"},
        "type": "IssuesEvent",
        "repo": {"id": 202, "name": "repo2", "url": "https://github.com/user2/repo2"},
        "created_at": "2023-01-02 13:00:00",
    },
]

SILVER_ROWS = [
    ("PushEvent", 1, "repo1", "http://repo1.com", "2023-01-01 10:00:00"),
    ("PushEvent", 1, "repo1", "http://repo1.com", "2023-01-01 11:00:00"),
    ("IssueEvent", 2, "repo2", "http://repo2.com", "2023-01-01 12:00:00"),
    ("PushEvent", 1, "repo1", "http://repo1.com", "2023-01-02 10:00:00"),
]


@pytest.fixture()
def raw_df(spark):
    from duckdb_pipeline_spark.sources import GHARCHIVE_EVENT_SCHEMA

    return spark.createDataFrame(
        [json.loads(json.dumps(r)) for r in RAW_ROWS], schema=GHARCHIVE_EVENT_SCHEMA
    )


def test_clean_raw_gharchive(spark, raw_df):
    clean = clean_projection(raw_df)
    rows = clean.orderBy("event_id").collect()
    assert len(rows) == 2
    assert clean.columns == [
        "event_id",
        "user_id",
        "user_name",
        "user_display_name",
        "event_type",
        "repo_id",
        "repo_name",
        "repo_url",
        "event_date",
    ]
    assert rows[0].user_id == 101
    assert rows[0].user_name == "user1"
    assert rows[0].user_display_name == "User One"
    assert rows[0].repo_id == 201
    assert rows[0].event_date == "2023-01-01 12:00:00"  # string passthrough


def test_aggregate_raw_gharchive(spark):
    silver = spark.createDataFrame(
        SILVER_ROWS, "event_type string, repo_id long, repo_name string, repo_url string, event_date string"
    )
    agg = daily_aggregate(silver)
    out = {
        (r.event_type, r.repo_id, r.event_date): r.event_count
        for r in agg.collect()
    }
    assert len(out) == 3
    assert out[("PushEvent", 1, date(2023, 1, 1))] == 2
    assert out[("IssueEvent", 2, date(2023, 1, 1))] == 1
    assert out[("PushEvent", 1, date(2023, 1, 2))] == 1
    assert dict(agg.dtypes)["event_date"] == "date"
    assert dict(agg.dtypes)["event_count"] == "bigint"


def test_end_to_end_medallion(spark, tmp_path):
    """bronze .json.gz → silver parquet → gold parquet, exact filenames."""
    # a malformed line among the events: DROPMALFORMED must skip it
    cfg = _land_hours(tmp_path / "lake", {12: RAW_ROWS + ['{"id": broken!!']})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    silver_file = t.serialise_raw_data(datetime(2023, 1, 1, 12))
    assert silver_file.endswith("2023-01-01/12/clean_20230101_12.parquet")
    assert os.path.isfile(silver_file)

    gold_file = t.aggregate_silver_data(datetime(2023, 1, 1))
    assert gold_file.endswith("2023-01-01/agg_20230101.parquet")
    gold = spark.read.parquet(gold_file)
    rows = {(r.event_type, r.event_date): r.event_count for r in gold.collect()}
    assert rows == {
        ("PushEvent", date(2023, 1, 1)): 1,
        ("IssuesEvent", date(2023, 1, 2)): 1,
    }


def test_end_to_end_bucketed_silver_gold_exchange_free(spark, tmp_path):
    """Round-8 medallion layout (VERDICT r7 #7): two bronze hours →
    day-partitioned repo-bucketed silver table → gold aggregation that
    (a) equals the plain path's daily aggregate and (b) plans with
    ZERO shuffle Exchanges — the silver writer paid the one shuffle at
    ingest time."""
    lake = tmp_path / "lake"
    cfg = _land_hours(lake, {12: RAW_ROWS, 13: RAW_ROWS[:1]})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        tname = t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        assert t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 13)) == tname

        silver = spark.table(tname)
        assert silver.count() == 3  # both hourly appends landed
        # idempotence guard (ADVICE r8): replaying an already-ingested
        # hour is a no-op — no duplicate rows, no gold double-count
        assert t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12)) == tname
        assert spark.table(tname).count() == 3
        # layout facts: day partition dirs + one file per bucket write
        tdir = lake / "silver" / "gharchive/events" / "clean_bucketed"
        assert (tdir / "process_day=2023-01-01").is_dir()

        gold = t.aggregate_silver_data_bucketed(datetime(2023, 1, 1))
        got = {
            (r.event_type, r.repo_id, r.event_date): r.event_count
            for r in gold.collect()
        }
        assert got == {
            ("PushEvent", 201, date(2023, 1, 1)): 2,
            ("IssuesEvent", 202, date(2023, 1, 2)): 1,
        }

        from tests.test_plans import _shuffle_exchanges, plan_text

        plan = plan_text(gold, "simple")
        assert _shuffle_exchanges(plan) == 0, plan
        assert "Bucketed: true" in plan
        assert _recorded_buckets(t) == 1  # a few hundred bytes of bronze
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def _land_hours(lake, hours) -> EngineConfig:
    """Bronze ``{hour: rows}`` as one .json.gz per hour of 2023-01-01
    under ``lake``; returns the local-dir lake config. A row is an event
    dict, or a str landed verbatim as one line."""
    for hour, rows in hours.items():
        bronze_dir = lake / "bronze" / "gharchive/events" / "2023-01-01" / f"{hour:02d}"
        os.makedirs(bronze_dir)
        payload = b"\n".join(
            (r if isinstance(r, str) else json.dumps(r)).encode() for r in rows
        )
        with gzip.open(bronze_dir / f"2023-1-1-{hour}.json.gz", "wb") as f:
            f.write(payload)
    return EngineConfig(
        bronze_bucket=str(lake / "bronze"),
        silver_bucket=str(lake / "silver"),
        gold_bucket=str(lake / "gold"),
        scheme="",
    )


def test_flat_serialise_replay_is_a_no_op(spark, tmp_path):
    """Replaying an hour through the reference-parity path replaces its
    one silver file in place: the hour dir still holds exactly one
    ``clean_*.parquet`` with the same rows, no ``_staging_*`` dir is
    left anywhere in the lake, and the day's gold is unchanged."""
    lake = tmp_path / "lake"
    cfg = _land_hours(lake, {12: RAW_ROWS, 13: RAW_ROWS[:1]})
    t = DataLakeTransformer("gharchive/events", spark, cfg)

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    silver = t.serialise_raw_data(datetime(2023, 1, 1, 12))
    t.serialise_raw_data(datetime(2023, 1, 1, 13))
    silver_rows = rows(silver)
    gold_rows = rows(t.aggregate_silver_data(datetime(2023, 1, 1)))

    assert t.serialise_raw_data(datetime(2023, 1, 1, 12)) == silver
    hour_dir = os.path.dirname(silver)
    assert [n for n in os.listdir(hour_dir) if n.startswith("clean_")] == [
        os.path.basename(silver)
    ]
    assert rows(silver) == silver_rows
    assert rows(t.aggregate_silver_data(datetime(2023, 1, 1))) == gold_rows
    left = [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(lake)
        for n in dirs
        if n.startswith("_staging_")
    ]
    assert left == []


def _many_repos(first_id: int, n: int) -> list[dict]:
    """``n`` events shaped like RAW_ROWS, one distinct repo_id each."""
    base = RAW_ROWS[0]
    return [
        {**base, "id": first_id + i, "repo": {**base["repo"], "id": first_id + i}}
        for i in range(n)
    ]


def append_hour(t, hour: int, n_buckets: int) -> str:
    """Hour ``hour`` of 2023-01-01 appended to ``t``'s bucketed silver
    table and path by `sinks.write_bucketed_table` at ``n_buckets``
    buckets, as `serialise_raw_data_bucketed` writes it but not sized
    to the hour: for tests of a many-bucket table over a small hour."""
    from pyspark.sql import functions as F

    from duckdb_pipeline_spark import sinks
    from duckdb_pipeline_spark.sources import GHARCHIVE_EVENT_SCHEMA, read_json_auto

    dt = datetime(2023, 1, 1, hour)
    raw = read_json_auto(t.spark, t._bronze_hour(dt)[0], schema=GHARCHIVE_EVENT_SCHEMA)
    return sinks.write_bucketed_table(
        clean_projection(raw).withColumn("process_day", F.lit(dt.date())),
        t._bucketed_silver_table(),
        _silver_table_dir(t),
        bucket_key="repo_id",
        n_buckets=n_buckets,
        sort_cols=["repo_id"],
        partition_cols=["process_day"],
        batch_id=dt.strftime("%Y%m%d_%H"),
    )


def _silver_table_dir(t) -> str:
    return os.path.join(t.config.zone_url("silver"), t.dataset_base_path, "clean_bucketed")


def _recorded_buckets(t) -> int:
    with open(os.path.join(_silver_table_dir(t), "_bucket_spec.json")) as fh:
        return json.load(fh)["n_buckets"]


def test_bucket_tasks_is_largest_divisor_within_slots():
    from duckdb_pipeline_spark.sinks import bucket_tasks

    assert [bucket_tasks(32, s) for s in (1, 2, 4, 6, 32, 64)] == [1, 2, 4, 4, 32, 32]


def test_sized_buckets_gives_each_bucket_a_mib_of_source():
    from duckdb_pipeline_spark.sinks import MIN_BUCKET_BYTES, sized_buckets

    mb = 1_000_000
    assert MIN_BUCKET_BYTES == 1 << 20
    # the sf0.1 / sf1 / sf10 corpora, a TB, and an empty source
    assert [sized_buckets(b, 32) for b in (0.57 * mb, 5.8 * mb, 58 * mb, 10**12, 0)] == [
        1, 4, 32, 32, 1,
    ]
    assert sized_buckets(2 * MIN_BUCKET_BYTES - 1, 32) == 1
    assert sized_buckets(2 * MIN_BUCKET_BYTES, 32) == 2
    assert sized_buckets(10**12, 8) == 8


@contextlib.contextmanager
def _jvm_log(spark):
    """Collect what the JVM logs (every logger, every level) while the
    block runs; yields a callable returning the text so far. The JVM's
    stderr is the one the process started with, which `capfd` does not
    see, so the records are taken from log4j itself."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    buf = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%p %c{1}: %m%n").build()
    app = core.appender.WriterAppender.createAppender(layout, None, buf, "test-jvm-log", False, True)
    app.start()
    root.addAppender(app, None, None)
    ctx.updateLoggers()
    try:
        yield buf.toString
    finally:
        root.removeAppender("test-jvm-log")
        ctx.updateLoggers()
        app.stop()


def test_serialise_reads_the_hour_dir_without_metadata_probe_warning(spark, tmp_path):
    """Both serialise paths read the bronze hour DIRECTORY: a glob made
    Spark's streaming-sink metadata probe look the pattern up as a
    literal path and log a WARN with a stack trace per hour. Hidden
    `_`/`.` files in the hour dir stay unread, as with the glob."""
    from duckdb_pipeline_spark.sources import GHARCHIVE_EVENT_SCHEMA

    cfg = _land_hours(tmp_path / "lake", {12: RAW_ROWS})
    hour_dir = tmp_path / "lake" / "bronze" / "gharchive/events" / "2023-01-01" / "12"
    stray = json.dumps({**RAW_ROWS[0], "id": 99}).encode()
    for name in ("_partial.json", ".inflight.json"):
        (hour_dir / name).write_bytes(stray)
    want = sorted(
        map(tuple, clean_projection(
            spark.createDataFrame(RAW_ROWS, schema=GHARCHIVE_EVENT_SCHEMA)
        ).collect())
    )
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        with _jvm_log(spark) as log:
            silver = t.serialise_raw_data(datetime(2023, 1, 1, 12))
            tname = t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
            logged = log()
        assert "Assume no metadata directory" not in logged, logged
        assert sorted(map(tuple, spark.read.parquet(silver).collect())) == want
        bucketed = spark.table(tname).drop("process_day").select(*spark.read.parquet(silver).columns)
        assert sorted(map(tuple, bucketed.collect())) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def test_serialise_of_an_hour_without_a_landed_file_raises(spark, tmp_path):
    """An hour whose landing failed (the ingester made the hour dir, the
    write raised) holds no visible file. Both serialise paths raise on
    it, as on a missing hour, and write neither a silver file nor the
    bucketed batch marker, so the replay after a good landing still
    appends the hour."""
    import io

    from duckdb_pipeline_spark.ingest import DataLakeIngester

    class Torn(io.BytesIO):
        def getvalue(self):
            return "not bytes"  # the binary write raises after open

    lake = tmp_path / "lake"
    cfg = _land_hours(lake, {})
    ing = DataLakeIngester("gharchive/events", cfg)
    key = "gharchive/events/2023-01-01/12/2023-1-1-12.json.gz"
    with pytest.raises(TypeError):
        ing.upload(Torn(), cfg.bronze_bucket, key)
    hour_dir = lake / "bronze" / "gharchive/events" / "2023-01-01" / "12"
    (hour_dir / ".inflight.json").write_bytes(json.dumps(RAW_ROWS[0]).encode())
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        for hour in (12, 13):  # no visible file; no hour dir at all
            for serialise in (t.serialise_raw_data, t.serialise_raw_data_bucketed):
                with pytest.raises(FileNotFoundError, match="no bronze file"):
                    serialise(datetime(2023, 1, 1, hour))
        assert not os.path.exists(lake / "silver")

        payload = gzip.compress(b"\n".join(json.dumps(r).encode() for r in RAW_ROWS))
        ing.upload(io.BytesIO(payload), cfg.bronze_bucket, key)
        tname = t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        assert sorted(r.event_id for r in spark.table(tname).collect()) == [1, 2]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def test_bucketed_silver_one_file_per_bucket_per_batch(spark, tmp_path):
    """Two hourly appends through a k-task write (k = 4 slots < 32
    buckets) still leave at most one file per (day, bucket, batch), and
    every file holds only rows of the bucket its name carries."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    cfg = _land_hours(tmp_path / "lake", {12: _many_repos(0, 300), 13: _many_repos(1000, 300)})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        for hour in (12, 13):
            append_hour(t, hour, n_buckets=32)
        day = tmp_path / "lake" / "silver" / "gharchive/events" / "clean_bucketed" / "process_day=2023-01-01"
        files = sorted(f for f in os.listdir(day) if f.startswith("part-"))
        # part-<task>-<write job uuid>_<bucket id>.c<n>...
        keys = [re.match(r"part-\d{5}-(.+)_(\d{5})\.c\d{3}", f).groups() for f in files]
        assert len({batch for batch, _ in keys}) == 2
        assert max(Counter(keys).values()) == 1
        assert len({b for _, b in keys}) > 16  # the rows fill most buckets
        for f, (_, bucket) in zip(files, keys):
            got = spark.read.parquet(str(day / f)).select(
                F.pmod(F.hash("repo_id"), F.lit(32)).alias("b")
            ).distinct().collect()
            assert [r.b for r in got] == [int(bucket)], f
        assert spark.table(t._bucketed_silver_table()).count() == 600
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def test_bucketed_serialise_calls_the_sinks_module_writer(spark, tmp_path, monkeypatch):
    """The bucketed silver append goes through `sinks.write_bucketed_table`
    looked up on the module, so a wrapper installed there (the
    benchmark's `sinks.bucketed_append_s` span) sees the call."""
    from duckdb_pipeline_spark import sinks

    calls = []
    real = sinks.write_bucketed_table

    def recording(*args, **kwargs):
        calls.append(kwargs.get("batch_id"))
        return real(*args, **kwargs)

    monkeypatch.setattr(sinks, "write_bucketed_table", recording)
    cfg = _land_hours(tmp_path / "lake", {12: RAW_ROWS})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        tname = t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        assert calls == ["20230101_12"]
        assert spark.table(tname).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def _append_plans(spark, append) -> list[str]:
    """The physical plans of the SQL executions ``append()`` runs."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()  # the last spark.sql.ui.retainedExecutions
        return [execs.apply(i) for i in range(execs.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    sc.setJobDescription("bucketed_append_plan")
    try:
        append()
    finally:
        sc.setJobDescription(None)
    return [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > seen and e.description() == "bucketed_append_plan"
    ]


def test_bucketed_silver_append_runs_one_task_per_slot(spark, tmp_path):
    """A 32-bucket append shuffles into defaultParallelism (4) tasks,
    not into the table's 32 buckets."""
    import re

    cfg = _land_hours(tmp_path / "lake", {12: RAW_ROWS, 13: _many_repos(1000, 50)})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    sc = spark.sparkContext
    assert sc.defaultParallelism == 4
    try:
        append_hour(t, 12, n_buckets=32)
        plans = _append_plans(spark, lambda: append_hour(t, 13, n_buckets=32))
        assert plans
        assert any(re.search(r"hashpartitioning\(repo_id#\d+L?, 4\)", p) for p in plans), plans
        assert not any(re.search(r"hashpartitioning\(repo_id#\d+L?, 32\)", p) for p in plans)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def test_lake_sized_hour_appends_one_file_without_exchange(spark, tmp_path):
    """An hour of a few KB of bronze sizes the silver table to one
    bucket: each append is one coalesced task with no Exchange, and
    writes one file into the day partition."""
    cfg = _land_hours(tmp_path / "lake", {12: RAW_ROWS, 13: _many_repos(1000, 50)})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        plans = _append_plans(
            spark, lambda: t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 13))
        )
        assert plans and not any("Exchange" in p for p in plans), plans
        assert _recorded_buckets(t) == 1
        day = os.path.join(_silver_table_dir(t), "process_day=2023-01-01")
        assert _bucket_files(day) == ["00000", "00000"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def _bucket_files(part_dir) -> list[str]:
    """Bucket ids of the part files in a bucketed partition dir, one per
    file (part-<task>-<write job uuid>_<bucket id>.c<n>...)."""
    import re

    return sorted(
        re.match(r"part-\d{5}-.+_(\d{5})\.c\d{3}", f).group(1)
        for f in os.listdir(part_dir)
        if f.startswith("part-")
    )


def test_compact_bucketed_silver_keeps_partitions(spark, tmp_path):
    """Two 32-bucket silver hours, compaction, a third hour: the table
    stays partitioned by process_day (so the third append matches its
    spec), each bucket holds one file per compacted partition, the
    third hour keeps the recorded 32 buckets, and the bucketed gold
    equals the single-file path's gold."""
    from collections import Counter

    from duckdb_pipeline_spark.sinks import bucket_spec, compact_bucketed

    cfg = _land_hours(
        tmp_path / "lake",
        {12: _many_repos(0, 200), 13: _many_repos(1000, 200), 14: RAW_ROWS + _many_repos(2000, 50)},
    )
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    tname = t._bucketed_silver_table()
    day = tmp_path / "lake" / "silver" / "gharchive/events" / "clean_bucketed" / "process_day=2023-01-01"
    try:
        for hour in (12, 13):
            append_hour(t, hour, n_buckets=32)
        assert max(Counter(_bucket_files(day)).values()) == 2

        n_files = compact_bucketed(spark, tname)

        buckets = _bucket_files(day)
        assert n_files == len(buckets) and max(Counter(buckets).values()) == 1
        assert [c.name for c in spark.catalog.listColumns(tname) if c.isPartition] == ["process_day"]
        assert spark.table(tname).count() == 400
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 14))
        assert spark.table(tname).count() == 452
        assert _recorded_buckets(t) == bucket_spec(spark, tname)["n_buckets"] == 32

        for hour in (12, 13, 14):
            t.serialise_raw_data(datetime(2023, 1, 1, hour))
        single = spark.read.parquet(t.aggregate_silver_data(datetime(2023, 1, 1)))
        bucketed = t.aggregate_silver_data_bucketed(datetime(2023, 1, 1))
        assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, single.collect()))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_failed_compaction_leaves_table_serving(spark, tmp_path, monkeypatch):
    """A compaction whose rewrite raises leaves the table serving the
    same rows, its sidecar files intact, and no staging or aside dir."""
    from pyspark.sql import DataFrameWriter

    from duckdb_pipeline_spark import sinks

    cfg = _land_hours(tmp_path / "lake", {12: _many_repos(0, 50), 13: _many_repos(100, 50)})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    tname = t._bucketed_silver_table()
    parent = tmp_path / "lake" / "silver" / "gharchive/events"
    try:
        for hour in (12, 13):
            t.serialise_raw_data_bucketed(datetime(2023, 1, 1, hour))
        rows = sorted(map(tuple, spark.table(tname).collect()))
        listing = sorted(os.listdir(parent))
        sidecars = sorted(os.listdir(parent / "clean_bucketed" / "_batch_manifest"))
        assert sidecars == ["20230101_12", "20230101_13"]

        real = DataFrameWriter.saveAsTable

        def dies(self, name, *a, **k):
            real(self, name, *a, **k)  # the rewrite lands in staging, then dies
            raise RuntimeError("rewrite died")

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "saveAsTable", dies)
            with pytest.raises(RuntimeError, match="rewrite died"):
                sinks.compact_bucketed(spark, tname)

        assert sorted(os.listdir(parent)) == listing
        assert sorted(os.listdir(parent / "clean_bucketed" / "_batch_manifest")) == sidecars
        assert sorted(map(tuple, spark.table(tname).collect())) == rows
        assert not [
            x for x in spark.catalog.listTables() if x.name.startswith(sinks.STAGED_TABLE_PREFIX)
        ]
        # a replayed hour is still a no-op
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 13))
        assert spark.table(tname).count() == len(rows)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_bucketed_append_after_a_catalog_drop_keeps_earlier_hours(spark, tmp_path):
    """Each cron run is a new process with an empty catalog. An append
    to a silver table its catalog does not hold re-registers the table
    from the recorded spec and appends: the earlier hour's rows and
    batch marker stay, the catalog's bucket count is the recorded one,
    and a replay of the earlier hour is still a no-op."""
    from duckdb_pipeline_spark.sinks import bucket_spec

    cfg = _land_hours(
        tmp_path / "lake", {3: _many_repos(0, 220), 9: _many_repos(1000, 130), 15: RAW_ROWS}
    )
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    tname = t._bucketed_silver_table()
    try:
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 3))
        spark.sql(f"DROP TABLE {tname}")  # the catalog only: the files stay
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 9))

        ids = sorted(r.event_id for r in spark.table(tname).collect())
        assert ids == list(range(220)) + list(range(1000, 1130))
        assert bucket_spec(spark, tname)["n_buckets"] == _recorded_buckets(t)
        assert sorted(os.listdir(os.path.join(_silver_table_dir(t), "_batch_manifest"))) == [
            "20230101_03", "20230101_09",
        ]
        t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 3))
        assert spark.table(tname).count() == 350

        # a table directory with no recorded spec is not written over
        os.remove(os.path.join(_silver_table_dir(t), "_bucket_spec.json"))
        spark.sql(f"DROP TABLE {tname}")
        with pytest.raises(FileExistsError, match="no _bucket_spec.json"):
            t.serialise_raw_data_bucketed(datetime(2023, 1, 1, 15))
        assert spark.read.parquet(_silver_table_dir(t)).count() == 350
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_bucketed_silver_is_sized_by_its_first_hour(spark, tmp_path, monkeypatch):
    """The first hour's bronze bytes size the table (1 MiB of bronze a
    bucket, at most 32); later hours keep the recorded count, a larger
    hour and a new catalog alike, and the bucketed gold plans with no
    shuffle Exchange at 32 buckets as at 1."""
    from duckdb_pipeline_spark import sinks
    from tests.test_plans import _shuffle_exchanges, plan_text

    assert sinks.sized_buckets(40 << 20, 32) == 32
    hours = {12: _many_repos(0, 300), 13: _many_repos(1000, 300), 14: RAW_ROWS}
    cfg = _land_hours(tmp_path / "lake", hours)
    hour_bytes = os.path.getsize(
        tmp_path / "lake" / "bronze" / "gharchive/events" / "2023-01-01" / "12" / "2023-1-1-12.json.gz"
    )
    small = DataLakeTransformer("gharchive/small", spark, cfg)
    large = DataLakeTransformer("gharchive/large", spark, cfg)
    for t in (small, large):
        os.symlink(tmp_path / "lake" / "bronze" / "gharchive/events",
                   tmp_path / "lake" / "bronze" / t.dataset_base_path)
    try:
        # a lake-sized hour: one bucket, kept for a later hour read as 40 MiB
        small.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        with monkeypatch.context() as m:
            m.setattr(sinks, "MIN_BUCKET_BYTES", hour_bytes // 40)
            small.serialise_raw_data_bucketed(datetime(2023, 1, 1, 13))
        assert _recorded_buckets(small) == 1
        assert sinks.bucket_spec(spark, small._bucketed_silver_table())["n_buckets"] == 1

        # an hour read as 40 MiB: 32 buckets, kept across a catalog drop
        # and for the small hour appended after it
        with monkeypatch.context() as m:
            m.setattr(sinks, "MIN_BUCKET_BYTES", hour_bytes // 40)
            large.serialise_raw_data_bucketed(datetime(2023, 1, 1, 12))
        assert _recorded_buckets(large) == 32
        spark.sql(f"DROP TABLE {large._bucketed_silver_table()}")
        large.serialise_raw_data_bucketed(datetime(2023, 1, 1, 14))
        assert sinks.bucket_spec(spark, large._bucketed_silver_table())["n_buckets"] == 32
        day = os.path.join(_silver_table_dir(large), "process_day=2023-01-01")
        assert len(set(_bucket_files(day))) > 16

        for t, rows in ((small, 600), (large, 302)):
            gold = t.aggregate_silver_data_bucketed(datetime(2023, 1, 1))
            plan = plan_text(gold, "simple")
            assert _shuffle_exchanges(plan) == 0, plan
            assert "Bucketed: true" in plan
            assert sum(r.event_count for r in gold.collect()) == rows
    finally:
        for t in (small, large):
            spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


def test_lake_day_is_byte_reproducible(spark, tmp_path):
    """One 4-hour day run three times into fresh lakes gives the same
    bytes: both gold files, and every silver file once the write-job
    uuid in a bucket file's name is masked. The bucketed gold's rows
    would otherwise come in the listing order of the bucket files."""
    import re

    from duckdb_pipeline_spark import paths, sinks

    hours = {h: _many_repos(1000 * h, 150 + 40 * h) + RAW_ROWS for h in (9, 10, 11, 12)}
    day = datetime(2023, 1, 1)
    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    trees = []
    for run in range(3):
        lake = tmp_path / f"lake{run}"
        cfg = _land_hours(lake, hours)
        t = DataLakeTransformer("gharchive/events", spark, cfg)
        try:
            for hour in hours:
                t.serialise_raw_data(datetime(2023, 1, 1, hour))
                t.serialise_raw_data_bucketed(datetime(2023, 1, 1, hour))
            t.aggregate_silver_data(day)
            sinks.write_single_parquet(
                t.aggregate_silver_data_bucketed(day),
                paths.sink_path("agg_bucketed", cfg.zone_url("gold"), t.dataset_base_path, day),
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")
        tree = {}  # masked path -> the bytes of the files it names, sorted
        for zone in ("silver", "gold"):
            for d, _, files in os.walk(lake / zone):
                for f in files:
                    rel = uuid.sub("<uuid>", os.path.relpath(os.path.join(d, f), lake))
                    with open(os.path.join(d, f), "rb") as fh:
                        tree.setdefault(rel, []).append(fh.read())
        trees.append({k: sorted(v) for k, v in tree.items()})
    assert any(k.endswith("agg_bucketed_20230101.parquet") for k in trees[0])
    # 4 hourly files, 4 one-bucket appends, 2 golds
    assert sum(len(v) for k, v in trees[0].items() if k.endswith(".parquet")) == 4 + 4 + 2
    for tree in trees[1:]:
        assert tree.keys() == trees[0].keys()
        assert [k for k in tree if tree[k] != trees[0][k]] == []


def test_ingester_local_landing(tmp_path):
    """Bronze byte-copy landing to a local-dir bucket (no network)."""
    import io

    from duckdb_pipeline_spark.ingest import DataLakeIngester

    cfg = EngineConfig(bronze_bucket=str(tmp_path / "bronze"), scheme="")
    ing = DataLakeIngester("gharchive/events", cfg)
    seen = []
    ing._progress_callback = lambda n: seen.append(n)  # ref :116-120 contract
    out = ing.upload(
        io.BytesIO(b"payload"),
        cfg.bronze_bucket,
        "gharchive/events/2024-10-01/07/2024-10-1-7.json.gz",
    )
    with open(out, "rb") as f:
        assert f.read() == b"payload"
    assert seen == [len(b"payload")]


def test_read_parquet_glob_merge_schema_evolution(spark, tmp_path):
    """Lake schema evolution: a column added partway through a table's
    life must union-read (old files NULL-fill) under merge_schema=True;
    the default read keeps the fast single-footer path."""
    from duckdb_pipeline_spark.sources import read_parquet_glob

    old = spark.createDataFrame([(1, "a")], "id long, v string")
    new = spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    old.write.parquet(str(tmp_path / "d" / "p1"))
    new.write.parquet(str(tmp_path / "d" / "p2"))

    merged = read_parquet_glob(spark, str(tmp_path / "d" / "p*"), merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_ingester_landing_is_atomic(tmp_path):
    """A landing whose write raises leaves neither the target nor a temp
    file (nor touches a previous landing), and a replayed upload
    overwrites the target byte for byte."""
    import io

    from duckdb_pipeline_spark.ingest import DataLakeIngester

    class Torn(io.BytesIO):
        def getvalue(self):
            return "not bytes"  # the binary write raises after open

    cfg = EngineConfig(bronze_bucket=str(tmp_path / "bronze"), scheme="")
    ing = DataLakeIngester("gharchive/events", cfg)
    key = "gharchive/events/2024-10-01/07/2024-10-1-7.json.gz"
    hour_dir = tmp_path / "bronze" / "gharchive/events/2024-10-01/07"
    with pytest.raises(TypeError):
        ing.upload(Torn(), cfg.bronze_bucket, key)
    assert os.listdir(hour_dir) == []

    out = ing.upload(io.BytesIO(b"first"), cfg.bronze_bucket, key)
    with pytest.raises(TypeError):
        ing.upload(Torn(), cfg.bronze_bucket, key)
    assert os.listdir(hour_dir) == [os.path.basename(out)]
    with open(out, "rb") as f:
        assert f.read() == b"first"

    payload = bytes(range(256)) * 3
    assert ing.upload(io.BytesIO(payload), cfg.bronze_bucket, key) == out
    assert os.listdir(hour_dir) == [os.path.basename(out)]
    with open(out, "rb") as f:
        assert f.read() == payload


def test_collect_data_retries_bounded(monkeypatch):
    """Connection errors and 5xx are retried with backoff, a 404 raises
    at once, and every call carries the fixed timeout (offline: the
    HTTP client is replaced)."""
    import requests

    from duckdb_pipeline_spark import ingest

    class Resp:
        def __init__(self, status, content=b""):
            self.status_code, self.content = status, content

        def raise_for_status(self):
            raise requests.HTTPError(f"status {self.status_code}")

    def fake(outcomes):
        calls = []

        def get(url, **kw):
            calls.append(kw)
            out = outcomes[len(calls) - 1]
            if isinstance(out, Exception):
                raise out
            return out

        return get, calls

    sleeps = []
    monkeypatch.setattr(ingest.time, "sleep", sleeps.append)
    ing = ingest.DataLakeIngester("gharchive/events", EngineConfig(scheme=""))

    get, calls = fake([requests.ConnectionError("reset"), Resp(503), Resp(200, b"body")])
    monkeypatch.setattr(ingest.requests, "get", get)
    assert ing.collect_data("http://example.invalid/x.json.gz").getvalue() == b"body"
    assert calls == [{"timeout": ingest.FETCH_TIMEOUT_S}] * 3
    assert sleeps == [ingest.FETCH_BACKOFF_S, 2 * ingest.FETCH_BACKOFF_S]

    get, calls = fake([Resp(404)])
    monkeypatch.setattr(ingest.requests, "get", get)
    with pytest.raises(requests.HTTPError):
        ing.collect_data("http://example.invalid/x.json.gz")
    assert calls == [{"timeout": ingest.FETCH_TIMEOUT_S}]

    get, calls = fake([requests.Timeout("slow")] * ingest.FETCH_ATTEMPTS)
    monkeypatch.setattr(ingest.requests, "get", get)
    with pytest.raises(requests.Timeout):
        ing.collect_data("http://example.invalid/x.json.gz")
    assert len(calls) == ingest.FETCH_ATTEMPTS
