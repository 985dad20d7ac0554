"""The bench timing loop (`bench.time_passes`) rebuilds each plan before
every pass, so an intermediate a query persists is read in EVERY timed
pass, not only the warmup. Checked on each pass's executed plan as the
SQL status store recorded it (the write runs under the job description
``name#pass``)."""

from __future__ import annotations

from pyspark.sql import functions as F

import bench


def _cached_scans_per_pass(spark, name: str) -> dict[int, int]:
    """{pass tag: InMemoryTableScan nodes in that pass's executed plan}
    for the latest execution of each ``name#tag``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    latest = {}
    for i in range(execs.size()):
        ex = execs.apply(i)
        head, _, tag = (ex.description() or "").rpartition("#")
        if head == name and tag.isdigit():
            eid = ex.executionId()
            if int(tag) not in latest or eid > latest[int(tag)]:
                latest[int(tag)] = eid
    out = {}
    for tag, eid in latest.items():
        nodes = store.planGraph(eid).allNodes()
        out[tag] = sum(
            nodes.apply(j).name() == "InMemoryTableScan" for j in range(nodes.size())
        )
    return out


def _assert_every_timed_pass_reads_cache(spark, name: str, builds) -> None:
    spark_best, _, dropped = bench.time_passes(spark, {name: builds})
    assert dropped == [] and name in spark_best
    scans = _cached_scans_per_pass(spark, name)
    timed = {t: n for t, n in scans.items() if t >= 1}
    assert set(range(1, bench.PASSES + 1)) <= set(timed), scans
    assert all(n > 0 for n in timed.values()), scans


def test_persisted_intermediate_is_read_in_every_timed_pass(spark):
    def build():
        base = spark.range(0, 2000).withColumn("k", F.col("id") % 7).persist()
        counts = base.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        sums = base.groupBy("k").agg(F.sum("id").alias("s"))
        return counts.join(sums, "k")

    _assert_every_timed_pass_reads_cache(spark, "harness_two_consumers", build)


def test_search_mrr_audit_pair_is_read_in_every_timed_pass(spark, sf_dir):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()["search_mrr_audit"]
    _assert_every_timed_pass_reads_cache(
        spark, "search_mrr_audit", lambda: fn(spark, sf_dir)
    )
