"""Bucketed-at-rest twins of the shuffle-heavy analytics queries.

The round-6 scale evidence (BASELINE.md round-6 addendum) measured the
payoff of a bucketed at-rest layout at sf10: lineitem+orders written
``bucketBy(orderkey) sortBy(orderkey)`` runs the join+agg with ONE
Exchange in 1.93 s vs 3.06 s plain (-37%). That existed only as a
script experiment; these queries make the layout a STANDING,
oracle-checked, plan-pinned artifact (VERDICT r6 #4/#5) — each bucketed
twin shares its oracle with the plain query (identical semantics,
different at-rest layout), the q1/q1_fast precedent.

Why this is THE 100 TB answer for the join/window weak entries: the
plain plans' cost is one fact-table Exchange (join shuffle for q3,
user-keyed window/agg shuffle for the events trio). A bucketed layout
moves that Exchange from EVERY query to ONE ingest-time write —
exactly what a production lake does for its fact tables (the
reference's medallion silver layer is the natural place: the
transformer that writes silver parquet would write it bucketed;
cf. /root/reference/data_lake_transformer.py:9-242, which delegates
layout to DuckDB's COPY). Spark then proves the join/window
distribution requirement from the table's bucket spec and plans NO
Exchange — pinned by tests/test_plans_round7.py.

Layout location, staleness and publishing: `layouts.py`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import layouts
from . import QuerySpec
from .common import dsum_fp, load
from .relational import Q3_SQL, Q5_SQL, Q10_SQL
from .timeseries import MARKOV_SQL, RETENTION_SQL, SESSIONS_GAP_SQL, TOP_PATHS_SQL

_N_BUCKETS = 32  # = the local core count. A bucketed scan runs ONE
# task per bucket, so n_buckets is the parallelism ceiling for every
# downstream stage that reuses the distribution: the first cut used 8
# and at sf10 the saved Exchange was exactly cancelled by 8-way sorts
# on 32 cores (sessions twin measured 1.41 s == plain). Production
# picks ~(table bytes / target partition bytes), core-count aligned;
# the plan shape (zero fact-side Exchange) is bucket-count-independent,
# which is what the plan tests pin.

# (table, bucket key, sort cols) — sort cols make the window's
# per-partition sort start from near-sorted runs and give parquet
# footer min/max locality on the sort key
_SPECS = {
    "orders": ("o_orderkey", ["o_orderkey"]),
    "lineitem": ("l_orderkey", ["l_orderkey"]),
    "events": ("user_id", ["user_id", "ts", "event_id"]),
}


def cache_location(sf_dir: str, table: str) -> tuple[str, str]:
    """(table_name, data_dir) for a corpus dir + bucketed table — the
    single source of truth for the bucketed-layout scratch scheme
    (bench.py's cold-build wipe uses this instead of hardcoding the
    path, so a layout change breaks loudly there; ADVICE r12)."""
    return f"bkt_{table}_{layouts.label(sf_dir)}", layouts.location(
        f"bucketed/{{label}}/{table}", sf_dir
    )


def _ensure_bucketed(spark, sf_dir: str, table: str) -> str:
    """Write (once per corpus version) the bucketed layout for
    ``table`` and register it in this session's catalog; returns the
    catalog table name."""
    key, sort_cols = _SPECS[table]
    # one file per bucket (repartition hash == bucket-id hash): the
    # layout a window consumes with a near-no-op per-partition sort
    return layouts.ensure_bucketed(
        spark, cache_location(sf_dir, table)[0], f"bucketed/{{label}}/{table}",
        sf_dir, [table], {},
        lambda: load(spark, sf_dir, table).repartition(_N_BUCKETS, F.col(key)),
        _N_BUCKETS, key, sort_cols,
    )


def _bucketed_table(spark, sf_dir: str, table: str):
    return spark.table(_ensure_bucketed(spark, sf_dir, table))


# ------------------------------------------------------------------ q3


def q3_top_orders_bucketed(spark, sf_dir):
    """TPC-H Q3 over the bucketed-at-rest layout: lineitem and orders
    both bucketed+sorted by orderkey, so the l⋈o sort-merge join needs
    NO Exchange on either side (bucket spec satisfies the join
    distribution), and the (l_orderkey, ...) aggregation reuses the
    same distribution (partitioning cols ⊂ grouping cols) — the only
    remaining exchanges are the customer broadcast and TakeOrdered.
    Same filters/agg/oracle as q3_top_orders."""
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _bucketed_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _bucketed_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_fp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5_regional_revenue_bucketed(spark, sf_dir):
    """TPC-H Q5 over the same orderkey-bucketed layout: the li⋈orders
    leg — the only fact-fact join in the 6-way tree — runs
    Exchange-free on the buckets; customer/supplier/nation/region are
    broadcast dims, so the lone shuffle left is the n_name groupBy.
    Same filters/agg/oracle as q5_regional_revenue."""
    region = F.broadcast(load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    supp = F.broadcast(load(spark, sf_dir, "supplier"))
    orders = _bucketed_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _bucketed_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_fp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q10_returned_revenue_bucketed(spark, sf_dir):
    """TPC-H Q10 over the orderkey-bucketed layout: li⋈orders
    Exchange-free on buckets, customer broadcast; shuffles left are
    the customer-grouped aggregation and TakeOrdered. Same
    filters/agg/oracle as q10_returned_revenue."""
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    orders = _bucketed_table(spark, sf_dir, "orders")
    li = _bucketed_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(dsum_fp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ------------------------------------------------- events trio


def user_sessions_gap30_bucketed(spark, sf_dir):
    """Gap-30min sessionization over events bucketed+sorted by
    (user_id, ts, event_id): the user-keyed window consumes the bucket
    distribution directly — NO Exchange anywhere before the window (the
    r6 weak-register shuffle is paid once at layout-write time); the
    session and per-user rollups reuse the same distribution. Same
    semantics/oracle as user_sessions_gap30."""
    from pyspark.sql import Window

    ev = _bucketed_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "sess_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("longest_session_events"),
    )


def retention_cohorts_bucketed(spark, sf_dir):
    """Daily-cohort retention over user-bucketed events: the per-user
    day-mask bit_or rollup (timeseries.retention_from) — the ONE
    10M-row shuffle of the plain plan — runs Exchange-free on the
    bucket distribution; only the tiny (cohort, offset) reduce
    shuffles. Same semantics/oracle as retention_cohorts."""
    from .timeseries import retention_from

    ev = _bucketed_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    return retention_from(ev)


def funnel_top_paths_bucketed(spark, sf_dir):
    """Top event-type trigram journeys over user-bucketed events: the
    user-keyed trigram window runs Exchange-free; only the tiny path
    count shuffles. Same semantics/oracle as funnel_top_paths."""
    from pyspark.sql import Window

    ev = _bucketed_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    steps = (
        ev.withColumn("a", F.lag("event_type", 2).over(w))
        .withColumn("b", F.lag("event_type", 1).over(w))
        .where(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(F.concat_ws(">", "a", "b", "event_type").alias("path"))
    )
    return (
        steps.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), F.col("path").asc())
        .limit(10)
    )


def events_markov_transitions_bucketed(spark, sf_dir):
    """Markov transition matrix over user-bucketed events: the lead
    window consumes the bucket distribution directly (NO Exchange
    before the window — the layout shuffle was paid once at write
    time); only the bounded |types|^2 cell aggregation shuffles. Same
    semantics/oracle as events_markov_transitions (r9 perf-weak
    register: inline 2.22x at sf10 — this is the declared 100 TB
    deployment shape, the sessionization-twin precedent)."""
    from .timeseries import markov_from

    ev = _bucketed_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return markov_from(ev)


def _ensure_scd2_dim(spark, sf_dir: str) -> str:
    """Materialize (once per corpus version) the SCD2 user-attribute
    DIMENSION as a bucketed(user_id) table — the deployment shape for
    scd2_asof_enrich: the dimension is built when the event log lands,
    not rebuilt inside every consumer query."""
    from .timeseries import scd2_user_attributes

    return layouts.ensure_bucketed(
        spark, f"bkt_scd2dim_{layouts.label(sf_dir)}", "bucketed/{label}/scd2dim",
        sf_dir, ["events"], {"dim": "scd2"},
        lambda: scd2_user_attributes(spark, sf_dir).repartition(
            _N_BUCKETS, F.col("user_id")
        ),
        _N_BUCKETS, "user_id", ["user_id", "valid_from"],
    )


def scd2_asof_enrich_indexed(spark, sf_dir):
    """scd2_asof_enrich over the MATERIALIZED dimension: the SCD2
    build's three windows run once at dimension-publish time
    (_ensure_scd2_dim), and the enrichment consumes it as a
    bucketed(user_id) table joined against bucketed(user_id) events —
    both sides satisfy the join distribution from their bucket specs,
    so the plan has NO fact-side Exchange (the interval predicate
    rides the join as a post-condition). Same semantics and oracle as
    scd2_asof_enrich (the DuckDB twin rebuilds the dimension inline —
    the layout win is Spark-side by design, the bucketed-twin
    contract)."""
    dim = spark.table(_ensure_scd2_dim(spark, sf_dir)).select(
        "user_id", "attr_value", "valid_from", "valid_to"
    )
    purchases = (
        _bucketed_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
    )
    j = purchases.join(dim, "user_id").where(
        (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return j.groupBy("attr_value", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum(F.round(F.col("value"), 2)), 2).alias("revenue"),
    )


QUERIES = {
    "q3_top_orders_bucketed": QuerySpec(
        q3_top_orders_bucketed,
        Q3_SQL,
        "TPC-H Q3 over orderkey-bucketed lineitem+orders (zero join-side Exchange)",
    ),
    "q5_regional_revenue_bucketed": QuerySpec(
        q5_regional_revenue_bucketed,
        Q5_SQL,
        "TPC-H Q5 over the orderkey-bucketed layout (fact-fact leg Exchange-free)",
    ),
    "q10_returned_revenue_bucketed": QuerySpec(
        q10_returned_revenue_bucketed,
        Q10_SQL,
        "TPC-H Q10 over the orderkey-bucketed layout (fact-fact leg Exchange-free)",
    ),
    "user_sessions_gap30_bucketed": QuerySpec(
        user_sessions_gap30_bucketed,
        SESSIONS_GAP_SQL,
        "gap sessionization over user-bucketed events (Exchange-free window)",
    ),
    "retention_cohorts_bucketed": QuerySpec(
        retention_cohorts_bucketed,
        RETENTION_SQL,
        "retention matrix over user-bucketed events (Exchange-free user rollup)",
    ),
    "funnel_top_paths_bucketed": QuerySpec(
        funnel_top_paths_bucketed,
        TOP_PATHS_SQL,
        "trigram journeys over user-bucketed events (Exchange-free window)",
    ),
    "events_markov_transitions_bucketed": QuerySpec(
        events_markov_transitions_bucketed,
        MARKOV_SQL,
        "Markov transitions over user-bucketed events (Exchange-free lead window)",
    ),
    "scd2_asof_enrich_indexed": QuerySpec(
        scd2_asof_enrich_indexed,
        None,  # filled below: shares the scd2_asof_enrich oracle
        "as-of enrich over the materialized bucketed SCD2 dimension",
    ),
}

# shared oracle: identical semantics, different at-rest layout (the
# bucketed-twin contract; imported here to avoid a module-load cycle)
from .timeseries import SCD2_ASOF_SQL as _SCD2_ASOF_SQL  # noqa: E402

QUERIES["scd2_asof_enrich_indexed"].oracle = _SCD2_ASOF_SQL
