"""Bucketed at-rest layouts of the fact tables, and the declared
queries that read them.

The round-6 scale evidence (BASELINE.md round-6 addendum) measured the
payoff of a bucketed at-rest layout at sf10: lineitem+orders written
bucketed and sorted by orderkey runs the join+agg with ONE
Exchange in 1.93 s vs 3.06 s plain (-37%). The layouts here make that
a STANDING, oracle-checked, plan-pinned artifact: `q3_top_orders`
serves from the orderkey-bucketed facts (declared again below as
`q3_top_orders_bucketed`, the bench's layout row), and the four
user-keyed events queries are declared a second time over the
user-bucketed events table. Each such name is one line over the plain
query's own body (the shared `*_from(ev)` tails in timeseries.py) and
shares its oracle: identical semantics, different at-rest layout.

Why this is THE 100 TB answer for the join/window weak entries: the
plain plans' cost is one fact-table Exchange (join shuffle for q3,
user-keyed window/agg shuffle for the events queries). A bucketed layout
moves that Exchange from EVERY query to ONE ingest-time write —
exactly what a production lake does for its fact tables (the
reference's medallion silver layer is the natural place: the
transformer that writes silver parquet would write it bucketed;
cf. /root/reference/data_lake_transformer.py:9-242, which delegates
layout to DuckDB's COPY). Spark then proves the join/window
distribution requirement from the table's bucket spec and plans NO
Exchange — pinned by tests/test_plans.py.

Layout location, staleness and publishing: `layouts.py`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import layouts
from . import QuerySpec
from .common import load
from .relational import Q3_SQL, q3_top_orders
from .timeseries import (
    MARKOV_SQL,
    RETENTION_SQL,
    SESSIONS_GAP_SQL,
    TOP_PATHS_SQL,
    markov_from,
    retention_from,
    sessions_from,
    top_paths_from,
)

# A bucketed scan runs ONE task per bucket, so n_buckets is the
# parallelism ceiling of every downstream stage that reuses the
# distribution: the first cut used 8, and at sf10 the saved Exchange was
# exactly cancelled by 8-way sorts on 32 cores (sessions twin measured
# 1.41 s == plain). 32 = the core count of the sf10 bench host. The
# build runs one task per slot, rounded down to a divisor of n_buckets
# (`sinks.bucket_aligned`), so fewer cores do not pay for 32 write tasks.
#
# The toktf layout sizes its count to its corpus (`sinks.sized_buckets`);
# these fact layouts keep 32 at every scale on purpose: orders and
# lineitem must share ONE count for q3's Exchange-free join (a join of
# 4 buckets with 32 shuffles a side), and events keeps the count its
# window plans were measured at. The plan shape (zero fact-side
# Exchange) does not depend on the count, which is what the plan tests
# pin.
_N_BUCKETS = 32

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
    # one file per bucket (the writer sends each bucket to one task):
    # the layout a window consumes with a near-no-op per-partition sort
    return layouts.ensure_bucketed(
        spark, cache_location(sf_dir, table)[0], f"bucketed/{{label}}/{table}",
        sf_dir, [table], {}, lambda: load(spark, sf_dir, table),
        _N_BUCKETS, key, sort_cols,
    )


def _bucketed_table(spark, sf_dir: str, table: str):
    return spark.table(_ensure_bucketed(spark, sf_dir, table))


def _events(spark, sf_dir: str, *cols):
    """The user-bucketed events table, projected to ``cols``."""
    return _bucketed_table(spark, sf_dir, "events").select(*cols)


# The user-keyed window or rollup of each events query consumes the
# bucket distribution directly — no Exchange before it (the layout
# shuffle was paid once at write time); only the small per-path,
# per-cell or per-(cohort, offset) reduce still shuffles.
QUERIES = {
    "q3_top_orders_bucketed": QuerySpec(
        q3_top_orders,
        Q3_SQL,
        "TPC-H Q3 over orderkey-bucketed lineitem+orders (zero join-side Exchange)",
    ),
    "user_sessions_gap30_bucketed": QuerySpec(
        lambda spark, sf_dir: sessions_from(_events(spark, sf_dir, "user_id", "ts", "event_id")),
        SESSIONS_GAP_SQL,
        "gap sessionization over user-bucketed events (Exchange-free window)",
    ),
    "retention_cohorts_bucketed": QuerySpec(
        lambda spark, sf_dir: retention_from(
            _events(spark, sf_dir, "user_id", F.to_date("ts").alias("d"))
        ),
        RETENTION_SQL,
        "retention matrix over user-bucketed events (Exchange-free user rollup)",
    ),
    "funnel_top_paths_bucketed": QuerySpec(
        lambda spark, sf_dir: top_paths_from(
            _events(spark, sf_dir, "user_id", "ts", "event_id", "event_type")
        ),
        TOP_PATHS_SQL,
        "trigram journeys over user-bucketed events (Exchange-free window)",
    ),
    "events_markov_transitions_bucketed": QuerySpec(
        lambda spark, sf_dir: markov_from(
            _events(spark, sf_dir, "user_id", "ts", "event_id", "event_type")
        ),
        MARKOV_SQL,
        "Markov transitions over user-bucketed events (Exchange-free lead window)",
    ),
}
