"""Reference-pipeline parity queries, mapped onto the driver's `events`
table (the gharchive stand-in — same shape class: id, timestamp, actor,
type, payload; TESTDATA.md).

Covers SURVEY.md §2.3-2.4: projection+rename (P1), payload field
extraction (P2 analog — JSON props instead of structs), CAST (P3),
DATE_TRUNC→DATE (P4), COUNT(*) (A1), GROUP BY ALL (A2).

Scale notes: the daily/hourly rollups shuffle once on the group keys
(partial aggregation map-side first); key cardinality = types × days —
never skewed. The clean projection is shuffle-free and column-pruned at
the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import layouts
from . import QuerySpec
from .common import load


def clean_events(spark, sf_dir):
    """P1/P2/P3: projection + rename + JSON payload extract + cast.

    Mirrors clean_raw_gharchive
    (/root/reference/data_lake_transformer.py:92-104): prune the wide
    record, flatten the payload, pass the timestamp through.
    """
    return load(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("ts").alias("event_ts"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.col("value").alias("event_value"),
    )


CLEAN_EVENTS_SQL = """
SELECT event_id,
       user_id,
       event_type,
       ts AS event_ts,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       value AS event_value
FROM events
"""


def gold_daily_agg(spark, sf_dir):
    """A1/A2/P4: the gold daily roll-up shape (GROUP BY ALL + count),
    with DuckDB's DATE_TRUNC('day')->DATE semantics via to_date
    (/root/reference/data_lake_transformer.py:116-126)."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.to_date(F.col("ts").cast("timestamp")).alias("event_date")
        )
        .groupBy("event_type", "event_date")
        .agg(F.count(F.lit(1)).alias("event_count"))
    )


GOLD_DAILY_SQL = """
SELECT event_type,
       DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS event_date,
       count(*) AS event_count
FROM events
GROUP BY ALL
"""


def hourly_type_counts(spark, sf_dir):
    """Hourly batch granularity (the pipeline's cadence): TIMESTAMP
    date_trunc, distinct users per hour per type."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("event_hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS event_hour,
       event_type,
       count(*) AS event_count,
       count(DISTINCT user_id) AS unique_users
FROM events
GROUP BY ALL
"""


QUERIES = {
    "pipeline_clean_events": QuerySpec(clean_events, CLEAN_EVENTS_SQL, "silver clean projection"),
    "pipeline_gold_daily_agg": QuerySpec(gold_daily_agg, GOLD_DAILY_SQL, "gold daily rollup"),
    "pipeline_hourly_type_counts": QuerySpec(hourly_type_counts, HOURLY_SQL, "hourly rollup + ndv"),
}


# ---------------------------------------------------------------------------
# Versioned-table surface (sinks.write_version family) as declared queries:
# time travel + snapshot CDC (VERDICT r9 #5 — was pytest-only)
# ---------------------------------------------------------------------------


def _customer_versions(spark, sf_dir: str):
    """v1 = the customer snapshot (balance in exact cents); v2 =
    deletes (c_custkey % 97 == 0), updates (BUILDING segment +1000
    cents) and inserts (% 101 == 0 re-keyed +1,000,000). The oracle
    twins are _V1_SQL / _V2_SQL."""
    cust = load(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    v2 = (
        v1.where(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "bal_cents",
            F.col("bal_cents")
            + F.when(F.col("c_mktsegment") == "BUILDING", F.lit(1000)).otherwise(
                F.lit(0)
            ),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.col("c_custkey").cast("long").alias("bal_cents"),
            )
        )
    )
    return v1, v2


def _ensure_versioned_customers(spark, sf_dir: str) -> str:
    """Build (once per corpus version) the 2-version customer table
    (`_customer_versions`, written by `sinks.write_version`). The CDC
    diff and time-travel oracles are plain SQL over `customer`."""
    from ..sinks import write_version

    def build(root: str) -> None:
        v1, v2 = _customer_versions(spark, sf_dir)
        assert write_version(v1, root) == 1
        assert write_version(v2, root) == 2

    return layouts.ensure(spark, "versioned_cust", sf_dir, ["customer"], {"v": 1}, build)


_V1_SQL = """
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
"""

_V2_SQL = """
  SELECT c_custkey, c_mktsegment,
         bal_cents + CASE WHEN c_mktsegment = 'BUILDING' THEN 1000 ELSE 0 END AS bal_cents
  FROM v1 WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey,
         'NEWSEG' AS c_mktsegment,
         CAST(c_custkey AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey % 101 = 0
"""


def snapshot_cdc_diff(spark, sf_dir):
    """Snapshot CDC between two committed versions of the versioned
    customer table: `sinks.read_version_diff` classifies every row as
    insert / delete / update through ONE presence-marked eqNullSafe
    full-outer join on the key — the incremental-read primitive a
    downstream consumer uses instead of reprocessing the snapshot.
    Scale shape: one key-partitioned join of exactly two snapshot
    dirs (manifest-resolved; never a full-history scan). The oracle
    reconstructs both versions from `customer` and replays the diff
    in SQL — the versioned dir itself is Spark-only state."""
    from ..sinks import read_version_diff

    root = _ensure_versioned_customers(spark, sf_dir)
    return read_version_diff(spark, root, 1, 2, keys=["c_custkey"])


SNAPSHOT_CDC_SQL = f"""
WITH v1 AS ({_V1_SQL}),
v2 AS ({_V2_SQL}),
j AS (
  SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
         CASE WHEN n.c_custkey IS NULL THEN o.c_mktsegment
              ELSE n.c_mktsegment END AS c_mktsegment,
         CASE WHEN n.c_custkey IS NULL THEN o.bal_cents
              ELSE n.bal_cents END AS bal_cents,
         CASE WHEN o.c_custkey IS NULL THEN 'insert'
              WHEN n.c_custkey IS NULL THEN 'delete'
              WHEN (n.c_mktsegment IS DISTINCT FROM o.c_mktsegment)
                OR (n.bal_cents IS DISTINCT FROM o.bal_cents) THEN 'update'
         END AS _change
  FROM v2 n FULL OUTER JOIN v1 o ON n.c_custkey = o.c_custkey
)
SELECT c_custkey, c_mktsegment, bal_cents, _change
FROM j WHERE _change IS NOT NULL
"""


def read_version_pinned(spark, sf_dir):
    """Time-travel read at a PINNED version: v1 is read back (manifest
    lookup -> one snapshot dir scan, later versions invisible) AFTER
    v2 was committed, then rolled up per segment. The oracle rebuilds
    v1 from `customer`; any leakage of v2's deletes/updates/inserts
    into the pinned read breaks the hash."""
    from ..sinks import read_version

    root = _ensure_versioned_customers(spark, sf_dir)
    return (
        read_version(spark, root, version=1)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").alias("sum_bal_cents"),
        )
    )


READ_VERSION_PINNED_SQL = f"""
WITH v1 AS ({_V1_SQL})
SELECT c_mktsegment, count(*) AS n_rows,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents
FROM v1 GROUP BY c_mktsegment
"""


def mv_incremental_maintain(spark, sf_dir):
    """Incremental materialized-view maintenance from snapshot CDC:
    the per-segment aggregate (row count, balance sum) of v1 is
    advanced to v2 by APPLYING THE DELTA ONLY — retract the old row,
    apply the new row, per CDC change — never recomputing the MV from
    the new snapshot. The oracle is the FULL RECOMPUTE over v2, so any
    error in the maintenance algebra (missed retraction, segment move,
    empty-group cleanup) breaks the hash — the same
    incremental-equals-recompute protocol as
    `dedup_components_incremental`.

    Scale shape: base is the v1 aggregate (in production the stored MV,
    a group-cardinality relation — not a scan); deltas are one groupBy
    over the CDC diff, bounded by CHURN rather than table size; the
    merge is a full-outer join of two aggregate-sized relations on the
    group key. This is the delta-maintenance identity (insert -> +new,
    delete -> -old, update -> -old +new) that makes an MV affordable at
    100 TB when churn << table size."""
    from ..sinks import read_version, read_version_diff

    root = _ensure_versioned_customers(spark, sf_dir)
    base = (
        read_version(spark, root, 1)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").alias("s"),
        )
        .select(F.col("c_mktsegment").alias("bseg"), "n", "s")
    )
    diff = read_version_diff(
        spark, root, 1, 2, keys=["c_custkey"], keep_old=True
    )
    # one pass over the diff: each change row explodes into its apply
    # (non-delete: +new) and retract (non-insert: -old) delta halves
    apply_half = F.when(
        F.col("_change") != "delete",
        F.struct(
            F.col("c_mktsegment").alias("seg"),
            F.lit(1).cast("long").alias("dn"),
            F.col("bal_cents").alias("ds"),
        ),
    )
    retract_half = F.when(
        F.col("_change") != "insert",
        F.struct(
            F.col("_old_c_mktsegment").alias("seg"),
            F.lit(-1).cast("long").alias("dn"),
            (-F.col("_old_bal_cents")).alias("ds"),
        ),
    )
    deltas = (
        diff.select(
            F.explode(
                F.filter(
                    F.array(apply_half, retract_half), lambda x: x.isNotNull()
                )
            ).alias("d")
        )
        .groupBy(F.col("d.seg").alias("dseg"))
        .agg(F.sum("d.dn").alias("dn"), F.sum("d.ds").alias("ds"))
    )
    return (
        base.join(deltas, F.col("bseg").eqNullSafe(F.col("dseg")), "full_outer")
        .select(
            F.coalesce("bseg", "dseg").alias("c_mktsegment"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_rows"
            ),
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias(
                "sum_bal_cents"
            ),
        )
        .where(F.col("n_rows") > 0)
    )


MV_INCREMENTAL_SQL = f"""
WITH v1 AS ({_V1_SQL}),
v2 AS ({_V2_SQL})
SELECT c_mktsegment, count(*) AS n_rows,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents
FROM v2 GROUP BY c_mktsegment
"""


def snapshot_drift_report(spark, sf_dir):
    """Snapshot-over-snapshot drift report: profile the SAME exact
    statistics (row count, segment cardinality, balance sum/min/max,
    negative-balance count) over two committed versions of the
    versioned customer table and flag metrics that moved more than 5%
    — the ops gate a pipeline runs after every snapshot commit to
    catch a bad upstream batch BEFORE it serves (the between-versions
    complement of `quality_expectations_gate`'s single-table checks).

    Scale shape: two aggregate-only scans (one per snapshot dir,
    manifest-resolved — never full history), each folding to ONE row
    map-side; the unpivot+join runs on 6-row relations. All metrics
    are exact integers, and the 5% flag is exact integer arithmetic
    (|v2-v1|*100 > 5*|v1| — no float division), so the report is
    bitwise-stable at any scale."""
    from ..sinks import read_version

    root = _ensure_versioned_customers(spark, sf_dir)

    _METRICS = (
        "n_rows", "n_segments", "sum_bal_cents",
        "min_bal_cents", "max_bal_cents", "n_negative",
    )

    def prof(df, out):
        one = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.sum("bal_cents").alias("sum_bal_cents"),
            F.min("bal_cents").alias("min_bal_cents"),
            F.max("bal_cents").alias("max_bal_cents"),
            F.sum(
                F.when(F.col("bal_cents") < 0, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_negative"),
        )
        pairs = ", ".join(f"'{m}', cast({m} as bigint)" for m in _METRICS)
        return one.selectExpr(
            f"stack({len(_METRICS)}, {pairs}) AS (metric, {out})"
        )

    p1 = prof(read_version(spark, root, 1), "v1")
    p2 = prof(read_version(spark, root, 2), "v2")
    return p1.join(p2, "metric").select(
        "metric",
        "v1",
        "v2",
        (F.col("v2") - F.col("v1")).alias("delta"),
        (
            F.abs(F.col("v2") - F.col("v1")) * F.lit(100)
            > F.abs(F.col("v1")) * F.lit(5)
        ).alias("drift_gt_5pct"),
    )


_DRIFT_PROF_SQL = """
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
         CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
         CAST(MIN(bal_cents) AS BIGINT) AS min_bal_cents,
         CAST(MAX(bal_cents) AS BIGINT) AS max_bal_cents,
         CAST(SUM(CASE WHEN bal_cents < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
  FROM {src}
"""

_DRIFT_UNPIVOT_SQL = """
  SELECT u.metric, u.{out}
  FROM {prof},
  LATERAL (VALUES
    ('n_rows', n_rows), ('n_segments', n_segments),
    ('sum_bal_cents', sum_bal_cents), ('min_bal_cents', min_bal_cents),
    ('max_bal_cents', max_bal_cents), ('n_negative', n_negative)
  ) AS u(metric, {out})
"""

SNAPSHOT_DRIFT_SQL = f"""
WITH v1 AS ({_V1_SQL}),
v2 AS ({_V2_SQL}),
prof1 AS ({_DRIFT_PROF_SQL.format(src='v1')}),
prof2 AS ({_DRIFT_PROF_SQL.format(src='v2')}),
u1 AS ({_DRIFT_UNPIVOT_SQL.format(prof='prof1', out='v1')}),
u2 AS ({_DRIFT_UNPIVOT_SQL.format(prof='prof2', out='v2')})
SELECT u1.metric, u1.v1, u2.v2, u2.v2 - u1.v1 AS delta,
       abs(u2.v2 - u1.v1) * 100 > abs(u1.v1) * 5 AS drift_gt_5pct
FROM u1 JOIN u2 USING (metric)
"""


def _ensure_vacuumed_customers(spark, sf_dir: str) -> str:
    """A SEPARATE 3-version customer table (v3 = v2 minus
    c_custkey % 3 == 0), vacuumed to keep=2 — so version 1 is pruned.
    Separate root from `_ensure_versioned_customers` because vacuum
    MUTATES table state and the CDC/time-travel queries need their v1.
    Built + vacuumed once per corpus version, so the audit query below
    is a pure READ and re-runs idempotently."""
    from ..sinks import vacuum_versions, write_version

    def build(root: str) -> None:
        v1, v2 = _customer_versions(spark, sf_dir)
        assert write_version(v1, root) == 1
        assert write_version(v2, root) == 2
        assert write_version(v2.where(F.col("c_custkey") % 3 != 0), root) == 3
        assert vacuum_versions(root, keep=2) == [1]

    return layouts.ensure(
        spark, "versioned_cust_vac", sf_dir, ["customer"], {"v": 1}, build
    )


def snapshot_vacuum_audit(spark, sf_dir):
    """Vacuum CONTRACT audit (VERDICT r10 missing #3 — was pytest-only):
    after `vacuum_versions(keep=2)` on a 3-version table, (a) the
    pruned version must be UNRESOLVABLE (time travel to it raises —
    asserted at plan build; an unexpectedly-resolvable pruned version
    fails the query loudly), and (b) the kept versions must read back
    exactly. Output: one row per version with resolvability and the
    surviving snapshots' exact profile (row count, balance sum); the
    oracle reconstructs v2/v3 from `customer` and pins v1's row as
    unresolvable, so a vacuum that dropped the wrong snapshot or
    corrupted a kept one breaks the hash.

    Scale shape: manifest-resolved reads of exactly two snapshot dirs,
    each folding to one row map-side; the pruned check is one manifest
    lookup (no I/O against data files)."""
    from ..sinks import read_version

    root = _ensure_vacuumed_customers(spark, sf_dir)
    try:
        read_version(spark, root, 1)
        raise RuntimeError(
            "vacuum audit: pruned version 1 is still resolvable"
        )
    except ValueError:
        pass  # the contract: pruned versions are unresolvable
    pruned = spark.createDataFrame(
        [(1, False, 0, 0)],
        "version long, resolvable boolean, n_rows long, sum_bal_cents long",
    )
    kept = [
        read_version(spark, root, v).agg(
            F.lit(v).cast("long").alias("version"),
            F.lit(True).alias("resolvable"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").alias("sum_bal_cents"),
        ).select("version", "resolvable", "n_rows", "sum_bal_cents")
        for v in (2, 3)
    ]
    out = pruned
    for k in kept:
        out = out.unionByName(k)
    return out


SNAPSHOT_VACUUM_SQL = f"""
WITH v1 AS ({_V1_SQL}),
v2 AS ({_V2_SQL}),
v3 AS (SELECT * FROM v2 WHERE c_custkey % 3 <> 0)
SELECT CAST(1 AS BIGINT) AS version, FALSE AS resolvable,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS sum_bal_cents
UNION ALL
SELECT 2, TRUE, count(*), CAST(SUM(bal_cents) AS BIGINT) FROM v2
UNION ALL
SELECT 3, TRUE, count(*), CAST(SUM(bal_cents) AS BIGINT) FROM v3
"""


QUERIES.update(
    {
        "snapshot_cdc_diff": QuerySpec(
            snapshot_cdc_diff,
            SNAPSHOT_CDC_SQL,
            "versioned-table CDC: insert/delete/update classification between two snapshots",
        ),
        "read_version_pinned": QuerySpec(
            read_version_pinned,
            READ_VERSION_PINNED_SQL,
            "time-travel read at a pinned version after later commits",
        ),
        "mv_incremental_maintain": QuerySpec(
            mv_incremental_maintain,
            MV_INCREMENTAL_SQL,
            "incremental MV maintenance from CDC deltas == full recompute over v2",
        ),
        "snapshot_drift_report": QuerySpec(
            snapshot_drift_report,
            SNAPSHOT_DRIFT_SQL,
            "exact-stat drift report between two snapshot versions (5% gate)",
        ),
        "snapshot_vacuum_audit": QuerySpec(
            snapshot_vacuum_audit,
            SNAPSHOT_VACUUM_SQL,
            "post-vacuum contract: pruned version unresolvable, kept versions exact",
        ),
    }
)
