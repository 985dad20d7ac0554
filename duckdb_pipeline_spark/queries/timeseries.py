"""Time-series & statistics surface: gap-filled resampling, exact
correlation, deterministic hash sampling, histogram binning — all
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import QuerySpec
from .common import DAVG, load


def timeseries_gap_fill(spark, sf_dir):
    """Resample to an hourly spine with zero-fill: generate the full
    hour sequence between min and max event time, left-join the hourly
    counts, fill gaps with 0 — the standard dense-timeline transform
    (a per-series sequence+explode, no driver-side loop)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # Round-9 single-pass spine (was: a SECOND full corpus aggregation
    # for min/max + a spine-vs-hourly join): date_trunc(min(ts)) ==
    # min(date_trunc(ts)), so the spine is derivable from the hourly
    # table itself — each hourly row emits its own hour plus the
    # zero-fill hours up to the NEXT observed hour (lead over the
    # hours-scale table; single-partition is fine, the row count is
    # the timeline length, not the corpus). One corpus aggregation,
    # no join, identical output.
    w = Window.orderBy("h")
    return (
        hourly.withColumn("nxt", F.lead("h").over(w))
        .select(
            "h",
            "n",
            F.explode(
                F.expr(
                    "sequence(h, coalesce(nxt - INTERVAL 1 HOUR, h),"
                    " INTERVAL 1 HOUR)"
                )
            ).alias("hour_ts"),
        )
        .select(
            "hour_ts",
            F.when(F.col("hour_ts") == F.col("h"), F.col("n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_events"),
        )
    )


GAP_FILL_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
)
SELECT hour_ts, COALESCE(n, 0) AS n_events
FROM spine LEFT JOIN hourly ON hour_ts = h
"""


def agg_corr_exact(spark, sf_dir):
    """Pearson correlation from exact integer fixed-point sums (the
    engines' streaming corr() kernels are not bit-identical; building
    the co-moments from exact sums and applying one shared formula
    is). quantity/extendedprice scale-4 fixed point keeps every sum a
    bigint."""
    li = load(spark, sf_dir, "lineitem")
    # scale 100: both columns have 2 decimal digits, so the fixed-point
    # values are exact; squared-term sums exceed int64 at sf>=0.1, so
    # they accumulate as decimal(38,0) (exact, = DuckDB's HUGEINT sum)
    # floor(v+0.5) == round(v) for these exact-2-decimal columns and
    # skips Round's per-row BigDecimal (queries/common.py dsum_fp note)
    x = F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    dec = "decimal(38,0)"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast(dec), F.col("sy").cast(dec)
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((n * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
    )
    return g.select("l_returnflag", "n", (num / den).alias("corr_qty_price"))


CORR_SQL = """
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
         SUM(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)) AS sxx,
         SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS syy,
         SUM(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
         AS corr_qty_price
FROM s
"""


def sample_hash_deterministic(spark, sf_dir):
    """Deterministic ~1/16 sample: keep rows whose md5(key) starts with
    a fixed hex character. Unlike TABLESAMPLE/rand(), this is stable
    across engines, partitionings, and reruns — the reproducible-subset
    primitive for large-pipeline experiments; sampling rate scales by
    prefix length."""
    orders = load(spark, sf_dir, "orders")
    keep = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "a"
    return orders.where(keep).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled"),
    )


SAMPLE_SQL = """
SELECT o_orderstatus, count(*) AS n_sampled
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'a'
GROUP BY o_orderstatus
"""


def histogram_prices(spark, sf_dir):
    """Fixed-width histogram of order totals (width_bucket shape):
    integer bucket index per row, count per bucket."""
    orders = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50_000).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", F.col("bucket") * 50_000)
    )


HIST_SQL = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, count(*) AS n,
       CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS lo
FROM orders GROUP BY 1
"""


def funnel_view_to_purchase(spark, sf_dir):
    """Funnel conversion: per user, views followed by that user's next
    purchase within 10 minutes. One window pass (the as-of pattern in
    reverse: carry the next purchase time back over earlier events) —
    no self-join explosion."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    flagged = ev.withColumn("next_purchase_ts", next_purchase)
    views = flagged.where(F.col("event_type") == "view")
    # microsecond epochs on both sides: second-truncation (cast long)
    # vs DuckDB's fractional epoch() would disagree at the boundary
    converted = F.when(
        F.col("next_purchase_ts").isNotNull()
        & (
            (F.unix_micros("next_purchase_ts") - F.unix_micros("ts"))
            <= 600 * 1_000_000
        ),
        1,
    ).otherwise(0)
    return views.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum(converted).alias("n_converted"),
    )


FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'purchase')
),
flagged AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
  FROM ev
)
SELECT user_id, count(*) AS n_views,
       CAST(SUM(CASE WHEN next_purchase_ts IS NOT NULL
                 AND epoch_us(next_purchase_ts) - epoch_us(ts) <= 600 * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM flagged WHERE event_type = 'view'
GROUP BY user_id
"""


def timeseries_ewma(spark, sf_dir):
    """EWMA smoothing of the daily mean event value per event type —
    the true sequential recurrence ``e_0 = x_0; e_t = 0.5*x_t +
    0.5*e_{t-1}`` (pandas ewm adjust=False semantics), run per series
    in an Arrow-batched applyInPandas numpy loop; the oracle computes
    the identical recurrence with a recursive CTE.

    Cross-engine determinism: alpha = 1/2 makes each step IEEE-stable
    under ANY formulation — 0.5*x and 0.5*e are exact halvings, so
    ``0.5*x + 0.5*e``, ``(x + e)/2``, and ``fma(0.5, x, 0.5*e)`` all
    round identically — and the recursion visits rows in the same
    ascending-day order in both engines, so the series is bitwise
    equal. (Measured negative result: the closed-form window-sum
    formulation ``0.5 * sum(x_i*2^i) / 2^t`` is NOT cross-engine
    stable — DuckDB aggregates window frames with a segment tree, so
    the additions associate differently: 7e-15 diffs at sf0.01.)

    Scale shape: a grouped sequential recurrence is the applyInPandas
    case (few series, each a bounded ordered vector); the groupBy
    ships one series to one worker, the loop is O(days)."""
    import numpy as np
    import pandas as pd

    from .common import davg_fp

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(davg_fp("value").alias("x"))

    def ewma_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        x = pdf["x"].to_numpy()
        e = np.empty_like(x)
        for i in range(len(x)):
            e[i] = x[i] if i == 0 else 0.5 * x[i] + 0.5 * e[i - 1]
        pdf["ewma"] = e
        return pdf

    return daily.groupBy("event_type").applyInPandas(
        ewma_series, schema="event_type string, d timestamp, x double, ewma double"
    )


EWMA_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, {DAVG('value')} AS x,
         row_number() OVER (PARTITION BY event_type ORDER BY date_trunc('day', ts)) AS rn
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
r AS (
  SELECT event_type, d, x, rn, x AS ewma FROM daily WHERE rn = 1
  UNION ALL
  SELECT dd.event_type, dd.d, dd.x, dd.rn, 0.5 * dd.x + 0.5 * r.ewma
  FROM daily dd JOIN r ON dd.event_type = r.event_type AND dd.rn = r.rn + 1
)
SELECT event_type, d, x, ewma FROM r
"""


def timeseries_resample_ohlc(spark, sf_dir):
    """Downsample the event stream to hourly OHLC bars per event type
    (open/high/low/close + count): first/last by (ts, event_id) — the
    unique tiebreak makes open/close deterministic — via one window
    pass, then the bar aggregation. The window and the groupBy share
    the (event_type, hour-truncated ts) shuffle key."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        "h",
        "value",
        F.first("value").over(w).alias("open_v"),
        F.last("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("close_v"),
    )
    return o.groupBy("event_type", "h").agg(
        F.min("open_v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min("close_v").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


OHLC_SQL = """
WITH o AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value,
         first_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS open_v,
         last_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
  FROM events
)
SELECT event_type, h,
       min(open_v) AS open, max(value) AS high, min(value) AS low,
       min(close_v) AS close, count(*) AS n_events
FROM o GROUP BY event_type, h
"""


def funnel_top_paths(spark, sf_dir):
    """Top-10 three-step user journeys: per user in event order, each
    consecutive event-type trigram (path) counted corpus-wide — the
    path-analysis query behind funnel design. ONE user-keyed window
    shuffle builds the trigrams with two lags (no self-joins), a
    partial-aggregated count reduces them, TakeOrdered finishes. At
    100 TB the window partitions by user (bounded per-user history);
    path cardinality is |event_types|^3 — tiny — so the count shuffle
    is map-side-compressed to almost nothing."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return top_paths_from(ev)


def top_paths_from(ev):
    """Trigram tail shared by `funnel_top_paths` and its bucketed twin
    (ev: user_id, ts, event_id, event_type)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # both lags must evaluate over the SAME unfiltered window — filter
    # first and the lags re-run over the filtered rows, shifting every
    # journey at the partition head
    steps = (
        ev.withColumn("a", F.lag("event_type", 2).over(w))
        .withColumn("b", F.lag("event_type", 1).over(w))
        # all three legs non-null: concat_ws SKIPS nulls (Spark) where
        # || propagates them (DuckDB) — a null event_type would
        # otherwise form different paths per engine
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


TOP_PATHS_SQL = """
WITH s AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS a,
         lag(event_type, 1) OVER w AS b,
         event_type AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a || '>' || b || '>' || c AS path, count(*) AS n_journeys
FROM s WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
GROUP BY path
ORDER BY n_journeys DESC, path ASC
LIMIT 10
"""


def user_sessions_gap30(spark, sf_dir):
    """Gap-based sessionization as a batch query (the classic lag +
    conditional cumsum): a new session starts when a user's inter-event
    gap exceeds 30 minutes; per user report session count, total
    events, and the LONGEST session's event count. ONE user-keyed
    window shuffle carries both the lag and the running session-id
    cumsum; the per-(user, session) and per-user rollups are map-side
    partial aggregations on the already-shuffled partitioning.
    Complements stream_session_30m (engine session_window) with the
    relational formulation every warehouse runs."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessions_from(ev)


def sessions_from(ev):
    """Sessionization tail shared by `user_sessions_gap30` and its
    bucketed twin (ev: user_id, ts, event_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "sess_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("longest_session_events"),
    )


SESSIONS_GAP_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM s
),
per_sess AS (
  SELECT user_id, sess_id, count(*) AS n FROM sess GROUP BY user_id, sess_id
)
SELECT user_id, count(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
       max(n) AS longest_session_events
FROM per_sess GROUP BY user_id
"""


def retention_from(ev):
    """Shared core of `retention_cohorts` and its bucketed twin
    (ev: user_id, d date).

    Round-8 day-mask rewrite (VERDICT r7 #3 — the overlap-matrix
    bit_or precedent): the per-user day set becomes ONE 64-bit mask,
    bit p = active on a day with pmod(unix_date, 64) == p (pmod, not
    %: Spark's % keeps the dividend sign, so pre-1970 dates would
    produce negative shifts and a silently-wrong mask). The WRAPPED
    anchoring is what keeps this a single pass: a global min-day
    anchor needs its own full scan (measured to cancel the win —
    0.86 s collect_set vs 1.01 s global-anchor at sf10), while mod-64
    residues of any 64 consecutive days are distinct, so per-user
    positions are unambiguous whenever the user's own span fits 64
    days — checked in-plan, with min/max riding the same aggregation.
    The user-keyed shuffle — the 10M-row exchange that dominates the
    plain plan and the residual cost of the bucketed one — now moves
    three 8-byte partials (min, max, bit_or) on Spark's long-backed
    aggregation fast path instead of collect_set array buffers (object
    agg + per-set serialization); the day-dedup is the idempotence of
    OR. Measured at sf10 (interleaved min-of-4): 0.71 s collect_set
    -> 0.53 s. Bits are unpacked by a broadcast nested-loop join
    against a 64-row offset table — whole-stage-codegen bit tests,
    not an interpreted higher-order function (the ADC lesson);
    day_offset = (bit - cohort_bit) mod 64.

    Spans beyond 64 days raise in-plan (raise_error): the
    scale-general variant shards the mask into (user, word) rows —
    same shape, bounded extra key cardinality — and is the documented
    extension; every corpus this repo declares is a 30-day window."""
    masks = (
        ev.groupBy("user_id")
        .agg(
            F.min("d").alias("cohort_day"),
            F.max("d").alias("dmax"),
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), pmod(unix_date(d), 64)))"
            ).alias("mask"),
        )
        .withColumn(
            "cb",
            F.expr(
                "CASE WHEN datediff(dmax, cohort_day) <= 63 THEN pmod(unix_date(cohort_day), 64) "
                "ELSE CAST(raise_error('retention day-mask supports per-user spans <= 64 days;"
                " shard the mask into (user, word) rows past that') AS INT) END"
            ),
        )
    )
    spark = ev.sparkSession
    offs = spark.range(0, 64).select(F.col("id").cast("int").alias("off"))
    return (
        masks.join(
            F.broadcast(offs), F.expr("(shiftright(mask, off) & 1) = 1")
        )
        .select(
            "cohort_day",
            F.pmod(F.col("off") - F.col("cb"), F.lit(64)).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def retention_cohorts(spark, sf_dir):
    """Daily-cohort retention matrix: users grouped by their FIRST
    active day; for each (cohort_day, day_offset) count the users
    active that many days later. See `retention_from` for the day-mask
    design; the count is the distinct-user count because a user's day
    is determined by the cell — no user occupies a cell twice."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    return retention_from(ev)


RETENTION_SQL = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, min(d) AS cohort_day FROM days GROUP BY user_id)
SELECT f.cohort_day, CAST(datediff('day', f.cohort_day, d.d) AS INTEGER) AS day_offset,
       count(*) AS n_users
FROM days d JOIN first f USING (user_id)
GROUP BY f.cohort_day, datediff('day', f.cohort_day, d.d)
"""


def scd2_user_attributes(spark, sf_dir):
    """Type-2 slowly-changing-dimension build from an event stream:
    per user, consecutive runs of the tracked attribute (event_type
    here) collapse into validity intervals (valid_from, valid_to,
    is_current) — the lakehouse dimension-table pattern (Kimball SCD2)
    that turns an append-only event log into an as-of-joinable
    dimension.

    Scale shape: gaps-and-islands — ONE Exchange on user_id serves
    the change-flag window, the running-group-id window, the interval
    aggregation, and the lead(valid_to) window (same partition key
    throughout; Spark reuses the partitioning). Orders by (ts,
    event_id) so ties are deterministic cross-engine."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    runs = ev.withColumn("grp", F.sum(chg).over(w))
    iv = runs.groupBy("user_id", "grp").agg(
        F.max("event_type").alias("attr_value"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("grp")
    return iv.select(
        "user_id",
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_events",
    )


SCD2_SQL = """
WITH runs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grps AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM runs
),
iv AS (
  SELECT user_id, grp, max(event_type) AS attr_value,
         min(ts) AS valid_from, count(*) AS n_events
  FROM grps GROUP BY user_id, grp
)
SELECT user_id, attr_value, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_events
FROM iv WINDOW w2 AS (PARTITION BY user_id ORDER BY grp)
"""


def scd2_asof_enrich(spark, sf_dir):
    """The consumer half of the SCD2 pattern: enrich purchase events
    with the user's attribute AS OF the event time (point-in-interval
    against the scd2_user_attributes dimension — the oracle states it
    as exactly that join).

    Round-9 join-elimination (VERDICT r8 #8 — the inline rebuild was
    the 2.7x sf10 weak-register entry): because the enriched purchases
    are drawn from the SAME event stream that defines the intervals,
    the interval containing a purchase at time t is, by the
    gaps-and-islands construction, the run of the (ts, event_id)-max
    event with ts <= t — so the whole enrich is ONE max_by window over
    a RANGE frame (all same-ts rows in frame, matching the dimension's
    half-open [valid_from, valid_to) tie semantics), on the same
    user_id partitioning the dimension build itself needed. The
    dimension never materializes and the purchase-side shuffle
    disappears: one Exchange end-to-end instead of dimension windows +
    an equi-join. Bitwise-identical to the join formulation (A/B'd
    row-for-row at sf0.1); measured sf10 2.51 -> 1.42 s (~1.5x the
    DuckDB twin — off the weak register). A join against a
    materialized bucketed dimension measured no faster (1.36 s vs
    1.37-1.42 s at sf10, BASELINE.md round-8 and round-9 addenda) and
    needs an at-rest layout, so this plan is the only one."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attr = F.expr("max_by(event_type, struct(ts, event_id))").over(w)
    enr = ev.withColumn("attr_value", attr).where(
        F.col("event_type") == "purchase"
    )
    return (
        enr.groupBy("attr_value", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.round(F.col("value"), 2)), 2).alias("revenue"),
        )
    )


SCD2_ASOF_SQL = """
WITH runs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grps AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM runs
),
iv AS (
  SELECT user_id, grp, max(event_type) AS attr_value, min(ts) AS valid_from
  FROM grps GROUP BY user_id, grp
),
dim AS (
  SELECT user_id, attr_value, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to
  FROM iv
),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT d.attr_value, CAST(date_trunc('day', p.ts) AS DATE) AS day,
       count(*) AS n_purchases,
       round(SUM(round(p.value, 2)), 2) AS revenue
FROM p JOIN dim d ON p.user_id = d.user_id
WHERE p.ts >= d.valid_from AND (d.valid_to IS NULL OR p.ts < d.valid_to)
GROUP BY d.attr_value, day
"""


def timeseries_cusum_drift(spark, sf_dir):
    """CUSUM change-point detection per event type — the drift monitor
    a feature pipeline runs over its input stream. Kept EXACT: the
    classical cusum_k = sum_{j<=k}(x_j - mean) is rational, so both
    engines compute n * cusum_k = n * prefix_sum_k - k * total — pure
    int64 arithmetic on scale-2 fixed-point values (no float mean
    subtraction, no drift). Output per type: n, the max |scaled
    cusum| (exact), the timestamp where it peaks (earliest on ties),
    and the unscaled peak as ONE final IEEE division.

    Scale shape: a single per-type window would serialize each type
    through one task, so the prefix sum is TWO-PHASE (the
    corpus_pack_sequences sharding idea, plus an exact carry-in): per
    (type, day) partials aggregate first (map-side), a tiny window
    over the (type, day) spine produces each shard's exact integer
    carry-in offsets (broadcast back), and the in-shard running sum is
    a window partitioned by (type, day) — parallelism = types x days
    instead of types. Measured at sf10 (100M events): 8.9 -> 3.6 s
    (2.11x -> 1.2x DuckDB, min-of-3). Envelope: n * prefix_sum <=
    9.2e18 bounds n * sum|x| at ~3e5-row types for scale-2 values <=
    330 — the audit runs per partition-day at real scale, not over an
    unbounded stream."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_date(F.to_date("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    xi = F.floor(F.col("value") * 100 + F.lit(0.5))
    # int64 envelope guard (fail fast, both engines agree on failure):
    # every product below is bounded by n * sum|xi| — past ~2^63 Spark
    # (non-ANSI) would wrap silently where DuckDB raises. assert_true
    # is folded into `n` (value-preserving +0) so Catalyst can't prune
    # it; the check runs once per event_type, not per row.
    tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(F.abs(xi)).alias("sabs"),
    )
    envelope_ok = (
        F.col("n").cast("double") * F.col("sabs").cast("double") < F.lit(float(2**62))
    )
    guard = F.coalesce(
        F.assert_true(
            envelope_ok,
            F.lit("cusum int64 envelope exceeded: n * sum|scaled value| >= 2^62"),
        ).cast("long"),
        F.lit(0),
    )
    tot = tot.select(
        "event_type", (F.col("n") + guard).alias("n"), "sx"
    )
    # phase 1: per-(type, day) partials -> exact carry-in offsets over
    # the tiny shard spine (types x days rows)
    shard_tot = ev.groupBy("event_type", "day").agg(
        F.sum(xi).alias("ssum"), F.count(F.lit(1)).alias("scnt")
    )
    wo = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    offs = shard_tot.select(
        "event_type",
        "day",
        (F.sum("ssum").over(wo) - F.col("ssum")).alias("ps_off"),
        (F.sum("scnt").over(wo) - F.col("scnt")).alias("k_off"),
    )
    # phase 2: in-shard running sums, parallel across (type, day)
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wk = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    pref = ev.select(
        "event_type",
        "day",
        "ts",
        F.sum(xi).over(w).alias("psl"),
        F.row_number().over(wk).cast("long").alias("kl"),
    )
    scaled = (
        pref.join(F.broadcast(offs), ["event_type", "day"])
        .select(
            "event_type",
            "ts",
            (F.col("psl") + F.col("ps_off")).alias("ps"),
            (F.col("kl") + F.col("k_off")).alias("k"),
        )
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "ts",
            F.col("n").alias("tot_n"),
            F.abs(F.col("n") * F.col("ps") - F.col("k") * F.col("sx")).alias("sc"),
        )
    )
    scaled = scaled.persist()
    mx = scaled.groupBy("event_type").agg(
        F.max("tot_n").alias("n"), F.max("sc").alias("max_scaled")
    )
    best = (
        scaled.alias("s")
        .join(
            F.broadcast(mx.alias("m")),
            (F.col("s.event_type") == F.col("m.event_type"))
            & (F.col("s.sc") == F.col("m.max_scaled")),
        )
        .groupBy(F.col("m.event_type").alias("event_type"), "n", "max_scaled")
        .agg(F.min("ts").alias("ts_at_peak"))
    )
    return best.select(
        "event_type", "n", "max_scaled", "ts_at_peak",
        (
            F.col("max_scaled").cast("double")
            / F.lit(100.0)
            / F.col("n").cast("double")
        ).alias("peak_cusum"),
    )


CUSUM_SQL = """
WITH tot AS (
  SELECT event_type, count(*) AS n,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sx
  FROM events GROUP BY event_type
),
pref AS (
  SELECT event_type, ts,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS k
  FROM events
),
scaled AS (
  SELECT p.event_type, p.ts, t.n,
         abs(t.n * p.ps - p.k * t.sx) AS sc
  FROM pref p JOIN tot t USING (event_type)
),
mx AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(max(sc) AS BIGINT) AS max_scaled
  FROM scaled GROUP BY event_type
)
SELECT m.event_type, m.n, m.max_scaled,
       (SELECT min(s.ts) FROM scaled s
        WHERE s.event_type = m.event_type AND s.sc = m.max_scaled)
         AS ts_at_peak,
       CAST(m.max_scaled AS DOUBLE) / 100.0 / CAST(m.n AS DOUBLE)
         AS peak_cusum
FROM mx m
"""


def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over user event streams:
    P(next event type | current) with exact counts — the
    behavioral-model readout next to funnel_top_paths' raw journeys
    (paths count specific trigrams; this normalizes ALL pairwise
    transitions into a stochastic matrix). Output: (cur, nxt, n, p)
    where p = n / row_total is ONE IEEE divide on exact longs.

    Scale shape: one user-keyed window (lead), one bounded groupBy
    (|types|^2 cells), row totals re-derived from the cells and
    broadcast back — the corpus shuffles once on user_id."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return markov_from(ev)


def markov_from(ev):
    """Markov tail shared by the plain query and its bucketed twin
    (the `retention_from` pattern): user-keyed lead window -> bounded
    (cur, nxt) cells -> broadcast row totals."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = pairs.groupBy("cur").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(row_tot), "cur")
        .select(
            "cur", "nxt", "n",
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
        )
    )


MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
cells AS (
  SELECT cur, nxt, count(*) AS n FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2
),
row_tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM cells GROUP BY cur)
SELECT c.cur, c.nxt, c.n, CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
FROM cells c JOIN row_tot t USING (cur)
"""


QUERIES = {
    "scd2_user_attributes": QuerySpec(
        scd2_user_attributes,
        SCD2_SQL,
        "SCD2 dimension build (gaps-and-islands, one Exchange on user_id)",
    ),
    "scd2_asof_enrich": QuerySpec(
        scd2_asof_enrich,
        SCD2_ASOF_SQL,
        "as-of interval join of purchases against the SCD2 dimension",
    ),
    "funnel_view_to_purchase": QuerySpec(
        funnel_view_to_purchase, FUNNEL_SQL, "windowed funnel conversion"
    ),
    "funnel_top_paths": QuerySpec(
        funnel_top_paths, TOP_PATHS_SQL, "top event-type trigram journeys"
    ),
    "user_sessions_gap30": QuerySpec(
        user_sessions_gap30,
        SESSIONS_GAP_SQL,
        "lag-gap sessionization (batch twin of session windows)",
    ),
    "retention_cohorts": QuerySpec(
        retention_cohorts, RETENTION_SQL, "daily-cohort retention matrix"
    ),
    "timeseries_gap_fill": QuerySpec(timeseries_gap_fill, GAP_FILL_SQL, "hourly spine zero-fill"),
    "events_markov_transitions": QuerySpec(
        events_markov_transitions,
        MARKOV_SQL,
        "first-order Markov transition matrix over user event streams",
    ),
    "timeseries_cusum_drift": QuerySpec(
        timeseries_cusum_drift,
        CUSUM_SQL,
        "exact CUSUM change-point per event type (integer n*cusum, no float mean)",
    ),
    "agg_corr_exact": QuerySpec(agg_corr_exact, CORR_SQL, "exact-sum Pearson corr"),
    "sample_hash_deterministic": QuerySpec(
        sample_hash_deterministic, SAMPLE_SQL, "deterministic hash sample"
    ),
    "histogram_prices": QuerySpec(histogram_prices, HIST_SQL, "fixed-width histogram"),
    "timeseries_ewma": QuerySpec(
        timeseries_ewma, EWMA_SQL, "EWMA smoothing (dyadic closed form)"
    ),
    "timeseries_resample_ohlc": QuerySpec(
        timeseries_resample_ohlc, OHLC_SQL, "hourly OHLC downsample"
    ),
}
