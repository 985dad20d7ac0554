"""Cross-engine determinism helpers.

The driver hash-compares Spark results against a DuckDB oracle
(BASELINE.md). Floating-point aggregation is the one place two correct
engines legitimately diverge (summation order). We eliminate the
divergence instead of rounding it away:

**decimal-exact idiom** — cast each double operand to DECIMAL(18,9)
(deterministic: decimal midpoints at scale 4 are not representable in
binary, so round-to-nearest never ties), SUM exactly in decimal, cast
the total back to double. Both engines then produce bitwise-identical
doubles regardless of partitioning / association order. Derived
divisions (averages, ratios) are single IEEE ops on identical inputs —
also bitwise-identical.

Spark side: ``dsum(expr)``; oracle side: ``DSUM('expr')`` emits the
matching SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.column import Column

DEC = "decimal(18,9)"
DEC_HI = "decimal(30,15)"  # for O(1)-magnitude products (similarity)


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec2double(c: Column) -> Column:
    """Deterministic decimal→double: split into integer part + fraction
    so each piece converts exactly-rounded in both engines (a direct
    cast of a wide decimal is off-by-one-ulp between Spark's BigDecimal
    path and DuckDB's int128/10^s float division — measured)."""
    i = F.floor(c)
    return i.cast("double") + (c - i).cast("double")


def dsum(col: str | Column, prec: str = DEC) -> Column:
    """Exact distributed sum of a double expression (see module doc)."""
    return dec2double(F.sum(_c(col).cast(prec)))


_B = 10**9
_M20 = (1 << 20) - 1


def dsum_fp(col: str | Column) -> Column:
    """Fast path for ``dsum`` on a SOURCE double column: long
    fixed-point sums instead of a BigDecimal accumulator (the decimal
    sum's >18-digit accumulator leaves the Long-backed fast path;
    measured ~4x slower per row).

    Bitwise-equal to ``dsum`` — and to the decimal-idiom oracle SQL —
    when the column has <= 9 decimal digits and |x| <= ~4e6 (all the
    money/quantity columns in this schema; sign is fine — the pmod
    quotient/remainder decomposition is exact for negatives too):

    - per row, round(x*1e9) recovers the exact scale-9 unscaled value:
      x*1e9 is within ~0.03 of the true integer n (|n| <= 4e15 < 2^53),
      so the nearest-int round is exact — the same n the decimal cast
      produces. Derived PRODUCTS (price*(1-disc)) are full-precision
      doubles where true half-way cases occur: keep those on ``dsum``.
    - the scale-9 value u is split into THREE long limbs base 2^20
      (bit ops, floor semantics for negatives: u>>k and u&mask).
      A 2-limb split by 1e9 would wrap its lo sum past ~9.2e9
      rows/group — inside the 100 TB envelope; a decimal accumulator
      fixes that but drops the sum off Spark's long-backed fast path
      (measured: q1 0.92s -> 1.5s at sf0.1). With 2^20 limbs each limb
      sum stays a long to ~8.8e12 rows/group, and every accumulator is
      a plain bigint SUM with map-side partials.
    - after aggregation (per GROUP, not per row) the three limb sums
      are carried to canonical base-2^20 digits and long-divided by
      1e9 exactly: each division step's numerator is an exact multiple
      of 1e9 below 2^53 except the first, whose quotient is an exact
      integer with double error << 0.5, so round() recovers it
      exactly. The result is rendered by the same floor+fraction split
      as D2D, so every IEEE operation sees identical operands in both
      engines.
    - the binding exactness bound is the final integer part fitting a
      long: rows/group <= ~9.2e18 / (1e9 * avg|x|) — for money columns
      (|x| <= 4e6) that is >= 2.3e12 rows in ONE group, i.e. TPC-H
      sf ~400k lineitem in a single global sum; past the envelope.
    """
    # floor(v + 0.5) instead of round(v): Spark's Round on a double
    # codegens a per-row java.math.BigDecimal setScale — measured 2.8x
    # the whole projection cost at sf0.1 (0.344 vs 0.122 s for the
    # 5-column q1 projection). Both recover the SAME integer n: v is
    # within ~0.03 of n (see above), so v + 0.5 lies in [n+0.47,
    # n+0.53] and floor is n — no half-way cases exist for either
    # form. Verified 0 mismatching rows across lineitem at sf0.1.
    u = F.floor(_c(col) * F.lit(1e9) + F.lit(0.5))
    sa = F.sum(F.shiftright(u, 40))
    sb = F.sum(F.shiftright(u, 20).bitwiseAND(F.lit(_M20)))
    sc = F.sum(u.bitwiseAND(F.lit(_M20)))
    # carry to canonical digits: 0 <= b3, c2 < 2^20
    c2 = sc.bitwiseAND(F.lit(_M20))
    b2 = sb + F.shiftright(sc, 20)
    b3 = b2.bitwiseAND(F.lit(_M20))
    a2 = sa + F.shiftright(b2, 20)
    # exact long division of (a2, b3, c2)_base-2^20 by 1e9
    r1 = F.pmod(a2, F.lit(_B))
    q1 = F.round((a2 - r1) / F.lit(_B)).cast("long")
    t2 = F.shiftleft(r1, 20) + b3
    r2 = F.pmod(t2, F.lit(_B))
    q2 = F.round((t2 - r2) / F.lit(_B)).cast("long")
    t3 = F.shiftleft(r2, 20) + c2
    r3 = F.pmod(t3, F.lit(_B))
    q3 = F.round((t3 - r3) / F.lit(_B)).cast("long")
    q = F.shiftleft(F.shiftleft(q1, 20) + q2, 20) + q3
    return q.cast("double") + r3.cast("double") / F.lit(1e9)


def davg_fp(col: str | Column) -> Column:
    """Fast-path exact average (see dsum_fp preconditions)."""
    return dsum_fp(col) / F.count(F.lit(1))


def dsum_fp2(col: str | Column) -> Column:
    """``dsum`` for a SOURCE column with <= 2 decimal digits
    (quantities): ONE long accumulator at scale 2 instead of dsum_fp's
    three scale-9 limbs. floor(x*100 + 0.5) recovers the exact scale-2
    unscaled value (same no-half-way argument as dsum_fp; |x| <= ~4e13
    for the double product to stay within 0.5 of the integer); a
    single bigint SUM is exact to the long range; the final S/100
    renders through the same floor+fraction decomposition as
    dec2double, so both engines see identical IEEE operands:
    i = floor(S/100) via pmod (floor semantics for negative totals),
    (S - r)/100.0 is an exact integer-valued double while |S| < 2^53
    (per-group |sum| <= ~9e13 units — astronomically above any real
    group), and r/100.0 is the correctly-rounded double of the exact
    fraction, same as the decimal fraction cast. Bitwise-equal to
    ``dsum``/the decimal-idiom oracle on that domain. Measured: q18's
    15M-group quantity fold 6.03 -> 2.65 s at sf10 (the 3-limb
    machinery was 2.4x the whole aggregation; bare count floor
    2.49 s)."""
    u = F.floor(_c(col) * F.lit(100) + F.lit(0.5)).cast("long")
    s = F.sum(u)
    r = F.pmod(s, F.lit(100))
    i = ((s - r) / F.lit(100.0)).cast("long")
    return i.cast("double") + r.cast("double") / F.lit(100.0)


# Measured and rejected (round 7): a dsum_fp_over(col, window) variant
# — the 3-limb idiom over a running window frame, bitwise-equal to the
# decimal running sum. A/B at sf0.1 on window_running_total: 0.45 s vs
# 0.45 s (min-of-5, same session) — a window's cost is its partition
# sort, not the aggregation buffer, so the limb fast path only pays in
# GROUPED aggregations (where it is 4x; see dsum_fp docstring).


def fixed_point_agg(
    df: DataFrame,
    keys: list[str],
    exprs: dict[str, Column],
    sums: dict[str, str],
    avgs: dict[str, str] | None = None,
    count_alias: str | None = None,
    order: list[str] | None = None,
) -> DataFrame:
    """Multi-column exact-sum aggregation with the scale-9 units
    PRE-PROJECTED once per row.

    ``dsum_fp`` inlines round(x*1e9) into each of its three limb-sum
    update expressions, and Spark's hash-aggregate codegen does not
    eliminate the common subexpression across aggregate buffers — for a
    q1-shaped 7-sum aggregation that triples the per-row multiply/round
    work in the (serial, scan-side) partial agg. Projecting ``u_k =
    round(e_k*1e9)`` in a parent Project node computes each unit value
    once; the aggregate updates are then plain shift/mask long sums.
    Measured: TPC-H q1 1.6s -> 1.33s at sf0.1 (same result bitwise).

    exprs: name -> source double expression (dsum_fp preconditions).
    sums: output alias -> expr name. avgs: output alias -> expr name
    (exact sum / COUNT(*), one IEEE divide). ``order``: final column
    order (defaults to keys + sums + avgs + count).

    The plan is constructed with ``F.expr``/``selectExpr`` strings, not
    Column compositions: the finish math is ~30 operator nodes per
    output column, and building each node through a py4j round-trip cost
    ~0.6 s of driver time per query at sf0.1 (measured round 5: q1 plan
    BUILD 0.78 s vs 1.0 s execute). String construction parses JVM-side
    in one call per step; the resulting expression tree -- and therefore
    the result, bitwise -- is identical.
    """
    u_cols = [
        # floor(v+0.5) == round(v) here and skips Round's per-row
        # BigDecimal (see dsum_fp) — the projection is the hot path
        F.floor(e * F.lit(1e9) + F.lit(0.5)).alias(f"__u_{k}")
        for k, e in exprs.items()
    ]
    proj = df.select(*[F.col(k) for k in keys], *u_cols)
    agg_exprs = []
    for k in exprs:
        agg_exprs += limb_agg_sql(k)
    agg_exprs.append("count(1) AS __n")
    g = proj.groupBy(*keys).agg(*[F.expr(s) for s in agg_exprs])

    cur = apply_limb_finish(g, ks=list(exprs))

    out: dict[str, str] = {k: k for k in keys}
    for alias, k in sums.items():
        out[alias] = f"__v_{k} AS {alias}"
    for alias, k in (avgs or {}).items():
        out[alias] = f"__v_{k} / __n AS {alias}"
    if count_alias:
        out[count_alias] = f"__n AS {count_alias}"
    names = order or list(out)
    return cur.selectExpr(*[out[n] for n in names])


def limb_agg_sql(k: str, u_col: str | None = None) -> list[str]:
    """The three limb-sum aggregate expression strings for unit column
    ``u_col`` (default ``__u_{k}``), aliased ``__a_{k}/__b_{k}/__c_{k}``
    — the re-aggregatable representation of an exact scale-9 sum (limb
    sums are plain longs: summing THEM later composes exactly, which is
    what makes two-level rollups possible without an Expand)."""
    u = u_col or f"__u_{k}"
    return [
        f"sum(shiftright({u}, 40)) AS __a_{k}",
        f"sum(shiftright({u}, 20) & {_M20}) AS __b_{k}",
        f"sum({u} & {_M20}) AS __c_{k}",
    ]


def apply_limb_finish(df: DataFrame, ks: list[str]) -> DataFrame:
    """Carry the aggregated limb sums ``__a_{k}/__b_{k}/__c_{k}`` to the
    canonical deterministic double ``__v_{k}`` for every k — layered
    selectExpr steps so each step only references the previous one
    (same math as the tail of ``dsum_fp``; Catalyst collapses the
    Projects).
    """
    B, M = _B, _M20
    steps = [
        [f"__c_{k} & {M} AS __c2_{k}" for k in ks]
        + [f"__b_{k} + shiftright(__c_{k}, 20) AS __bb_{k}" for k in ks],
        [f"__bb_{k} & {M} AS __b3_{k}" for k in ks]
        + [f"__a_{k} + shiftright(__bb_{k}, 20) AS __a2_{k}" for k in ks],
        [f"pmod(__a2_{k}, {B}) AS __r1_{k}" for k in ks],
        [f"cast(round((__a2_{k} - __r1_{k}) / {B}) as bigint) AS __q1_{k}" for k in ks]
        + [f"shiftleft(__r1_{k}, 20) + __b3_{k} AS __t2_{k}" for k in ks],
        [f"pmod(__t2_{k}, {B}) AS __r2_{k}" for k in ks],
        [f"cast(round((__t2_{k} - __r2_{k}) / {B}) as bigint) AS __q2_{k}" for k in ks]
        + [f"shiftleft(__r2_{k}, 20) + __c2_{k} AS __t3_{k}" for k in ks],
        [f"pmod(__t3_{k}, {B}) AS __r3_{k}" for k in ks],
        [f"cast(round((__t3_{k} - __r3_{k}) / {B}) as bigint) AS __q3_{k}" for k in ks],
        [
            f"cast(shiftleft(shiftleft(__q1_{k}, 20) + __q2_{k}, 20) + __q3_{k} as double)"
            f" + cast(__r3_{k} as double) / 1e9 AS __v_{k}"
            for k in ks
        ],
    ]
    cur = df
    for step in steps:
        cur = cur.selectExpr("*", *step)
    return cur


def D2D(expr: str) -> str:
    """SQL twin of dec2double."""
    return f"(CAST(FLOOR({expr}) AS DOUBLE) + CAST(({expr}) - FLOOR({expr}) AS DOUBLE))"


def DSUM(expr: str, prec: str = "DECIMAL(18,9)") -> str:
    return D2D(f"SUM(CAST({expr} AS {prec}))")


def DAVG(expr: str, prec: str = "DECIMAL(18,9)") -> str:
    return f"({DSUM(expr, prec)} / COUNT(*))"


def spread(df: DataFrame, bytes_per_split: int | None = None) -> DataFrame:
    """Re-split an under-parallel scan. A single-row-group parquet file
    yields ONE input split, serializing scan-side work (partial
    aggregation, join probes, explodes, Python map stages) on one core.
    When the plan has fewer splits than the session's
    ``defaultParallelism``, round-robin repartition to it; when the
    input is already well-split (any real-scale table), this is a
    no-op — so it never introduces a shuffle at 100 TB.

    This is the one re-split rule for every Python map kernel over a
    corpus: ``operators.dedup`` (``minhash_signatures_mapped``,
    ``minhash_bands_mapped``, ``shingle_sets_mapped``,
    ``simhash_fingerprints_mapped``) and ``operators.text.
    rolling_fingerprint`` call it on their (id, text) projection, so on
    well-split input each is a pure map stage.

    Split-count introspection is driver-side plan metadata only
    (``inputFiles`` + local file sizes), never ``df.rdd`` — converting
    to RDD materializes the Python lineage per call (round-5 ADVICE).
    Off the local filesystem (s3a/...) sizes are unknown and the input
    is assumed real-scale (no-op) — a conservative choice that can only
    skip an optimization, never add a 100 TB shuffle.

    ``bytes_per_split`` scales the target to the input instead of
    always going full-width: a 0.6 MB scan split 32 ways pays 32 task
    schedulings for microseconds of work each (measured: containment at
    sf0.1 2.0 s full-width vs ~1.1 s size-proportional), while the same
    query at sf1 wants all the width it can get. Pass the bytes of
    pre-expansion input one task should own (e.g. 256 KB for a ~100x
    explode)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    sizes = _local_file_sizes(df)
    if sizes is None:
        return df
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except (TypeError, ValueError):
        mpb = 128 * 1024 * 1024
    est = sum(max(1, -(-sz // mpb)) for sz in sizes)
    if bytes_per_split:
        target = min(target, max(1, -(-sum(sizes) // bytes_per_split)))
    if est < target:
        return df.repartition(target)
    return df


def input_bytes(df: DataFrame) -> int | None:
    """Total bytes of the plan's input files, or ``None`` when unknown
    (non-local FS, no file source). Driver-side plan metadata only —
    same introspection contract as :func:`spread` (never ``df.rdd``).
    Callers use this for size-adaptive decisions (e.g. persist vs
    re-scan); ``None`` must be treated as "real scale"."""
    sizes = _local_file_sizes(df)
    return sum(sizes) if sizes else None


def _local_file_sizes(df: DataFrame) -> list[int] | None:
    """Byte sizes of the plan's input files (``[]`` when it has no file
    source), or ``None`` when any of them is off the local filesystem
    or cannot be stat'ed."""
    try:
        files = df.inputFiles()
    except Exception:
        return []
    sizes = []
    for f in files:
        if not f.startswith("file:"):
            return None
        try:
            sizes.append(os.path.getsize(f[len("file:") :]))
        except OSError:
            return None
    return sizes


PERSIST_FLOOR_BYTES = 128 * 1024 * 1024  # see maybe_persist


def maybe_persist(df: DataFrame) -> DataFrame:
    """Scale-adaptive persist for DETERMINISTIC multi-consumer
    intermediates (optimization r14, guide §5: caching is only worth it
    when recomputing costs more than the pressure it creates).

    Spark runs independent plan branches as CONCURRENT stages inside
    one job, so below a scan-size floor a re-derived branch overlaps
    other work and costs near nothing, while a persist SERIALIZES the
    DAG at a materialization barrier (+0.1-0.3 s per site measured at
    sf0.1; the r14 bgc experiment measured +0.9 s for one persist).
    Once the input is large enough that the avoided re-derivation is a
    real pass over a big table, the persist (DISK_ONLY) wins.

    The floor, ``PERSIST_FLOOR_BYTES``, is the input size where one
    avoided re-scan roughly pays the barrier (~128 MiB at local disk
    throughput). Unknown input size (non-local FS) = real scale =
    persist — same conservative contract as
    :func:`spread`/:func:`input_bytes`. Note the local sf replicas'
    parquet compresses text ~2.6:1, so even the sf10 sweep inputs stay
    below the floor: local runs at every shipped scale take the
    re-derive path (measured faster), and the persist engages on
    deployments where the inputs are genuinely large.

    ONLY for deterministic plans: a nondeterministic intermediate
    (sampling, rand) must persist unconditionally or its consumers
    diverge."""
    from pyspark import StorageLevel

    total = input_bytes(df)
    if total is not None and total < PERSIST_FLOOR_BYTES:
        return df
    return df.persist(StorageLevel.DISK_ONLY)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table, normalizing timestamp physics so every
    downstream query sees plain ``timestamp`` columns:

    - TIMESTAMP(NANOS) parquet (driver rounds <= 3) reads as long under
      ``nanosAsLong`` — convert to microsecond instants, the same
      truncation DuckDB applies when it scans the file.
    - Timezone-less ``timestamp[us]`` parquet (driver round 4+) reads as
      TIMESTAMP_NTZ, which TIMESTAMP-only functions (``unix_micros``,
      ...) reject at analysis time. The session timezone is pinned UTC
      (``__spark_entry__``/``session.py``), so casting NTZ→TIMESTAMP
      preserves the instant exactly and matches DuckDB's naive reading.

    Normalizing here (not at call sites) keeps every current and future
    query NTZ-proof.

    Loads are memoized per session (the cache lives on the SparkSession
    object, so it dies with the session). This is the catalog role: a
    table is resolved once — file listing, schema read, normalization —
    and every query shares the analyzed relation. DataFrames are
    immutable, so sharing is safe; at sf0.1 repeated resolution was
    ~50-150 ms per table per query of pure driver RPC (measured round 5,
    a third of some queries' wall time; at real scale it amortizes to
    nothing, but the bench pays it 3x per query).
    """
    cache = getattr(spark, "_dps_load_cache", None)
    if cache is None:
        cache = {}
        spark._dps_load_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        simple = field.dataType.simpleString()
        if field.name == "ts" and simple == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif simple == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    cache[key] = df
    return df


def invalidate_source(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Make a SAME-SESSION rewrite of ``{sf_dir}/{name}.parquet``
    visible to subsequent plans: drop the memoized `load` relation
    (its analyzed plan pins the OLD file listing and schema), refresh
    Spark's file-status/FileIndex cache for the path, and clear
    CacheManager entries (persisted plans match by logical plan — same
    path — and would silently serve the old content; ADVICE r10).
    `layouts.ensure` calls this before every layout build. Across
    sessions none of these caches survive and this is a no-op."""
    cache = getattr(spark, "_dps_load_cache", None)
    if cache is not None:
        cache.pop((sf_dir, name), None)
    try:
        spark.catalog.refreshByPath(f"{sf_dir}/{name}.parquet")
    except Exception:
        pass  # path may not have been read yet this session
    spark.catalog.clearCache()


def twin_shift(
    spark: SparkSession,
    sf_dir: str,
    name: str = "documents",
    id_col: str = "doc_id",
    floor: int = 1_000_000,
) -> int:
    """Collision-proof planted-twin id offset (ADVICE r13): the
    max(``floor``, smallest power of ten strictly above max(id)).

    Planted-twin corpora shift copied ids by a module constant
    (dedup's 1e6, llmtext's 4e7/6e7). gen_scale.py strides real ids by
    1e6 per scale copy, so at sweep scales a FIXED shift eventually
    collides with real ids and silently breaks the min-id
    "originals always win" keeper invariant (oracle parity was never
    at risk — both engines plant identically — but keeper semantics
    were). Deriving the shift from the corpus fixes the invariant at
    every scale, while the ``floor`` keeps the value EQUAL to the old
    module constant at every oracle scale (sf<=0.1 ids top out at
    4999, far below each floor), so the static oracle SQL strings —
    which must embed a literal — remain exact where oracles actually
    run (driver sf0.01, local checks sf<=0.1; documented at each
    call site).

    Cost: one max() aggregation over the id column per (session,
    table), memoized like `load` — parquet footer stats make it a
    metadata-bounded scan, and sweeps pay it once per table, not per
    query."""
    cache = getattr(spark, "_dps_shift_cache", None)
    if cache is None:
        cache = {}
        spark._dps_shift_cache = cache
    key = (sf_dir, name, id_col)
    if key not in cache:
        mx = load(spark, sf_dir, name).agg(F.max(id_col)).collect()[0][0]
        cache[key] = 10 ** len(str(int(mx))) if mx is not None and mx > 0 else 10
    return max(floor, cache[key])
