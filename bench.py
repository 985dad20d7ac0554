#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric", "value", "unit", "queries", "sf",
"duckdb_value", "ratio_vs_duckdb_same_session", "dropped"}. Full
per-engine per-query detail goes to stderr and bench_detail_latest.json
(the driver tail-captures only ~2 KB of stdout; the final line must fit).

Execution is forced through the noop sink (full plan runs, nothing
written, no driver collect bottleneck).

Basis-composition caveat for r12→r13 comparisons: the v2 basis is
frozen BY NAME, but `pipeline_corpus_prep`'s own semantics grew in
round 13 (the full two-tier dedup ladder over a 1.33x planted-twin
corpus, VERDICT r12 #3) — it moved from ~0.34 s to ~1.5-1.7 s Spark /
~0.7 s DuckDB at sf0.1, shifting the basis ratio ~+0.05 by
construction. Decomposition + the sf10 inversion (0.29x) are in
BASELINE round-13.

Round 14 recomposition (VERDICT r13 wrong #2 — this time the
attribution is IN the artifact, not just prose):
`quality_perplexity_buckets` switched to the unicode tokenizer tier
over a 1.28x planted-twin corpus (heavier by construction, BOTH
engines), so the artifact now carries `r14_recomposed` +
`ratio_ex_r14_recomposed` — the official ratio with the recomposed
query excluded from both bases — keeping the anchor series
comparable. (`pipeline_corpus_prep` also moved this round, but
FASTER with bitwise-identical output — a plan win, which is exactly
what the anchor series should reflect, so it stays in.)

Methodology:

- Each pass rebuilds the query's DataFrame UNTIMED, times only its
  noop write, then `clearCache` drops what the query persisted.
  `persist()` registers with the CacheManager when the plan is built,
  so a DataFrame built once and re-run after `clearCache` loses its
  persists: in a census of the 53 headline and extras rows (sf0.01 and
  sf0.1, `local[4]`, executed plans read from the SQL status store),
  the build-once method's timed passes of `dedup_minhash_lsh`,
  `dsir_importance` and `search_mrr_audit` named `InMemoryTableScan`
  0 times against 6, 9 and 6 (2, 3 and 2 scan nodes) in a warmup;
  rebuilt per pass, every timed pass reads all of them. Plan
  construction stays untimed: a scale-invariant driver-side cost
  (~0.1-0.4 s/query, py4j RPC) whose DuckDB equivalent, SQL parse, is
  ~1 ms. Table loads resolve once per session (queries/common.py:load
  memoization — the catalog role).
- One untimed warmup pass amortizes JVM spin-up and Janino
  whole-stage-codegen compilation (one-time costs that vanish at real
  scale); per-query time is then the min of FIVE round-robin timed
  passes, plus a tiebreak pass when the spread exceeds 30% (this host
  shows background-load spikes lasting tens of seconds to minutes;
  cross-session comparisons drift ±15-30% — see VERDICT r4 — so the
  DuckDB twin runs in THIS session and the printed ratio is the only
  number comparable across rounds).
- The DuckDB twin (same files, oracle SQL, `SET threads` to the Spark
  core count; $SPARK_GRAFT_SKIP_DUCK=1 leaves it out) runs with its passes INTERLEAVED between the Spark
  passes, so both engines sample the same background-load environment
  — a spike can no longer hit one engine's whole window and skew the
  ratio. The JSON line carries both totals and the ratio, making the
  BASELINE.md gate auditable from this one artifact.

Modes (each builds its session with `_spark_session`; both timing
modes go through `time_passes`):

- no arguments — the headline line above, plus bench_detail_latest.json;
- `--queries a,b,...` — both engines over the named queries, one line:
  {"sf_dir", "queries": {name: {"spark", "duckdb", "ratio"}},
  "spark_total", "duckdb_total", "ratio", "dropped", "settings"};
- `--plans TAG [--queries a,b,...]` — each query's formatted explain to
  plans/TAG/<name>.txt (default: the headline and extras queries).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pipeline_gold_daily_agg",
    "pipeline_corpus_prep",
    "q1_pricing_summary",
    "q1_pricing_summary_fast",
    "q3_top_orders",
    "q3_top_orders_bucketed",
    "q5_regional_revenue",
    "q10_returned_revenue",
    "join_left_zero_counts",
    "asof_purchase_click",
    "range_join_next_10m",
    "window_running_total",
    "window_topk_per_group",
    "setop_intersect",
    "agg_rollup",
    "scalar_math_funcs",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk",
    "similarity_neardup_blocked",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "text_quality_score",
    "text_scrub_pii",
    "text_rolling_fingerprint",
    "stream_tumbling_hourly",
    "stream_session_30m",
    "q6_forecast_revenue",
    "q16_supplier_variety",
    "timeseries_gap_fill",
    # round-3 additions
    "dedup_containment",
    "embedding_quantize_int8",
    "window_moving_7d",
    "stream_interval_join",
    "sample_stratified",
    # round-6 additions; the ADC entry is the numpy kernel (round 7),
    # with the DuckDB twin's per-dim stats table amortized the same way
    # as its plan-build stats fetch (ADC_BENCH_SETUP_SQL — the IVF
    # precedent), so the comparison is apples-to-apples.
    "dedup_bloom_probe",
    "dedup_span_exact",
    "similarity_adc_topk_np",
    "stream_dedup_events",
    "corpus_overlap_matrix",
]

# Round-10 basis refresh (VERDICT r9 #2): the 41-query basis froze at
# its r5 composition while the inventory grew to 225+, leaving the
# LLM-pipeline tier (minhash aside) barely represented. These ten make
# the headline representative of what the engine is actually for —
# tokenizer application, importance sampling, retrieval (BM25 + MRR),
# compressed-index ANN serving, sequence packing, SCD2 as-of, kNN
# join, statistics, perplexity tiers. Accounting: round 10 printed
# both bases (old 1.581 / v2 1.467 — BENCH_r10); round 11 PROMOTES the
# v2 51-query basis to the official `value`/
# `ratio_vs_duckdb_same_session` (VERDICT r10 #7), anchored on r10's
# v2 print. The old 41-query basis carries one more round as
# `r9_basis_*` for continuity; `r5_basis_*` stays as the long-run
# comparable.
V2_ADDITIONS = [
    "bpe_apply_tokenize",
    "dsir_importance",
    "search_docs_bm25",
    "search_mrr_audit",
    "similarity_ivf_pq_topk_indexed",
    "knn_join_topk_ivf",
    "corpus_pack_sequences",
    "scd2_asof_enrich",
    "stats_regression_by_group",
    "quality_perplexity_buckets",
]
HEADLINE = HEADLINE + V2_ADDITIONS

# ROUND-11 SERVING SWAP (documented per VERDICT r10 #3): q3_top_orders
# serves from the writer-owned orderkey-bucketed silver, and
# q3_top_orders_bucketed is a second name for the SAME function, so
# the two rows time the same plan by design and any r10->r11
# improvement in the q3_top_orders row is the LAYOUT, not a plan win.
# ROUND 12 restores attribution (VERDICT r11 #4): the artifact's
# `extras` carries q3_top_orders_plain (best plain-layout plan,
# outside the official basis) plus the COLD build cost of the tf
# projection and the orderkey-bucketed silver (`_cold_build_costs`),
# so both the layout delta and the amortized write are visible in the
# artifact itself. q5_regional_revenue stays inline — a plan over the
# bucketed silver measured worse at sf10 (BASELINE round 11). The
# BM25/MRR rows and the token-shuffle family serve from the
# materialized tf projection (queries/tokcache.py), built untimed at
# plan construction — the same at-rest accounting as the bucketed
# silver and the IVF index, with the build cost recorded in BASELINE
# (17.5 s at sf10, amortized across seven queries and every session).
#
# The headline GROWS as operators land, which moves the total-ratio
# basis between rounds (every added query pays Spark's ~0.15-0.4 s
# per-query scheduling floor against DuckDB's ~1 ms parse — adding
# floor-bound queries dilutes the ratio without any plan regressing).
# The artifact therefore also carries the subtotal over the round-5
# basis (the 36 queries benched before the round-6 additions) so the
# BASELINE gate stays comparable round-over-round.
R6_ADDITIONS = {
    "dedup_bloom_probe",
    "dedup_span_exact",
    "similarity_adc_topk_np",
    "stream_dedup_events",
    "corpus_overlap_matrix",
    # round-7 addition, same exclusion from the r5-comparable basis:
    # the bucketed q3 row (its DuckDB twin reads the plain layout —
    # the layout win is Spark-side by design, a declared at-rest
    # deployment choice like the IVF index)
    "q3_top_orders_bucketed",
}

def _sized_shuffle_partitions(sf_dir: str, cpus: int) -> int:
    """Data-proportional shuffle-partition sizing (round 7): target
    ~16 MB of INPUT bytes per reduce partition, floored at cpus/4 for
    parallelism and capped at the core count. At sf0.1 (~30 MB of
    parquet) this is 8; by sf1 it saturates to the core count. 32
    partitions over a few-MB shuffle is missized in exactly the way
    the 100 TB guidance warns about in reverse — each extra reduce
    bucket is pure scheduling overhead (measured: 3 alternated A/B
    reps of an 11-query subset, 32 -> 8 partitions = -10% total, with
    dedup_span_exact's window sort -30%). AQE coalescing still runs on
    top; this only sets the static initial number it coalesces from."""
    target = 16 * 1024 * 1024
    total = _input_bytes(sf_dir)
    return max(1, cpus // 4, min(cpus, (total + target - 1) // target))


def _input_bytes(sf_dir: str) -> int:
    try:
        return sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        return 0


def _spark_session(cpus: int, sf_dir: str):
    from duckdb_pipeline_spark.session import build_spark

    # AQE stays ON at every scale. A round-8 experiment toggled it
    # data-proportionally after a subset A/B suggested -12% at sf0.1,
    # but the full official bench measured NO difference (10.311 AQE-on
    # vs 10.333 AQE-off, per-query deltas within +-0.05) — the subset
    # result was same-JVM session-sequencing bias, not AQE cost. With
    # no measured benefit the toggle was reverted: runtime re-planning
    # is the 100 TB posture and there is nothing to trade for it here.
    return build_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=_sized_shuffle_partitions(sf_dir, cpus),
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            # split multi-row-group files so scans parallelize; the
            # driver's sf<=0.1 files are single-row-group (one task
            # regardless), but sf1 scale-up files carry 128k-row groups
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _settings(spark) -> dict:
    """The effective master, parallelism and shuffle partitions."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def _cold_build_costs(spark, sf_dir: str) -> dict[str, float]:
    """One-line amortized-build transparency (VERDICT r11 wrong #1 /
    next #4): the at-rest layouts the headline serves from are built
    UNTIMED at plan construction (written once per corpus version, like
    a lake's ingest job), so the artifact carries their COLD build cost
    explicitly. Each row wipes its layout dirs, checks the wipe took,
    and times the ensure() call, BEFORE the headline plans are built —
    the headline run then pays only the warm-stamp fast path, exactly
    as every session after the corpus lands."""
    # Paths come from the owning modules (ADVICE r12: hardcoding the
    # layout here meant a scheme drift silently no-op'd the wipe and
    # reported the warm fast path as "cold"). Single-session
    # assumption: the wipe deletes live data files — nothing else may
    # be serving these tables concurrently (the standing
    # bench-isolation rule, harness-gotchas).
    import shutil

    from duckdb_pipeline_spark import layouts
    from duckdb_pipeline_spark.queries import bucketed, similarity, tokcache

    silver = ("orders", "lineitem")
    rows = [
        ("toktf_build", [tokcache.cache_location(sf_dir, "space")[1]],
         lambda: tokcache._ensure_doc_tf(spark, sf_dir)),
        ("bkt_silver_build", [bucketed.cache_location(sf_dir, t)[1] for t in silver],
         lambda: [bucketed._ensure_bucketed(spark, sf_dir, t) for t in silver]),
        # similarity_topk_ivf and knn_join_topk_ivf serve from this index
        ("ivf_build", [layouts.location("ivf", sf_dir)],
         lambda: similarity._ensure_ivf_index(spark, sf_dir, 8)),
    ]
    # one untimed job first: a session's first job pays executor and
    # codegen start-up, which belongs to no layout's build
    spark.range(1).write.format("noop").mode("overwrite").save()
    out: dict[str, float] = {}
    for row, paths, ensure in rows:
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)
            if os.path.exists(path):
                raise RuntimeError(f"cold-build wipe failed to remove {path}")
        t0 = time.perf_counter()
        ensure()
        out[row] = round(time.perf_counter() - t0, 3)
    return out


# Layout-attribution rows (VERDICT r11 #4): timed like the headline
# (warmup + min of passes) but kept OUTSIDE the official v2 basis so
# the anchor composition stays frozen. q3_top_orders_plain is the best
# plain-layout Q3 plan; its DuckDB twin is the q3_top_orders row
# (same oracle SQL, plain files) — the extras row makes the
# serving-vs-plain layout delta attributable from the artifact alone.
EXTRA_QUERIES = [
    "q3_top_orders_plain",
    # round-13 (VERDICT r12 #6): the normalization-keyed exact-dedup
    # tier gets a timed row in the artifact (it has a two-engine sf10
    # row in BASELINE — 0.98x — but had no per-round presence here);
    # stays OUTSIDE the official v2 basis so the anchor composition
    # remains frozen.
    "dedup_exact_normalized",
]


PASSES = 5


def spark_pass(spark, name: str, build, tag: int) -> float:
    """The one timed Spark pass: build the plan untimed, time only its
    noop write (full plan runs, nothing written, no driver collect),
    then drop whatever the query persisted so later queries aren't
    measured under accumulated memory/GC pressure. The write runs
    under the job description ``name#tag``, which is also the
    description of its SQL execution in the status store."""
    df = build()
    sc = spark.sparkContext
    sc.setJobDescription(f"{name}#{tag}")
    try:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(None)
        spark.catalog.clearCache()


def _duck_pass(run) -> float:
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def time_passes(spark, builds: dict, duck: dict | None = None):
    """The one timing loop. ``builds`` maps a name to a zero-argument
    DataFrame builder, ``duck`` a name to a zero-argument DuckDB run.
    One untimed warmup pass (tag 0) — a Spark query that fails there is
    dropped with a note, since one broken query must not kill the whole
    artifact — then PASSES round-robin passes (tags 1..PASSES) with the
    DuckDB runs INTERLEAVED after each Spark pass: background load
    spikes on a shared host last tens of seconds to minutes, and
    sequential phases let a spike hit one engine's entire window
    (observed ±20% ratio skew). Per query the min is kept, plus one
    tiebreak pass (tag PASSES+1) when the spread exceeds 30%. Returns
    raw-second mins (spark, duck) and the dropped names."""
    dropped = []
    for name, build in builds.items():
        try:
            spark_pass(spark, name, build, 0)
        except Exception as exc:
            dropped.append(name)
            print(f"bench: dropping {name}: {exc}", file=sys.stderr)
    live = [n for n in builds if n not in dropped]
    duck = {n: run for n, run in (duck or {}).items() if n not in dropped}
    for run in duck.values():
        run()

    ss: dict[str, list[float]] = {n: [] for n in live}
    ds: dict[str, list[float]] = {n: [] for n in duck}
    for p in range(1, PASSES + 1):
        for n in live:
            ss[n].append(spark_pass(spark, n, builds[n], p))
        for n, run in duck.items():
            ds[n].append(_duck_pass(run))

    def best(samples: list[float], again) -> float:
        b = min(samples)
        if max(samples) > 1.3 * b:  # spiky query: one more vote
            b = min(b, again())
        return b

    spark_best = {
        n: best(ss[n], lambda n=n: spark_pass(spark, n, builds[n], PASSES + 1))
        for n in live
    }
    duck_best = {n: best(ds[n], lambda n=n: _duck_pass(duck[n])) for n in duck}
    return spark_best, duck_best, dropped


def _duck_runs(sf_dir: str, cpus: int, names: list[str]) -> dict:
    """Zero-argument DuckDB runs of the oracle SQL for those ``names``
    that have one, on the same files, at ``cpus`` threads."""
    import __spark_entry__ as entrymod
    from tests.oracle_check import duck_connection

    from duckdb_pipeline_spark.queries.similarity import (
        ADC_BENCH_PROBE_SQL,
        ADC_BENCH_SETUP_SQL,
        IVF_BENCH_PROBE_SQL,
        IVF_BENCH_SETUP_SQL,
    )

    oracles = dict(entrymod.oracle_sql())
    con = duck_connection(sf_dir)
    con.execute(f"SET threads={cpus}")
    # Amortized-index parity (ADVICE r5): Spark's similarity_topk_ivf
    # times a probe of a prebuilt index, so the twin materializes its
    # cell table once (untimed) and times only the probe.
    # similarity_adc_topk_np likewise fetches its per-dim stats row at
    # plan build (round 7), so DuckDB's stats table is materialized
    # once. Guard: the probe must return exactly what the
    # full-recompute oracle returns, or the substitution is rejected
    # and the original SQL stays.
    for name, setup, probe in (
        ("similarity_topk_ivf", IVF_BENCH_SETUP_SQL, IVF_BENCH_PROBE_SQL),
        ("similarity_adc_topk_np", ADC_BENCH_SETUP_SQL, ADC_BENCH_PROBE_SQL),
    ):
        if name not in names or name not in oracles:
            continue
        for stmt in setup:
            con.execute(stmt)
        if con.execute(oracles[name]).fetchall() == con.execute(probe).fetchall():
            oracles[name] = probe
        else:
            print(f"bench: {name} probe SQL mismatch vs oracle; keeping full SQL",
                  file=sys.stderr)
    return {
        n: (lambda sql=oracles[n]: con.execute(sql).fetchall())
        for n in names
        if n in oracles
    }


def bench_both(sf_dir: str, cpus: int, skip_duck: bool, names: list[str],
               duck_names: list[str], cold: bool = False):
    """One session: the cold layout builds if ``cold``, then
    ``time_passes``. Returns its results plus the cold costs and the
    effective settings."""
    import __spark_entry__ as entrymod

    spark = _spark_session(cpus, sf_dir)
    try:
        settings = _settings(spark)
        extras = _cold_build_costs(spark, sf_dir) if cold else {}
        qs = entrymod.queries()
        builds = {n: (lambda n=n: qs[n](spark, sf_dir)) for n in names}
        duck = {} if skip_duck else _duck_runs(sf_dir, cpus, duck_names)
        spark_best, duck_best, dropped = time_passes(spark, builds, duck)
    finally:
        spark.stop()
    return spark_best, duck_best, dropped, extras, settings


def dump_plans(sf_dir: str, cpus: int, tag: str, names: list[str]) -> None:
    """Write each query's formatted explain to plans/<tag>/<name>.txt,
    or its error if the plan fails to build."""
    import __spark_entry__ as entrymod

    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = _spark_session(cpus, sf_dir)
    try:
        qs = entrymod.queries()
        for name in names:
            try:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception as exc:
                plan = f"ERROR building plan: {exc}"
            spark.catalog.clearCache()
            path = os.path.join(outdir, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
    finally:
        spark.stop()


def bench_queries(sf_dir: str, cpus: int, skip_duck: bool, names: list[str]) -> None:
    """Both engines over ``names``; prints one JSON line."""
    ss, ds, dropped, _, settings = bench_both(sf_dir, cpus, skip_duck, names, names)
    rows = {
        n: {
            "spark": round(ss[n], 3),
            "duckdb": round(ds[n], 3) if n in ds else None,
            "ratio": round(ss[n] / ds[n], 2) if ds.get(n) else None,
        }
        for n in ss
    }
    st, dt = sum(ss.values()), sum(ds.values())
    print(json.dumps({
        "sf_dir": sf_dir,
        "queries": rows,
        "spark_total": round(st, 3),
        "duckdb_total": round(dt, 3) if ds else None,
        "ratio": round(st / dt, 2) if dt else None,
        "dropped": dropped,
        "settings": settings,
    }))


def _read_proc_stat() -> list[int] | None:
    """Aggregate cpu jiffies from /proc/stat (user nice system idle
    iowait irq softirq steal ...), or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        return [int(x) for x in first[1:]]
    except (OSError, ValueError, IndexError):
        return None


def _cpu_mix_since(start: list[int] | None) -> dict[str, float] | None:
    """CPU-time mix over the draw, from /proc/stat deltas — the
    attribution loadavg cannot provide (round 13: after hours of
    continuous box use, BOTH engines' totals rose ~20% with
    loadavg_start < 0.2; hypervisor steal and iowait are the candidate
    causes a VM can actually observe). busy/steal/iowait as fractions
    of total elapsed jiffies across all cpus."""
    end = _read_proc_stat()
    if start is None or end is None:
        return None
    d = [max(0, e - s) for e, s in zip(end, start)]
    total = sum(d)
    if total <= 0:
        return None
    idle = d[3] if len(d) > 3 else 0
    iowait = d[4] if len(d) > 4 else 0
    steal = d[7] if len(d) > 7 else 0
    return {
        "busy_frac": round((total - idle - iowait) / total, 4),
        "iowait_frac": round(iowait / total, 4),
        "steal_frac": round(steal / total, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    skip_duck = os.environ.get("SPARK_GRAFT_SKIP_DUCK", "") == "1"
    ap = argparse.ArgumentParser(description="Spark vs same-session DuckDB timing.")
    ap.add_argument("--queries", help="comma-separated query names")
    ap.add_argument("--plans", metavar="TAG",
                    help="write formatted explains to plans/TAG/<name>.txt")
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else None
    if args.plans:
        dump_plans(sf_dir, cpus, args.plans, names or HEADLINE + EXTRA_QUERIES)
    elif names:
        bench_queries(sf_dir, cpus, skip_duck, names)
    else:
        headline(sf_dir, cpus, skip_duck)


def headline(sf_dir: str, cpus: int, skip_duck: bool) -> None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    load_start = [round(x, 2) for x in os.getloadavg()]
    stat_start = _read_proc_stat()
    ss, duck_raw, dropped, extras, settings = bench_both(
        sf_dir, cpus, skip_duck, HEADLINE + EXTRA_QUERIES, HEADLINE, cold=True
    )
    cpu_mix = _cpu_mix_since(stat_start)
    timings_raw = {n: ss[n] for n in HEADLINE if n in ss}
    extras.update({n: round(ss[n], 3) for n in EXTRA_QUERIES if n in ss})
    timings = {k: round(v, 3) for k, v in timings_raw.items()}
    duck = {k: round(v, 3) for k, v in duck_raw.items()}
    v2set = set(V2_ADDITIONS)
    # official gate numbers (round 11+): the v2 51-query basis —
    # everything in HEADLINE (anchor: BENCH_r10's v2_basis_ratio 1.467)
    total = round(sum(timings.values()), 3)
    duck_total = round(sum(duck.values()), 3) if duck else None
    ratio = round(total / duck_total, 3) if duck_total else None
    # Normalizer policy (VERDICT r11 #8, pinned round 12): the OFFICIAL
    # round-over-round number is `ratio_vs_duckdb_same_session` — the
    # per-query min-of-5 INTERLEAVED same-session DuckDB twin is the
    # normalizer, and the ratio of basis totals is the headline (raw
    # wall totals drift ±15-30% with host load on BOTH engines and are
    # not comparable across sessions; the twin-normalized ratio is).
    # `ratio_per_query_median` is a secondary FLOOR indicator, not a
    # throughput number: the median headline query is sub-second at
    # sf0.1, where Spark's ~0.15-0.4 s per-query scheduling floor sits
    # against DuckDB's ~1 ms parse, so expect ~2-4 here by construction
    # (measured 3.6 at sf0.1; the same queries cross below 1x at sf10 —
    # BASELINE). Track it round-over-round for FLOOR regressions (a
    # jump means added per-query jobs, the VERDICT r8 job-floor class);
    # read throughput from the totals ratio.
    # unrounded times + epsilon floor on the denominator (a sub-ms
    # DuckDB parse is a real floor ratio, not a row to drop); true
    # median (average of the two middle elements for even counts)
    pq = sorted(
        timings_raw[k] / max(duck_raw[k], 1e-6) for k in duck_raw
    )
    if pq:
        mid = len(pq) // 2
        pq_median = round(
            pq[mid] if len(pq) % 2 else (pq[mid - 1] + pq[mid]) / 2, 3
        )
    else:
        pq_median = None
    # the retired r9 41-query basis was carried through BENCH_r11 for
    # continuity and is dropped from the stdout line in round 12 (the
    # 2 KB driver capture is the binding budget; history in BENCH_r09-11)
    base_total = round(
        sum(
            v
            for k, v in timings.items()
            if k not in R6_ADDITIONS and k not in v2set
        ),
        3,
    )
    base_duck = (
        round(
            sum(
                v
                for k, v in duck.items()
                if k not in R6_ADDITIONS and k not in v2set
            ),
            3,
        )
        if duck
        else None
    )
    base_ratio = round(base_total / base_duck, 3) if base_duck else None

    # round-14 recomposition attribution (VERDICT r13 wrong #2): the
    # official ratio with this round's recomposed basis queries
    # excluded from BOTH totals — the number comparable to r13's 1.64
    R14_RECOMPOSED = ["quality_perplexity_buckets"]
    ex_t = round(
        sum(v for k, v in timings.items() if k not in R14_RECOMPOSED), 3
    )
    ex_d = (
        round(sum(v for k, v in duck.items() if k not in R14_RECOMPOSED), 3)
        if duck
        else None
    )
    ex_ratio = round(ex_t / ex_d, 3) if ex_d else None

    # Full per-engine detail goes to stderr + a sidecar file; the final
    # stdout line must stay small (driver tail-captures ~2 KB — round 5's
    # line grew past it and the official record got parsed:null).
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duckdb_value": duck_total,
        "duckdb_queries": duck,
        "ratio_vs_duckdb_same_session": ratio,
        "ratio_per_query_median": pq_median,
        "basis": "v2 (51-query, official since r11; anchor BENCH_r10 v2 1.467)",
        "r5_basis_value": base_total,
        "r5_basis_duckdb_value": base_duck,
        "r5_basis_ratio": base_ratio,
        "r14_recomposed": R14_RECOMPOSED,
        "ratio_ex_r14_recomposed": ex_ratio,
        "extras": extras,
        "dropped": dropped,
        # host-load attribution (VERDICT r12 #5): out-of-band draws
        # like r12's 1.59 (vs the 1.40-1.52 same-code band) were the
        # documented busy-host pattern but unprovable from the
        # artifact. loadavg_start (1/5/15-min, BEFORE the session
        # starts) is the signal — a non-idle box at draw start means
        # the draw shared the machine; loadavg_end is dominated by the
        # bench's own 32-thread bursts and is recorded only for
        # completeness.
        "loadavg_start": load_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # /proc/stat delta across the whole draw: steal_frac > ~0.02 or
        # iowait_frac spikes explain a slow draw that loadavg misses
        "cpu_mix": cpu_mix,
        "settings": settings,
    }
    print("bench detail: " + json.dumps(detail), file=sys.stderr)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "bench_detail_latest.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)

    # Compact final line: per-query Spark timings kept (driver contract
    # asks for "queries") at 2-decimal precision; DuckDB per-query moved
    # to the sidecar. "dropped" makes an incomplete artifact
    # self-describing (totals/ratio cover only the live queries).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in timings.items()},
                "sf": sf,
                "duckdb_value": duck_total,
                "ratio_vs_duckdb_same_session": ratio,
                "ratio_per_query_median": pq_median,
                "r5_basis_value": base_total,
                "r5_basis_duckdb_value": base_duck,
                "r5_basis_ratio": base_ratio,
                "r14_recomposed": R14_RECOMPOSED,
                "ratio_ex_r14_recomposed": ex_ratio,
                "extras": extras,
                "dropped": dropped,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
