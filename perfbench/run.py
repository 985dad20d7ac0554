#!/usr/bin/env python3
"""Benchmark of the lake engine: one workload per invocation.

    python3 perfbench/run.py --workload {lake_day,llm_corpus} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One closed-loop client in one process
runs one op at a time against ``local[k]`` Spark (k = min(2, cores),
which leaves the host's other cores to the JIT, GC and Python workers),
with ``shuffle_partitions`` passed to ``build_spark`` explicitly.

A run: generate (or reuse) the seeded inputs, untimed; build the
session and run the first, cold pass over every op (``setup_s``), whose
outputs are then checked, untimed; then untimed warm-up passes while the
JIT settles; then as many whole timed passes as ``--seconds`` holds at
the workload's nominal pass time (``timed_passes``). The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it echoes the
run's environment, sample counts and the ops' wall latencies.

Each op is timed twice: wall time, and the CPU time of the engine's
process tree without the JIT compiler threads (``cpu.py``). The
per-pass end-to-end metrics are CPU seconds, because on a shared host a
run's wall latencies followed the host's load (a run during heavy
hypervisor steal took 75% longer per pass and 25% more CPU); the wall
figures are reported in the info line. ``setup_s`` stays wall time.

Inputs, lakes, oracle results and the event log live in ``.bench_work/``
at the root; the query layouts go to the engine's own ``.scratch/``
under a label derived from the benchmark's own copy of the tables
(``data/``), so the benchmark never touches the layouts the tests use.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from cpu import JVM_OPTIONS, EngineCpu

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("lake_day", "llm_corpus")
CORES = min(2, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = CORES
# lake_day runs every sixth hour of the day (trough to peak of the
# diurnal curve); all 24 do not fit the run budget
LAKE_HOURS = (3, 9, 15, 21)
PEAK_EVENTS = 20_000
# each op's span self times must sum to its wall, timed apart from the
# spans, within 1%
SELF_TIME_TOLERANCE = 0.01

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_gmean_s": "s",
             "retained_mb": "MB", "stored_bytes_ratio": "ratio"}
LAYER_UNITS = {
    "session.build_s": "s",
    "ingest.upload_s": "s", "ingest.bytes_mb": "MB",
    "sources.scan_run_ms": "ms", "sources.rows_in": "count", "sources.rows_kept_ratio": "ratio",
    "transform.serialise_s": "s", "transform.serialise_bucketed_s": "s", "transform.self_s": "s",
    "transform.aggregate_s": "s", "transform.aggregate_bucketed_s": "s",
    "sinks.single_parquet_s": "s", "sinks.bucketed_append_s": "s", "sinks.commit_s": "s",
    "sinks.files_written": "count", "sinks.bytes_written_mb": "MB",
    "queries.plan_build_s": "s", "queries.exec_s": "s",
    "queries.layout_cold_s": "s", "queries.layout_mb": "MB",
    "operators.python_run_ms": "ms", "operators.python_cpu_ms": "ms",
    "operators.persisted_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_ms": "ms", "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.self_err_max": "ratio",
}


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, or (0, 0) off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Harness:
    """Run state shared by the workloads: counters, tracing, seed."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.root, self.work, self.cores = ROOT, WORK, CORES
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.walls: dict[str, float] = {}  # "<op>#<pass>" -> wall, spans included
        self.cpus: dict[str, float] = {}  # "<op>#<pass>" -> engine CPU seconds
        self.cpu = None  # EngineCpu, once the JVM runs
        self.spans = None
        self.tracing = False  # spans on for the current pass

    def fail(self, op: str, exc: BaseException) -> None:
        self.failed += 1
        self.note_failure(op, f"{type(exc).__name__}: {str(exc)[:300]}")
        traceback.print_exc(file=sys.stderr)

    def note_failure(self, op: str, msg: str) -> None:
        self.failures.append(f"{op}: {msg}")
        print(f"FAILED {op}: {msg}", file=sys.stderr)

    def cpu_now(self) -> float:
        return self.cpu.seconds() if self.cpu is not None else 0.0

    def span(self, name: str):
        if self.tracing:
            return self.spans.span(name)
        return contextlib.nullcontext()

    def tag(self, spark, op: str, p: int) -> None:
        if self.trace:
            self.spans.op = f"{op}#{p}"
            spark.sparkContext.setJobDescription(f"{self.workload}:{op}#{p}")

    @staticmethod
    def storage_mb(spark) -> float:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def retained_mb(spark) -> float:
    """JVM heap in use after ``clearCache`` and full GCs: the least of
    four. A trivial query first releases the last op's plan state (about
    20 MB after ``dedup_minhash_lsh``, none after the others), which
    would otherwise make the figure depend on the seed's op order.
    Python's collector runs next, so the JVM objects that py4j holds for
    dead Python references are released; Spark's ContextCleaner then
    frees broadcast and shuffle state only after a JVM GC has cleared
    the references to it."""
    spark.catalog.clearCache()
    spark.range(1).count()
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(4):
        jvm.java.lang.System.gc()
        time.sleep(0.4)
        used = min(used, heap.getHeapMemoryUsage().getUsed() / 2**20)
    return used


def pass_metrics(passes: list[dict[str, float]], unit_ops, kind: str = "") -> dict:
    """Metrics over timed passes (op -> seconds, wall or CPU), named
    ``pass<kind>_s`` and so on: the sum and the geometric mean over ops
    of each op's median, and the median over every (op, pass) sample of
    ``unit_ops``. Keys starting with ``_`` go to the info line."""
    per_op: dict[str, list[float]] = {}
    for lat in passes:
        for op, v in lat.items():
            per_op.setdefault(op, []).append(v)
    med = {op: statistics.median(v) for op, v in per_op.items()}
    samples = sorted(v for op, vs in per_op.items() if op in unit_ops for v in vs)
    return {
        f"pass{kind}_s": sum(med.values()),
        f"op{kind}_gmean_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        f"op{kind}_p50_s": statistics.median(samples),
        # too few samples per run for a bounded tail metric
        f"_op{kind}_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8]
        if len(samples) > 1 else samples[0],
        f"_op{kind}_median_s": med,
        f"_op{kind}_samples_s": per_op,
    }


def timed_passes(h: Harness, wl, spark, seconds: float) -> list[tuple[int, bool, dict]]:
    """As many whole timed passes as ``seconds`` holds at the workload's
    nominal ``pass_seconds``, at least one (two in a traced run). Op
    costs still fall from pass to pass while the JIT settles, so a count
    that followed the host's speed would move the per-op medians with
    it. A traced run alternates spans off and on, starting off."""
    from spans import install_layer_spans

    passes: list[tuple[int, bool, dict]] = []
    n = max(2 if h.trace else 1, int(seconds // wl.pass_seconds))
    for i in range(n):
        p = wl.warmup_passes + i + 1
        traced = h.trace and i % 2 == 1
        if traced:
            install_layer_spans(h.spans)
        h.tracing = traced
        try:
            lat = wl.run_pass(spark, p)
        finally:
            h.tracing = False
            if h.spans is not None:
                h.spans.unwrap_all()
        passes.append((p, traced, lat))
    return passes


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched (its
    Python workers exit with it)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(h: Harness):
    if h.workload == "lake_day":
        import gen
        from lake import LakeDay

        tag = (f"lake-s{h.seed}-p{PEAK_EVENTS}-h{'_'.join(map(str, LAKE_HOURS))}"
               f"-{gen.source_digest()}")
        manifest = gen.lake_day(os.path.join(WORK, "data", tag), h.seed, list(LAKE_HOURS),
                                PEAK_EVENTS)
        return LakeDay(h, manifest)
    from querymix import LLM_CORPUS, SF_DIR, QueryWorkload

    return QueryWorkload(h, LLM_CORPUS, SF_DIR)


def layer_metrics(h: Harness, wl, traced_passes: list[int], build_s: float,
                  log_dir: str, pass_s: dict[bool, float]) -> dict:
    """Per-layer metrics for the traced passes, from spans and the event log."""
    from spans import covered, job_intervals, read_event_log, self_times, spark_metrics

    n = max(1, len(traced_passes))
    tags = {f"#{p}" for p in traced_passes}
    in_pass = lambda desc: any(desc.endswith(t) for t in tags)  # noqa: E731
    log = read_event_log(log_dir)
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update(spark_metrics(log, in_pass))
    for k in ("spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.driver_gap_ms",
              "spark.jobs", "spark.stages", "spark.tasks", "operators.python_run_ms",
              "operators.python_cpu_ms", "sources.scan_run_ms"):
        out[k] /= n
    out["session.build_s"] = build_s
    out.update(wl.layer_metrics(traced_passes))

    spans = [s for s in h.spans.spans if s["op"] and s["op"].rsplit("#", 1)[1] in
             {str(p) for p in traced_passes}]
    jobs = job_intervals(log, in_pass)
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    total = lambda name: sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n  # noqa: E731
    out["ingest.upload_s"] = total("ingest.upload")
    out["transform.serialise_s"] = total("transform.serialise_raw_data")
    out["transform.serialise_bucketed_s"] = total("transform.serialise_raw_data_bucketed")
    out["transform.aggregate_s"] = total("transform.aggregate_silver_data")
    out["transform.aggregate_bucketed_s"] = total("gold_bucketed")
    out["sinks.single_parquet_s"] = total("sinks.write_single_parquet")
    out["sinks.bucketed_append_s"] = total("sinks.write_bucketed_table")
    commit = tself = 0.0
    for s in spans:
        if s["name"].startswith("sinks."):
            commit += (s["end"] - s["start"]) - covered(jobs, s["start"], s["end"])
        elif s["name"].startswith("transform."):
            kids = [(k["start"], k["end"]) for k in spans if k["parent"] == s["id"]]
            tself += (s["end"] - s["start"]) - covered(kids + jobs, s["start"], s["end"])
    out["sinks.commit_s"] = commit / n
    out["transform.self_s"] = tself / n

    # each op's span self times must add up to its wall, which the
    # workload times with its own clock around the op's spans (a failed
    # op has no wall; it is counted failed already)
    err = 0.0
    for s in spans:
        wall = h.walls.get(f"{s['name'][3:]}#{s['op'].rsplit('#', 1)[1]}")
        if s["name"].startswith("op:") and wall:
            tree = [x for x in spans if _root(x, by_id) == s["id"]]
            err = max(err, abs(sum(selfs[x["id"]] for x in tree) - wall) / wall)
    out["trace.self_err_max"] = err
    out["trace.pass_s"] = pass_s.get(True, 0.0)
    out["trace.overhead_s"] = pass_s.get(True, 0.0) - pass_s.get(False, 0.0)
    return out


def _root(span: dict, by_id: dict) -> int:
    while span["parent"] is not None and span["parent"] in by_id:
        span = by_id[span["parent"]]
    return span["id"]


def run(args) -> dict:
    h = Harness(args.workload, args.seed, bool(args.trace))
    steal0, tot0 = _cpu_times()
    load0 = os.getloadavg()
    wl = make_workload(h)
    wl.prepare()

    from duckdb_pipeline_spark import session

    # keep Spark's scratch, the JVM's and pyspark's temp files in the work dir
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-s{args.seed}")
    conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTIONS}"}
    if h.trace:
        from spans import Spans

        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
        h.spans = Spans()

    t0 = time.perf_counter()
    spark = session.build_spark(f"perfbench-{args.workload}", master=f"local[{CORES}]",
                                shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    build_s = time.perf_counter() - t0
    h.cpu = EngineCpu(spark.sparkContext._gateway.proc.pid)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.cold_pass(spark)
        setup_s = time.perf_counter() - t0
        wl.check()
        for p in range(1, wl.warmup_passes + 1):
            wl.run_pass(spark, p)
        passes = timed_passes(h, wl, spark, args.seconds)
        retained = retained_mb(spark)
        env = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
    finally:
        stop_spark(spark)

    unit_ops = [n for n in wl.names if n != "gold"]
    steal1, tot1 = _cpu_times()
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "spark": env, "nproc": os.cpu_count(), "cores_used": CORES,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "steal_share": (steal1 - steal0) / (tot1 - tot0) if tot1 > tot0 else 0.0,
        "git_commit": _git_commit(), "ops": wl.names, "timed_passes": len(passes),
        "pass_walls_s": [sum(lat.values()) for _, _, lat in passes],
        "failures": h.failures,
    }
    if args.workload == "lake_day":
        info["inputs"] = {"hours": LAKE_HOURS, "peak_events": PEAK_EVENTS, "bronze_lines": wl.lines,
                          "valid_lines": wl.valid, "bronze_bytes": wl.bronze_bytes,
                          "hour_sizes": [x["lines"] for x in wl.manifest["hours"]],
                          "reference_null_events": wl.reference_null_events}
    else:
        from querymix import tables_digest

        info["inputs"] = {"sf_dir": os.path.relpath(wl.sf_dir, ROOT),
                          "tables_sha256": tables_digest(wl.sf_dir), "layouts": wl.layouts}

    if h.trace:
        by_kind = {kind: [lat for _, t, lat in passes if t == kind] for kind in (True, False)}
        pass_s = {k: pass_metrics(v, unit_ops)["pass_s"] for k, v in by_kind.items() if v}
        info["op_cold_s"] = wl.cold_s
        metrics = layer_metrics(h, wl, [p for p, t, _ in passes if t], build_s, log_dir, pass_s)
        if metrics["trace.self_err_max"] > SELF_TIME_TOLERANCE:
            h.note_failure("trace", f"span self times off by {metrics['trace.self_err_max']:.4f}")
            h.failed += 1
        h.spans.dump(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.spans.jsonl"))
        units = LAYER_UNITS
    else:
        cpu = [{op: h.cpus[f"{op}#{p}"] for op in lat} for p, _, lat in passes]
        m = {**pass_metrics(cpu, unit_ops, "_cpu"),
             **pass_metrics([lat for _, _, lat in passes], unit_ops)}
        # wall figures, which follow the host's load, go to the info line
        info.update({k.lstrip("_"): m.pop(k) for k in list(m)
                     if k.startswith("_") or k not in E2E_UNITS})
        info["op_samples"] = sum(len(v) for op, v in info["op_samples_s"].items()
                                 if op in unit_ops)
        info["warmup_cpu_s"] = [{op: v for op, v in h.cpus.items() if op.endswith(f"#{p}")}
                                for p in range(1, wl.warmup_passes + 1)]
        info["op_cold_s"] = wl.cold_s
        metrics = {**m, "setup_s": setup_s, "retained_mb": retained,
                   "stored_bytes_ratio": wl.stored_bytes_ratio()}
        units = E2E_UNITS
    print(json.dumps({"info": info}), flush=True)
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import duckdb_pipeline_spark  # noqa: F401
        import tests.oracle_check  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
