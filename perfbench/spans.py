"""Tracing for the benchmark's traced run.

Two sources, both read from outside the engine:

- ``Spans`` records a span around each call the benchmark makes into a
  layer's public function, by wrapping the function where its caller
  looks it up. Spans stay in memory and are written out at exit.
- ``read_event_log`` parses Spark's own event log (rolling
  ``eventlog_v2_<app>/events_<n>_<app>`` files, or a single file) into
  jobs, stages, tasks and SQL executions, keyed by the job description
  the benchmark sets for every op (``<workload>:<op>#<pass>``).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

# physical operators that run Python (Arrow/pandas) kernels on executors
PYTHON_NODE = re.compile(r"Pandas|Python|MapInArrow")
JSON_SCAN = re.compile(r"Scan json", re.IGNORECASE)


class Spans:
    """In-memory span recorder. Each span: name, start, end (epoch
    seconds), parent span id and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.time(),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        fn = getattr(owner, attr)
        spans = self

        def wrapper(*args, **kwargs):
            with spans.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def install_layer_spans(spans: Spans) -> None:
    """Wrap the public functions the lake workload calls, in every
    module that looks them up (``transform`` imports
    ``write_single_parquet`` and ``read_json_auto`` by name)."""
    from duckdb_pipeline_spark import ingest, sinks, transform

    T = transform.DataLakeTransformer
    spans.wrap(ingest.DataLakeIngester, "upload", "ingest.upload")
    spans.wrap(T, "serialise_raw_data", "transform.serialise_raw_data")
    spans.wrap(T, "serialise_raw_data_bucketed", "transform.serialise_raw_data_bucketed")
    spans.wrap(T, "aggregate_silver_data", "transform.aggregate_silver_data")
    spans.wrap(T, "aggregate_silver_data_bucketed", "transform.aggregate_silver_data_bucketed")
    spans.wrap(transform, "read_json_auto", "sources.read_json_auto")
    spans.wrap(sinks, "write_single_parquet", "sinks.write_single_parquet")
    spans.wrap(transform, "write_single_parquet", "sinks.write_single_parquet")
    spans.wrap(sinks, "write_bucketed_table", "sinks.write_bucketed_table")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {
        s["id"]: (s["end"] - s["start"])
        - covered([(k["start"], k["end"]) for k in kids.get(s["id"], [])], s["start"], s["end"])
        for s in spans
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _event_files(log_dir: str) -> list[str]:
    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if not n.startswith(".") and not n.endswith((".inprogress.crc", ".crc")):
                files.append(os.path.join(root, n))

    def order(p: str):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and SQL executions from Spark's event log. Times are
    epoch seconds; task metrics are summed per stage."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "desc": props.get("spark.job.description"),
                        "exec": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"] / 1e3,
                        "end": ev["Submission Time"] / 1e3,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = []
                    for rdd in info.get("RDD Info", []):
                        try:
                            scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                        except ValueError:
                            pass
                        scopes.append(rdd.get("Name", ""))
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["attempts"] += 1
                    st["start"] = info.get("Submission Time", 0) / 1e3
                    st["end"] = info.get("Completion Time", 0) / 1e3
                    st["python"] = any(PYTHON_NODE.search(s) for s in scopes)
                    st["json_scan"] = any(JSON_SCAN.search(s) for s in scopes)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql[ev["executionId"]] = {"start": ev["time"] / 1e3, "end": ev["time"] / 1e3}
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in sql:
                        sql[ev["executionId"]]["end"] = ev["time"] / 1e3
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _new_stage() -> dict:
    return {"attempts": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_write_b": 0, "spill_b": 0, "start": 0.0, "end": 0.0,
            "python": False, "json_scan": False, "job": None}


def spark_metrics(log: dict, keep) -> dict:
    """Sum the event log over jobs whose description satisfies
    ``keep(desc)``."""
    jobs = {j: v for j, v in log["jobs"].items() if v["desc"] and keep(v["desc"])}
    stages = [s for s in log["stages"].values() if s["job"] in jobs]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(s["attempts"] for s in stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.executor_run_ms": sum(s["run_ms"] for s in stages),
        "spark.executor_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "spark.gc_ms": sum(s["gc_ms"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 2**20,
        "spark.spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
        "operators.python_run_ms": sum(s["run_ms"] for s in stages if s["python"]),
        "operators.python_cpu_ms": sum(s["cpu_ms"] for s in stages if s["python"]),
        "sources.scan_run_ms": sum(s["run_ms"] for s in stages if s["json_scan"]),
    }
    # gap: each SQL execution's wall outside every one of its stages
    by_exec: dict[str, list[tuple[float, float]]] = {}
    for jid, j in jobs.items():
        if j["exec"] is not None:
            by_exec.setdefault(j["exec"], [])
    for s in stages:
        ex = jobs[s["job"]]["exec"]
        if ex is not None:
            by_exec[ex].append((s["start"], s["end"]))
    gap = 0.0
    for ex, ivs in by_exec.items():
        e = log["sql"].get(int(ex))
        if e is not None:
            gap += (e["end"] - e["start"]) - covered(ivs, e["start"], e["end"])
    out["spark.driver_gap_ms"] = gap * 1e3
    return out


def job_intervals(log: dict, keep) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in log["jobs"].values() if j["desc"] and keep(j["desc"])]
