"""Query workload: ``llm_corpus``.

Each op is one declared query: the ``QuerySpec.fn`` call (Python-side
plan build) plus a save to Spark's ``noop`` sink (full execution, nothing
written, no collect). ``spark.catalog.clearCache()`` follows every op,
so intermediates one query persists cannot be matched into a later
query's plan by the CacheManager.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
import time

# The LLM data-pipeline queries: Arrow/Python kernels in operators/,
# persisted intermediates and at-rest layouts (the `_ensure_*` functions,
# whose cold build falls in setup): the dedup ladder, MinHash LSH and
# BM25 over the token-frequency layout. No multimodal_* query: those
# regenerate tracked fixture files.
LLM_CORPUS = ("pipeline_corpus_prep", "dedup_minhash_lsh", "search_docs_bm25")

# The benchmark's own copy of the engine's sf0.1 synthetic tables: the
# one table these queries and their oracles read. The engine derives its
# `.scratch/<kind>/<label>` layouts from this directory's path, so they
# are the benchmark's own and never those the tests use.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def tables_digest(sf_dir: str) -> str:
    """Hash over the tables' names and bytes."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        h.update(os.path.basename(path).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scratch_dirs(root: str) -> set[str]:
    """Every `.scratch/<kind>/<name>` directory, whoever built it."""
    return {d for d in glob.glob(os.path.join(root, ".scratch", "*", "*")) if os.path.isdir(d)}


def tree_bytes(paths) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for r, _, fs in os.walk(p):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
    return total


def oracle_frames(sf_dir: str, names, oracles: dict, cache_dir: str, threads: int) -> dict:
    """DuckDB oracle result per query, cached on disk by (table bytes, SQL)."""
    from tests.oracle_check import duck_connection

    os.makedirs(cache_dir, exist_ok=True)
    digest = tables_digest(sf_dir)
    out, con = {}, None
    try:
        for n in names:
            sql = oracles[n]
            key = hashlib.sha256(f"{digest}\0{sql}".encode()).hexdigest()[:20]
            path = os.path.join(cache_dir, f"{n}-{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as fh:  # written by this benchmark only
                    out[n] = pickle.load(fh)
                continue
            if con is None:
                con = duck_connection(sf_dir)
                con.execute(f"SET threads = {threads}")
            out[n] = con.execute(sql).df()
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(out[n], fh)
            os.replace(path + ".tmp", path)
    finally:
        if con is not None:
            con.close()
    return out


class QueryWorkload:
    # untimed passes after the checked cold pass, while the JIT settles
    warmup_passes = 2
    # wall seconds of one warm pass at local[2] on a quiet 4-vCPU host
    pass_seconds = 5.0

    def __init__(self, h, names, sf_dir: str):
        from duckdb_pipeline_spark.queries import collect_all

        self.h = h
        self.names = list(names)
        self.sf_dir = sf_dir
        inventory = collect_all()
        self.specs = {n: inventory[n] for n in self.names}
        # timed samples: (pass, op, plan build s, exec s, persisted MB)
        self.samples: list[tuple[int, str, float, float, float]] = []
        self.cold_plan_s: dict[str, float] = {}
        self.cold_s: dict[str, float] = {}
        self.layout_ops: list[str] = []
        self.layouts: list[str] = []

    # -- set-up ----------------------------------------------------------

    def prepare(self) -> None:
        """Untimed: wipe this benchmark's own layouts, so setup pays their
        cold build, and load the oracles. The layouts wiped are the
        token-frequency layout, located by its owner's ``cache_location``,
        and every layout an earlier cold pass over ``sf_dir`` built, as
        recorded in the work dir. A wipe that leaves a path fails the run."""
        from duckdb_pipeline_spark.queries import tokcache

        self.toktf_dir = tokcache.cache_location(self.sf_dir)[1]
        scratch = os.path.join(self.h.root, ".scratch") + os.sep
        for d in {self.toktf_dir, *self._recorded()}:
            if not d.startswith(scratch):
                raise RuntimeError(f"refusing to wipe {d}: not under {scratch}")
            shutil.rmtree(d, ignore_errors=True)
            if os.path.exists(d):
                raise RuntimeError(f"layout wipe left {d} behind")
        self.oracles = oracle_frames(
            self.sf_dir, self.names, {n: s.oracle for n, s in self.specs.items()},
            os.path.join(self.h.work, "oracle"), self.h.cores)

    def _record_path(self) -> str:
        return os.path.join(self.h.work, "layouts.json")

    def _recorded(self) -> list[str]:
        """Layouts that earlier cold passes over ``sf_dir`` built."""
        if not os.path.exists(self._record_path()):
            return []
        with open(self._record_path()) as fh:
            return json.load(fh).get(os.path.abspath(self.sf_dir), [])

    def _record(self, built: list[str]) -> None:
        rec = {}
        if os.path.exists(self._record_path()):
            with open(self._record_path()) as fh:
                rec = json.load(fh)
        key = os.path.abspath(self.sf_dir)
        rec[key] = sorted(set(rec.get(key, [])) | set(built))
        with open(self._record_path() + ".tmp", "w") as fh:
            json.dump(rec, fh, indent=1)
        os.replace(self._record_path() + ".tmp", self._record_path())

    def order(self, p: int) -> list[str]:
        names = list(self.names)
        random.Random(self.h.seed * 1009 + p).shuffle(names)
        return names

    def _op(self, spark, name: str, p: int, collect: bool = False):
        """Run one query op; returns (plan_s, exec_s, result or None).
        Sets ``self.last_persisted_mb`` when tracing."""
        h = self.h
        h.attempted += 1
        h.tag(spark, name, p)
        c0 = h.cpu_now()
        t0 = time.perf_counter()
        with h.span(f"op:{name}"):
            with h.span("queries.plan_build"):
                df = self.specs[name].fn(spark, self.sf_dir)
            t1 = time.perf_counter()
            with h.span("queries.exec"):
                if collect:
                    res = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    res = None
        t2 = time.perf_counter()
        h.walls[f"{name}#{p}"] = t2 - t0
        h.cpus[f"{name}#{p}"] = h.cpu_now() - c0
        self.last_persisted_mb = h.storage_mb(spark) if h.trace else 0.0
        spark.catalog.clearCache()
        return t1 - t0, t2 - t1, res

    def cold_pass(self, spark) -> None:
        """The first pass: each op collects its result for ``check``. The
        `.scratch` directories that appear during it are the workload's
        layouts; if the token-frequency layout is not among them, the
        wipe did not make this pass cold, and the run fails."""
        self._results = {}
        start = scratch_dirs(self.h.root)
        for name in self.order(0):
            before = scratch_dirs(self.h.root)
            try:
                plan, ex, self._results[name] = self._op(spark, name, 0, collect=True)
            except Exception as e:  # count the op failed, keep running
                self.h.fail(name, e)
                continue
            self.cold_plan_s[name] = plan
            self.cold_s[name] = plan + ex
            if scratch_dirs(self.h.root) - before:
                self.layout_ops.append(name)
        self.layouts = sorted(scratch_dirs(self.h.root) - start)
        self._record(self.layouts)
        if self.toktf_dir not in self.layouts and not self.h.failures:
            raise RuntimeError(f"the cold pass built no layout at {self.toktf_dir}; "
                               f"it built {self.layouts}")

    def check(self) -> None:
        """Untimed: compare every collected cold-pass result with its
        DuckDB oracle."""
        from tests.oracle_check import compare

        for name, got in self._results.items():
            problems = compare(name, got, self.oracles[name])
            if problems:
                self.h.failed += 1
                self.h.note_failure(name, "; ".join(problems)[:300])
        self._results = {}

    def run_pass(self, spark, p: int) -> dict[str, float]:
        lat = {}
        for name in self.order(p):
            try:
                plan, ex, _ = self._op(spark, name, p)
            except Exception as e:
                self.h.fail(name, e)
                continue
            self.samples.append((p, name, plan, ex, self.last_persisted_mb))
            lat[name] = plan + ex
        return lat

    # -- metrics ---------------------------------------------------------

    def stored_bytes_ratio(self) -> float:
        return tree_bytes(self.layouts) / tree_bytes(
            glob.glob(os.path.join(self.sf_dir, "*.parquet")))

    def layer_metrics(self, passes: list[int]) -> dict:
        """Per-pass means over the traced ``passes``; the layout cold cost
        is each layout-building op's cold minus its median warm plan build."""
        warm: dict[str, list[float]] = {}
        for _, name, plan, _, _ in self.samples:
            warm.setdefault(name, []).append(plan)
        cold = sum(max(0.0, self.cold_plan_s[n] - statistics.median(warm[n]))
                   for n in self.layout_ops if n in warm)
        mine = [x for x in self.samples if x[0] in passes]
        per = max(1, len(passes))
        return {
            "queries.plan_build_s": sum(x[2] for x in mine) / per,
            "queries.exec_s": sum(x[3] for x in mine) / per,
            "queries.layout_cold_s": cold,
            "queries.layout_mb": tree_bytes(self.layouts) / 2**20,
            "operators.persisted_mb": sum(x[4] for x in mine) / per,
        }
