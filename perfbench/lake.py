"""``lake_day``: one day of the paper's hourly cron over generated bronze.

Per hour: ``DataLakeIngester.upload`` of that hour's ``.json.gz``, then
``DataLakeTransformer.serialise_raw_data`` (the reference-parity single
silver file) and ``serialise_raw_data_bucketed`` (the day-partitioned,
repo-bucketed silver table). At the end of the day:
``aggregate_silver_data``, and ``aggregate_silver_data_bucketed`` written
through ``sinks.write_single_parquet``. Every pass uses a fresh
``dataset_base_path``: the bucketed append's batch manifest would turn a
replayed hour into a no-op.
"""

from __future__ import annotations

import functools
import io
import os
import shutil
import time
from datetime import timedelta

import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import LAKE_DAY
from querymix import tree_bytes

GOLD_OP = "gold"
GOLD_KEYS = ["event_type", "repo_id", "repo_name", "repo_url", "event_date"]


def _parquet_rows(root: str) -> int:
    rows = 0
    for r, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
    return rows


def _files(root: str) -> int:
    return sum(len([f for f in fs if not f.startswith((".", "_"))]) for _, _, fs in os.walk(root))


class LakeDay:
    # untimed passes after the checked cold pass; one day already runs
    # the hourly batch code four times
    warmup_passes = 1
    # wall seconds of one warm day at local[2] on a quiet 4-vCPU host
    pass_seconds = 10.0

    def __init__(self, h, manifest: dict):
        from duckdb_pipeline_spark.config import EngineConfig

        self.h = h
        self.manifest = manifest
        self.lake = os.path.join(h.work, "lake")
        shutil.rmtree(self.lake, ignore_errors=True)
        self.cfg = EngineConfig(
            bronze_bucket=f"{self.lake}/bronze", silver_bucket=f"{self.lake}/silver",
            gold_bucket=f"{self.lake}/gold", scheme="")
        self.hours = []
        for x in manifest["hours"]:
            with open(x["file"], "rb") as fh:
                self.hours.append((x["hour"], os.path.basename(x["file"]), fh.read()))
        self.bronze_bytes = sum(len(b) for _, _, b in self.hours)
        self.lines = sum(x["lines"] for x in manifest["hours"])
        self.valid = sum(x["valid"] for x in manifest["hours"])
        # the reference gold's all-NULL group counts the broken lines that
        # DuckDB keeps as NULL rows and Spark's DROPMALFORMED drops: an open
        # divergence between the engine and the pipeline it ports, reported
        # in the info line and checked to hold exactly the broken lines
        ref = pq.read_table(manifest["expected_gold"])
        null_group = functools.reduce(pc.and_, [pc.is_null(ref[k]) for k in GOLD_KEYS])
        self.expected = ref.filter(pc.invert(null_group)).to_pandas()
        self.reference_null_events = pc.sum(ref.filter(null_group)["event_count"]).as_py() or 0
        self.names = [f"h{h:02d}" for h, _, _ in self.hours] + [GOLD_OP]
        self.stored_ratio: list[float] = []
        self.silver_kept: list[float] = []
        self.files_written: list[int] = []
        self.bytes_written: list[int] = []

    def prepare(self) -> None:
        pass

    def _day(self, spark, p: int):
        """One day's ops over a fresh base path. Returns op -> latency and
        the arguments of ``_finish``, which checks and removes the day."""
        from duckdb_pipeline_spark import paths, sinks
        from duckdb_pipeline_spark.ingest import DataLakeIngester
        from duckdb_pipeline_spark.transform import DataLakeTransformer

        h, cfg = self.h, self.cfg
        base = f"gharchive_p{p}"
        ingester = DataLakeIngester(base, cfg)
        tr = DataLakeTransformer(base, spark, cfg)
        lat = {}
        for hour, fname, payload in self.hours:
            op = f"h{hour:02d}"
            dt = LAKE_DAY + timedelta(hours=hour)
            h.attempted += 1
            h.tag(spark, op, p)
            try:
                c0 = h.cpu_now()
                t0 = time.perf_counter()
                with h.span(f"op:{op}"):
                    ingester.upload(io.BytesIO(payload), cfg.bronze_bucket,
                                    paths.hourly_sink_key(base, dt, fname))
                    tr.serialise_raw_data(dt)
                    tr.serialise_raw_data_bucketed(dt)
                lat[op] = h.walls[f"{op}#{p}"] = time.perf_counter() - t0
                h.cpus[f"{op}#{p}"] = h.cpu_now() - c0
            except Exception as e:  # count the op failed, keep running
                h.fail(op, e)
        h.attempted += 1
        h.tag(spark, GOLD_OP, p)
        gold = None
        gold_b = paths.sink_path("agg_bucketed", cfg.zone_url("gold"), base, LAKE_DAY)
        try:
            c0 = h.cpu_now()
            t0 = time.perf_counter()
            with h.span(f"op:{GOLD_OP}"):
                gold = tr.aggregate_silver_data(LAKE_DAY)
                with h.span("gold_bucketed"):
                    sinks.write_single_parquet(tr.aggregate_silver_data_bucketed(LAKE_DAY), gold_b)
            lat[GOLD_OP] = h.walls[f"{GOLD_OP}#{p}"] = time.perf_counter() - t0
            h.cpus[f"{GOLD_OP}#{p}"] = h.cpu_now() - c0
        except Exception as e:
            h.fail(GOLD_OP, e)
            gold = None
        return lat, (spark, tr, gold, gold_b)

    def _finish(self, spark, tr, gold, gold_b) -> None:
        """Check the day's outputs, drop its bucketed silver table and
        remove its lake directories."""
        base = tr.dataset_base_path
        if gold is not None:
            self._check(base, gold, gold_b)
        spark.sql(f"DROP TABLE IF EXISTS {tr._bucketed_silver_table()}")
        for zone in ("bronze", "silver", "gold"):
            shutil.rmtree(os.path.join(self.cfg.zone_url(zone), base), ignore_errors=True)

    def _check(self, base: str, gold: str, gold_b: str) -> None:
        """Both golds equal the DuckDB reference without its all-NULL group
        (hence each other), that group holds exactly the broken lines, and
        silver rows on both paths equal the valid bronze lines. A failed
        check counts the day's gold op failed."""
        from tests.oracle_check import compare

        silver_root = os.path.join(self.cfg.zone_url("silver"), base)
        gold_root = os.path.join(self.cfg.zone_url("gold"), base)
        single = _parquet_rows(os.path.join(silver_root, LAKE_DAY.strftime("%Y-%m-%d")))
        bucketed = _parquet_rows(os.path.join(silver_root, "clean_bucketed"))
        problems = []
        for label, path in (("gold", gold), ("gold_bucketed", gold_b)):
            problems += [f"{label}: {x}" for x in compare(
                label, pq.read_table(path).to_pandas(), self.expected)]
        if self.reference_null_events != self.lines - self.valid:
            problems.append(f"reference all-NULL group holds {self.reference_null_events} "
                            f"events, not the {self.lines - self.valid} broken lines")
        if single != self.valid or bucketed != self.valid:
            problems.append(f"silver rows {single}/{bucketed} != valid bronze lines {self.valid}")
        if problems:
            self.h.failed += 1
            self.h.note_failure(GOLD_OP, "; ".join(problems)[:300])
        written = tree_bytes([silver_root, gold_root])
        self.stored_ratio.append(written / self.bronze_bytes)
        self.silver_kept.append(single / self.lines)
        self.files_written.append(_files(silver_root) + _files(gold_root))
        self.bytes_written.append(written)

    def cold_pass(self, spark) -> None:
        self.cold_s, self._pending = self._day(spark, 0)

    def check(self) -> None:
        self._finish(*self._pending)

    def run_pass(self, spark, p: int) -> dict[str, float]:
        lat, done = self._day(spark, p)
        self._finish(*done)
        return lat

    def stored_bytes_ratio(self) -> float:
        return self.stored_ratio[-1]

    def layer_metrics(self, passes: list[int]) -> dict:
        return {
            "ingest.bytes_mb": self.bronze_bytes / 2**20,
            "sources.rows_in": self.lines,
            "sources.rows_kept_ratio": self.silver_kept[-1] if self.silver_kept else 0.0,
            "sinks.files_written": self.files_written[-1] if self.files_written else 0,
            "sinks.bytes_written_mb": self.bytes_written[-1] / 2**20 if self.bytes_written else 0.0,
        }
