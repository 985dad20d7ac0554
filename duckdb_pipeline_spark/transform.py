"""Medallion bronze→silver→gold pipeline, Spark-first.

Reproduces the query semantics of the reference's DataLakeTransformer
(/root/reference/data_lake_transformer.py:9-242) as lazy DataFrame
plans:

- ``register_raw_gharchive``  = error-tolerant JSON scan (S2)
- ``clean_raw_gharchive``     = 9-column nested-struct projection (P1/P2)
- ``aggregate_raw_gharchive`` = GROUP BY ALL daily count (A1/A2, P3/P4)

Key semantic shims vs DuckDB (SURVEY.md §4):
- ``DATE_TRUNC('day', CAST(x AS TIMESTAMP))`` returns DATE in DuckDB →
  Spark ``to_date(cast(x as timestamp))`` (bare date_trunc would yield
  TIMESTAMP).
- ``GROUP BY ALL`` → explicit groupBy over every non-aggregate column.
- eager ``CREATE OR REPLACE TABLE`` chain → lazy temp views; Catalyst
  fuses scan+project+write into one stage (no materialization cost).

Scale notes: each hourly/daily batch is embarrassingly partition-
parallel (one task per input file). The reference-parity path has one
shuffle, the gold aggregation's partial→final hash aggregate, keyed on
(event_type, repo_id, repo_name, repo_url, day) — high-cardinality
enough not to skew. The bucketed path moves its one shuffle to the
hourly silver append (hash of repo_id into one task per slot,
``sinks.bucket_aligned``), so its gold aggregate runs with none.
"""

from __future__ import annotations

import logging
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import paths, sinks
from .catalog import register, resolve
from .config import EngineConfig
# write_bucketed_table is called as sinks.write_bucketed_table, so a
# wrapper installed on the sinks module (the benchmark's layer spans)
# sees the lake path's call; write_single_parquet is also wrapped here.
from .sinks import write_single_parquet
from .sources import GHARCHIVE_EVENT_SCHEMA, read_json_auto

logger = logging.getLogger(__name__)


def clean_projection(raw: DataFrame) -> DataFrame:
    """The silver 'clean' projection (data_lake_transformer.py:92-104).

    9 columns, struct fields flattened, ``created_at`` passed through
    unchanged as a string (verified by reference test
    tests/test_dl_transformer.py:71).
    """
    return raw.select(
        F.col("id").alias("event_id"),
        F.col("actor.id").alias("user_id"),
        F.col("actor.login").alias("user_name"),
        F.col("actor.display_login").alias("user_display_name"),
        F.col("type").alias("event_type"),
        F.col("repo.id").alias("repo_id"),
        F.col("repo.name").alias("repo_name"),
        F.col("repo.url").alias("repo_url"),
        F.col("created_at").alias("event_date"),
    )


def daily_aggregate(silver: DataFrame) -> DataFrame:
    """The gold daily roll-up (data_lake_transformer.py:116-126).

    GROUP BY ALL over the 5 non-aggregate select expressions; DuckDB's
    ``DATE_TRUNC('day', ...)`` → DATE maps to ``to_date``.
    """
    keyed = silver.select(
        "event_type",
        "repo_id",
        "repo_name",
        "repo_url",
        F.to_date(F.col("event_date").cast("timestamp")).alias("event_date"),
    )
    return keyed.groupBy(
        "event_type", "repo_id", "repo_name", "repo_url", "event_date"
    ).agg(F.count(F.lit(1)).alias("event_count"))


class DataLakeTransformer:
    """Spark port of the reference transformer's public surface."""

    def __init__(
        self,
        dataset_base_path: str,
        spark: SparkSession,
        config: EngineConfig | None = None,
    ):
        self.dataset_base_path = dataset_base_path
        self.spark = spark
        self.config = config or EngineConfig.from_env()

    # -- stage queries (lazy relations) ---------------------------------

    def register_raw_gharchive(self, source_path: str) -> DataFrame:
        """Bronze JSON scan → temp view ``gharchive_raw`` (ref :73-83)."""
        logger.info("collect source data files: %s", source_path)
        raw = read_json_auto(self.spark, source_path, schema=GHARCHIVE_EVENT_SCHEMA)
        return register(raw, "gharchive_raw")

    def clean_raw_gharchive(self, raw_dataset: str) -> DataFrame:
        """Clean projection → temp view ``gharchive_clean`` (ref :85-107).

        ``raw_dataset`` is a table name or a path (polymorphic, like
        DuckDB's replacement scan).
        """
        clean = clean_projection(resolve(self.spark, raw_dataset))
        return register(clean, "gharchive_clean")

    def aggregate_raw_gharchive(self, raw_dataset: str) -> DataFrame:
        """Daily aggregate → temp view ``gharchive_agg`` (ref :109-128)."""
        agg = daily_aggregate(resolve(self.spark, raw_dataset))
        return register(agg, "gharchive_agg")

    # -- batch entry points (ref :35-71) --------------------------------

    def _bronze_hour(self, process_date: datetime) -> str:
        """The bronze directory of one hour, which both serialise paths
        read. Raises FileNotFoundError unless it holds a visible (not
        ``_``/``.``-prefixed) file: with the schema given, Spark reads
        such a directory as zero rows, and an hour a failed landing
        left empty must fail as loudly as the reference's unmatched
        glob does, not commit an empty silver file or a batch marker
        that makes the replay a no-op."""
        source = paths.raw_hourly_dir(
            self.config.zone_url("bronze"), self.dataset_base_path, process_date
        )
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(source)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        names = []
        if fs.exists(hpath):
            names = [st.getPath().getName() for st in fs.listStatus(hpath)]
        if all(n.startswith(("_", ".")) for n in names):
            raise FileNotFoundError(f"no bronze file for the hour: {source}")
        return source

    def serialise_raw_data(self, process_date: datetime) -> str:
        """Bronze hour → silver parquet (ref serialise_raw_data :35-52)."""
        self.register_raw_gharchive(self._bronze_hour(process_date))
        clean = self.clean_raw_gharchive("gharchive_raw")
        sink = paths.sink_path(
            "clean",
            self.config.zone_url("silver"),
            self.dataset_base_path,
            process_date,
            hourly=True,
        )
        logger.info("serialise and export cleaned data to %s", sink)
        return write_single_parquet(clean, sink)

    # -- bucketed-silver variants (round 8, VERDICT r7 #7) --------------
    #
    # The single-file silver export above is the reference-parity path
    # (exact filename, one file per hour). At lake scale the silver
    # WRITER owns the at-rest layout instead: day-partitioned for
    # pruning, bucketed by the analytics key so the gold aggregation
    # (and any repo-keyed join) consumes the distribution with zero
    # Exchanges — the per-query `_ensure` scratch tables in
    # queries/bucketed.py exist only because the driver's testdata is
    # a read-only external corpus this writer never produced.

    _SILVER_BUCKETS = 32

    def _bucketed_silver_table(self) -> str:
        safe = "".join(
            c if c.isalnum() else "_" for c in self.dataset_base_path
        ).strip("_")
        return f"silver_clean_bucketed_{safe}"

    def serialise_raw_data_bucketed(self, process_date: datetime) -> str:
        """Bronze hour → day-partitioned, repo-bucketed silver table.
        Appends one file per (day, bucket); returns the table name."""
        self.register_raw_gharchive(self._bronze_hour(process_date))
        # partition key = PROCESSING day (mirrors the reference's
        # directory semantics: aggregate_silver_data reads the
        # process-date directory, whatever event timestamps the hourly
        # files contain), so the bucketed gold equals the glob path
        clean = clean_projection(resolve(self.spark, "gharchive_raw")).withColumn(
            "process_day", F.lit(process_date.date())
        )
        path = os.path.join(
            self.config.zone_url("silver"), self.dataset_base_path, "clean_bucketed"
        )
        logger.info("serialise cleaned data to bucketed silver at %s", path)
        return sinks.write_bucketed_table(
            clean,
            self._bucketed_silver_table(),
            path,
            bucket_key="repo_id",
            n_buckets=self._SILVER_BUCKETS,
            sort_cols=["repo_id"],
            partition_cols=["process_day"],
            # retry-safe: replaying the same hour is a no-op (the
            # append would otherwise double-count in bucketed gold)
            batch_id=process_date.strftime("%Y%m%d_%H"),
        )

    def aggregate_silver_data_bucketed(self, process_date: datetime) -> DataFrame:
        """Gold daily roll-up straight off the bucketed silver table:
        the process-day filter prunes to that day's partition, and the GROUP BY
        (which includes repo_id, the bucket key) reuses the bucket
        distribution — the whole gold aggregation plans with ZERO
        shuffle Exchanges (pinned in tests/test_transform.py). Returns
        the lazy gold relation; callers pick the sink."""
        silver = self.spark.table(self._bucketed_silver_table()).where(
            F.col("process_day") == F.lit(process_date.date())
        )
        return daily_aggregate(silver.drop("process_day"))

    def aggregate_silver_data(self, process_date: datetime) -> str:
        """Silver day → gold parquet (ref aggregate_silver_data :54-71)."""
        source = paths.silver_daily_glob(
            self.config.zone_url("silver"), self.dataset_base_path, process_date
        )
        logger.info("aggregate silver data in %s", source)
        agg = self.aggregate_raw_gharchive(source)
        sink = paths.sink_path(
            "agg",
            self.config.zone_url("gold"),
            self.dataset_base_path,
            process_date,
            hourly=False,
        )
        logger.info("export aggregated data to %s", sink)
        return write_single_parquet(agg, sink)
