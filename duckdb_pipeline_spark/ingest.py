"""Bronze landing: HTTP fetch → partitioned object-store upload.

Port of the reference DataLakeIngester
(/root/reference/data_lake_ingester.py:9-120). Bronze is a byte-copy —
no parsing — so a single hour stays a driver-side task; a BACKFILL over
an hour range is distributed by parallelizing the fetch across the
cluster (one task per hour) via ``backfill()``.

Network deps are import-gated: ``requests``/``boto3`` may be absent in
the build container; local-filesystem landing needs neither.
"""

from __future__ import annotations

import io
import logging
import os
import time
from datetime import datetime, timedelta

from . import paths
from .config import EngineConfig
from .sinks import replace_file

logger = logging.getLogger(__name__)

# HTTP fetch bounds: seconds per connect/read, attempts in all, and the
# first backoff (doubled per retry). Only connection errors, timeouts
# and 5xx are retried; any other non-200 raises at once.
FETCH_TIMEOUT_S = 60
FETCH_ATTEMPTS = 3
FETCH_BACKOFF_S = 1.0

try:  # pragma: no cover - availability depends on environment
    import requests  # type: ignore
except ImportError:  # pragma: no cover
    requests = None

try:  # pragma: no cover
    import boto3  # type: ignore
except ImportError:  # pragma: no cover
    boto3 = None


class DataLakeIngester:
    """Hourly gharchive ingest (ref data_lake_ingester.py:22-34)."""

    def __init__(self, dataset_base_path: str, config: EngineConfig | None = None):
        self.dataset_base_path = dataset_base_path
        self.config = config or EngineConfig.from_env()

    def ingest_hourly_gharchive(self, process_date: datetime) -> str:
        """Fetch one hourly dump and land it in bronze.

        URL hour is NOT zero-padded; partition hour IS (ref :26-30 vs
        :102-113).
        """
        data_url = paths.gharchive_source_url(process_date)
        filename = data_url.rsplit("/", 1)[-1]
        key = paths.hourly_sink_key(self.dataset_base_path, process_date, filename)
        data = self.collect_data(data_url)
        return self.upload(data, self.config.bronze_bucket, key)

    def collect_data(self, data_url: str) -> io.BytesIO:
        """HTTP GET into memory; raises on non-200 (ref :36-47).

        Each attempt is bounded by ``FETCH_TIMEOUT_S``; connection
        errors, timeouts and 5xx are retried up to ``FETCH_ATTEMPTS``
        attempts in all, with exponential backoff."""
        if requests is None:
            raise RuntimeError("requests not available in this environment")
        logger.info("The URL to download is: %s", data_url)
        for attempt in range(FETCH_ATTEMPTS):
            last = attempt == FETCH_ATTEMPTS - 1
            try:
                response = requests.get(data_url, timeout=FETCH_TIMEOUT_S)
            except (requests.ConnectionError, requests.Timeout) as exc:
                if last:
                    raise
                logger.warning("Fetch of %s failed (%s); retrying", data_url, exc)
            else:
                if response.status_code == 200:
                    return io.BytesIO(response.content)
                logger.error(
                    "Failed to download %s. Status: %s", data_url, response.status_code
                )
                if response.status_code < 500 or last:
                    response.raise_for_status()
            time.sleep(FETCH_BACKOFF_S * 2**attempt)

    def _progress_callback(self, bytes_transferred: int) -> None:
        """Upload-progress hook (ref _s3_progress_callback :116-120):
        logs cumulative bytes as the transfer manager reports them.
        Wired into both the boto3 Callback= path and the local-dir
        path so tests observe the same contract."""
        logger.info("Transferred: %s bytes", bytes_transferred)

    def upload(self, data: io.BytesIO, bucket: str, key: str) -> str:
        """Byte-copy into the bronze zone (ref upload_to_s3 :49-62).

        Local-dir buckets (tests) land atomically through
        `sinks.replace_file` (a hidden temp file, which the hour's bronze
        glob and Spark's file index skip, renamed onto the target), so a
        crash never leaves a torn ``.json.gz`` for ``serialise_raw_data``
        to parse. Real buckets go through boto3.
        """
        if bucket.startswith("/") or self.config.scheme in ("", "file://"):
            target = os.path.join(bucket, key)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            payload = data.getvalue()
            replace_file(target, payload)
            self._progress_callback(len(payload))
            logger.info("Landed %s", target)
            return target
        if boto3 is None:
            raise RuntimeError("boto3 not available in this environment")
        client = boto3.client("s3", **self._s3_credentials())
        client.upload_fileobj(data, bucket, key, Callback=self._progress_callback)
        logger.info("Successfully uploaded %s to %s", key, bucket)
        return f"s3://{bucket}/{key}"

    def backfill(self, spark, start: datetime, end: datetime) -> list[str]:
        """Distributed backfill: one task per hour across the cluster.

        The only legitimate RDD use in this engine — per-partition
        imperative I/O with no relational semantics.
        """
        hours = []
        cur = start.replace(minute=0, second=0, microsecond=0)
        while cur <= end:
            hours.append(cur)
            cur += timedelta(hours=1)
        base, cfg = self.dataset_base_path, self.config

        def _one(ts: datetime) -> str:
            return DataLakeIngester(base, cfg).ingest_hourly_gharchive(ts)

        n = max(1, len(hours))
        return spark.sparkContext.parallelize(hours, n).map(_one).collect()

    def _s3_credentials(self) -> dict:
        creds = {}
        if self.config.s3_access_key_id:
            creds["aws_access_key_id"] = self.config.s3_access_key_id
        if self.config.s3_secret_access_key:
            creds["aws_secret_access_key"] = self.config.s3_secret_access_key
        if self.config.s3_region_name:
            creds["region_name"] = self.config.s3_region_name
        if self.config.s3_endpoint:
            creds["endpoint_url"] = self.config.s3_endpoint
        return creds
