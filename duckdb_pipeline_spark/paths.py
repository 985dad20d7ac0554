"""Partition-path and filename codecs (pure functions).

Behavior-parity ports of the reference's file-level dataflow operators
(SURVEY.md §2.7):

- F1 partition-path codec: hourly ``YYYY-MM-DD/HH`` / daily
  ``YYYY-MM-DD`` (/root/reference/data_lake_transformer.py:178-184,
  data_lake_ingester.py:102-113)
- F2 export-filename codec: ``{type}_{YYYYMMDD[_HH]}.parquet``
  (/root/reference/data_lake_transformer.py:186-192)
- F3 filename-from-path extractor with compression-extension stripping
  (/root/reference/data_lake_transformer.py:144-164; fully specified by
  /root/reference/tests/test_dl_transformer.py:76-97)
- source-URL hour is NOT zero-padded (``%-H``,
  /root/reference/data_lake_ingester.py:26-30) while partition hour IS.

These stay pure-Python: at 100 TB the path layout IS the partition
pruning strategy (a day/hour glob touches only its files), so the codec
must be exact and cheap.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

COMPRESSION_EXTENSIONS = [".gz", ".bz2", ".zip", ".xz", ".zst"]


def partition_path(process_date: datetime, hourly: bool = False) -> str:
    """``YYYY-MM-DD/HH`` (hourly) or ``YYYY-MM-DD`` (daily)."""
    if hourly:
        return process_date.strftime("%Y-%m-%d/%H")
    return process_date.strftime("%Y-%m-%d")


def export_filename(
    data_type: str,
    process_date: datetime,
    hourly: bool = False,
    file_extension: str = "parquet",
) -> str:
    """``{data_type}_{YYYYMMDD[_HH]}.{ext}``."""
    fmt = "%Y%m%d_%H" if hourly else "%Y%m%d"
    return f"{data_type}_{process_date.strftime(fmt)}.{file_extension}"


def extract_filename_from_path(path: str, remove_extension: bool = False) -> str:
    """Basename of an s3://-style path, optionally stripping one
    compression extension then the format extension."""
    without_prefix = path.replace("s3://", "").replace("s3a://", "")
    full_filename = os.path.basename(without_prefix)
    if not remove_extension:
        return full_filename
    filename, extension = os.path.splitext(full_filename)
    if extension.lower() in COMPRESSION_EXTENSIONS:
        filename, _ = os.path.splitext(filename)
    return filename


def gharchive_source_url(process_date: datetime) -> str:
    """Hourly dump URL; hour WITHOUT leading zero (observed `%-H`)."""
    hour = str(process_date.hour)  # %-H is platform-dependent; compute directly
    return f"http://data.gharchive.org/{process_date.strftime('%Y-%m-%d')}-{hour}.json.gz"


def hourly_sink_key(base_path: str, process_date: datetime, filename: str) -> str:
    """``{base}/{YYYY-MM-DD}/{HH}/{filename}`` (zero-padded hour)."""
    return f"{base_path}/{partition_path(process_date, hourly=True)}/{filename}"


def raw_hourly_dir(bucket_url: str, base_path: str, process_date: datetime) -> str:
    """Bronze directory of one hour: ``{bucket}/{base}/{Y-m-d}/{HH}``.

    The reference reads the glob ``<dir>/*``; Spark reads the directory
    itself, which skips ``_``/``.`` files as the glob does. A glob makes
    Spark's streaming-sink metadata probe look the pattern up as a
    literal path, which fails once per read with a WARN stack trace."""
    return f"{bucket_url}/{base_path}/{partition_path(process_date, hourly=True)}"


def silver_daily_glob(bucket_url: str, base_path: str, process_date: datetime) -> str:
    """Silver source glob for one day: ``{bucket}/{base}/{Y-m-d}/*/*.parquet``."""
    return f"{bucket_url}/{base_path}/{partition_path(process_date)}/*/*.parquet"


def sink_path(
    data_type: str,
    bucket_url: str,
    base_path: str,
    process_date: datetime,
    hourly: bool = False,
) -> str:
    """Full sink path ``{bucket}/{base}/{partition}/{filename}``."""
    part = partition_path(process_date, hourly=hourly)
    fname = export_filename(data_type, process_date, hourly=hourly)
    return f"{bucket_url}/{base_path}/{part}/{fname}"


def process_hour(now: datetime) -> datetime:
    """Cron process date for the hourly jobs (ingest, serialise): the
    PREVIOUS full hour. The reference's comment says 2 hours back; its
    code subtracts 1 — we preserve the code's behavior
    (ref scripts/run_serialise_raw_data.py:13-25)."""
    return now.replace(minute=0, second=0, microsecond=0) - timedelta(hours=1)


def process_day(now: datetime) -> datetime:
    """Cron process date for the daily aggregate: the previous UTC day
    at midnight (ref scripts/run_agg_silver_data.py:13-25)."""
    return now.replace(hour=0, minute=0, second=0, microsecond=0) - timedelta(days=1)
