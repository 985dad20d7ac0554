"""Path-codec parity tests.

Cases are the reference's own (tests/test_dl_transformer.py:76-97 plus
the codecs at data_lake_transformer.py:178-192 and
data_lake_ingester.py:26-30,102-113).
"""

from datetime import datetime

from duckdb_pipeline_spark import paths

TS_H = datetime(2024, 10, 1, 7, 0, 0)
TS_D = datetime(2024, 10, 1)


def test_extract_filename_basic():
    assert (
        paths.extract_filename_from_path("s3://bucket/path/to/file.json.gz")
        == "file.json.gz"
    )


def test_extract_filename_remove_compression_ext():
    assert (
        paths.extract_filename_from_path(
            "s3://bucket/path/to/file.json.gz", remove_extension=True
        )
        == "file"
    )
    assert (
        paths.extract_filename_from_path("s3://b/x/archive.csv.zst", remove_extension=True)
        == "archive"
    )


def test_extract_filename_plain_ext():
    assert (
        paths.extract_filename_from_path("s3://b/x/data.parquet", remove_extension=True)
        == "data"
    )


def test_extract_filename_multi_dot():
    assert (
        paths.extract_filename_from_path("s3://b/x/my.data.file.json.gz", remove_extension=True)
        == "my.data.file"
    )


def test_extract_filename_no_prefix():
    assert paths.extract_filename_from_path("just/a/file.txt") == "file.txt"


def test_partition_paths():
    assert paths.partition_path(TS_H, hourly=True) == "2024-10-01/07"
    assert paths.partition_path(TS_H) == "2024-10-01"


def test_export_filenames():
    assert paths.export_filename("clean", TS_H, hourly=True) == "clean_20241001_07.parquet"
    assert paths.export_filename("agg", TS_D) == "agg_20241001.parquet"


def test_source_url_hour_not_padded():
    assert paths.gharchive_source_url(TS_H) == "http://data.gharchive.org/2024-10-01-7.json.gz"
    assert (
        paths.gharchive_source_url(datetime(2024, 10, 1, 17))
        == "http://data.gharchive.org/2024-10-01-17.json.gz"
    )


def test_sink_key_hour_padded():
    assert (
        paths.hourly_sink_key("gharchive/events", TS_H, "2024-10-01-7.json.gz")
        == "gharchive/events/2024-10-01/07/2024-10-01-7.json.gz"
    )


def test_globs_and_sink_path():
    assert (
        paths.raw_hourly_dir("/lake/bronze", "gharchive/events", TS_H)
        == "/lake/bronze/gharchive/events/2024-10-01/07"
    )
    assert (
        paths.silver_daily_glob("/lake/silver", "gharchive/events", TS_D)
        == "/lake/silver/gharchive/events/2024-10-01/*/*.parquet"
    )
    assert (
        paths.sink_path("agg", "/lake/gold", "gharchive/events", TS_D)
        == "/lake/gold/gharchive/events/2024-10-01/agg_20241001.parquet"
    )


def test_process_hour_previous_full_hour():
    """F4 scheduler arithmetic: hourly jobs process the PREVIOUS full
    hour (the reference's code subtracts 1h even though its comment
    says 2 — code behavior preserved)."""
    from datetime import datetime

    from duckdb_pipeline_spark.paths import process_hour

    assert process_hour(datetime(2024, 10, 1, 5, 37, 12)) == datetime(2024, 10, 1, 4)
    assert process_hour(datetime(2024, 10, 1, 0, 0, 0)) == datetime(2024, 9, 30, 23)
    assert process_hour(datetime(2024, 1, 1, 0, 59, 59)) == datetime(2023, 12, 31, 23)


def test_process_day_previous_midnight():
    from datetime import datetime

    from duckdb_pipeline_spark.paths import process_day

    assert process_day(datetime(2024, 10, 1, 5, 37)) == datetime(2024, 9, 30)
    assert process_day(datetime(2024, 1, 1, 0, 0)) == datetime(2023, 12, 31)
