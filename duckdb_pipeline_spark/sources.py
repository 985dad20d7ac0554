"""Schema-pinned readers (SURVEY.md §2.1).

S2: error-tolerant auto-schema JSON scan — the reference's
``read_json_auto(glob, ignore_errors=true)``
(/root/reference/data_lake_transformer.py:81-82) maps to
``spark.read.json`` with ``mode=DROPMALFORMED``. For 100 TB we pin an
explicit schema (gharchive events) so Spark prunes JSON fields at parse
time instead of inferring per batch; inference remains the fallback.

S3: multi-level parquet glob scan
(/root/reference/data_lake_transformer.py:172-176) — native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Pinned schema for the slice of the gharchive record the pipeline
# consumes (reference projection data_lake_transformer.py:92-104;
# fixture shape tests/test_dl_transformer.py:24-29). Real gharchive
# records carry ~100 more fields — with a pinned schema Spark's JSON
# parser skips them entirely (projection pushdown into the parse).
GHARCHIVE_EVENT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField(
            "actor",
            StructType(
                [
                    StructField("id", LongType()),
                    StructField("login", StringType()),
                    StructField("display_login", StringType()),
                ]
            ),
        ),
        StructField("type", StringType()),
        StructField(
            "repo",
            StructType(
                [
                    StructField("id", LongType()),
                    StructField("name", StringType()),
                    StructField("url", StringType()),
                ]
            ),
        ),
        StructField("created_at", StringType()),
    ]
)


def read_json_auto(
    spark: SparkSession,
    path: str,
    schema: StructType | None = GHARCHIVE_EVENT_SCHEMA,
    ignore_errors: bool = True,
) -> DataFrame:
    """``read_json_auto(path, ignore_errors=true)`` equivalent.

    With ``schema=None`` Spark infers (two passes over the data — fine
    for tests, avoid at scale). ``ignore_errors`` -> DROPMALFORMED.

    Note: one giant ``.json.gz`` file is unsplittable; hourly bronze
    files keep per-file sizes bounded, and many files per glob restore
    scan parallelism (one task per file).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if ignore_errors:
        reader = reader.option("mode", "DROPMALFORMED")
    return reader.json(path)


def read_parquet_glob(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan over a (possibly multi-level) glob.

    ``merge_schema=True`` unions the schemas of all footers (columns
    added over a table's lifetime read as NULL in older files) — the
    lake schema-evolution read path. Off by default: footer-merging
    lists and reads every file's metadata up front, which a 100 TB
    steady-state scan should not pay when the schema is known stable.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    mode: str = "DROPMALFORMED",
) -> DataFrame:
    """CSV scan; error-tolerant by default (mirrors the JSON reader's
    contract: malformed lines drop instead of failing the batch). Pass
    an explicit DDL ``schema`` in production — inference costs an extra
    pass and pins nothing."""
    reader = spark.read.option("header", str(header).lower()).option("mode", mode)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (native vectorized reader; same pushdown/pruning
    contract as parquet — asserted in tests)."""
    return spark.read.orc(path)
