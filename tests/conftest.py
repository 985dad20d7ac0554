import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_pipeline_spark.session import build_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def split_docs_dir(spark, sf_dir, tmp_path_factory):
    """The smoke `documents` table re-written as one parquet file per
    default-parallelism slot: an input well enough split that
    `queries.common.spread` leaves it as it is."""
    out = str(tmp_path_factory.mktemp("split_docs") / "documents")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(spark.sparkContext.defaultParallelism).write.parquet(out)
    return out
