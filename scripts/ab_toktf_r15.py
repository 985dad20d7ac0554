#!/usr/bin/env python3
"""Same-session alternated A/B of the tf-projection BUILD job shapes
(VERDICT r14 #3): (new) one raw-doc shuffle before the explode — the
r14 shape shipped in tokcache._ensure_doc_tf — vs (old) the r13 shape:
explode at scan parallelism, groupBy shuffle of token-scale rows, then
a second repartition(_N_BUCKETS, doc_id) shuffle for the bucketed
write. Each pass writes the full bucketed table to a throwaway
location (same bucketBy/sortBy/saveAsTable path as the real build) and
drops it; passes alternate so host drift hits both shapes equally.

Usage: python scripts/ab_toktf_r15.py <sf_dir> [passes]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from duckdb_pipeline_spark import layouts
    from duckdb_pipeline_spark.queries import tokcache
    from duckdb_pipeline_spark.queries.common import load

    spark = benchmod._spark_session(cpus, sf_dir)
    N = tokcache._N_BUCKETS
    base = load(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def tf_new():
        return (
            base.repartition(N, F.col("doc_id"))
            .select(
                "doc_id", "source",
                F.explode(tokcache._tokens_expr("space")).alias("token"),
            )
            .groupBy("doc_id", "source", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("doc_id", "token", "tf", "source")
        )

    def tf_old():
        return (
            base.select(
                "doc_id", "source",
                F.explode(tokcache._tokens_expr("space")).alias("token"),
            )
            .groupBy("doc_id", "source", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("doc_id", "token", "tf", "source")
            .repartition(N, F.col("doc_id"))
        )

    scratch = layouts.location("toktf_ab_r15", sf_dir)

    def run(tag: str, df) -> float:
        path = os.path.join(scratch, tag)
        tname = f"toktf_ab_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(path, ignore_errors=True)
        spark.sparkContext.setJobDescription(f"toktf-build:{tag}")
        t0 = time.time()
        (
            df.write.bucketBy(N, "doc_id")
            .sortBy("doc_id")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tname)
        )
        dt = time.time() - t0
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(path, ignore_errors=True)
        return dt

    run("new", tf_new())  # warmup both (codegen, listing)
    run("old", tf_old())
    s = {"new": [], "old": []}
    for _ in range(passes):
        s["new"].append(run("new", tf_new()))
        s["old"].append(run("old", tf_old()))
    for k, v in s.items():
        print(f"{k}: min={min(v):.3f} med={sorted(v)[len(v)//2]:.3f} "
              f"all={[round(x, 3) for x in v]}")
    spark.stop()


if __name__ == "__main__":
    main()
