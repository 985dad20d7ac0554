"""Invariant tests for the round-8 session-4 operators: Gram matrix,
bigram-LM scoring, SCD2 dimension build, Lloyd k-means step. Oracle
parity is covered by the driver protocol (tests/oracle_check.py); these
pin the semantic invariants an oracle diff would not explain well."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_pipeline_spark.queries.quality import text_bigram_xent
from duckdb_pipeline_spark.queries.similarity import (
    _LLOYD_K,
    embedding_gram_matrix,
    kmeans_lloyd_step,
)
from duckdb_pipeline_spark.queries.timeseries import scd2_user_attributes
from tests.conftest import SF_SMOKE


def test_gram_matrix_partition_invariant(spark):
    """The fixed-point partial fold must be exact: any repartitioning
    of the input yields bitwise-identical sums (the claim that makes
    the d x d partial the 100 TB shape — reducers add exact ints)."""
    from duckdb_pipeline_spark.operators.similarity import gram_matrix_partials

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def total(df):
        return {
            (r["i"], r["j"]): r["s_fp"]
            for r in gram_matrix_partials(df)
            .groupBy("i", "j")
            .agg(F.sum("s").alias("s_fp"))
            .collect()
        }

    a = total(emb.repartition(1))
    b = total(emb.repartition(7, "vec_id"))
    assert a == b and len(a) == 64 * 65 // 2


def test_gram_matrix_diagonal_positive(spark):
    out = embedding_gram_matrix(spark, SF_SMOKE)
    diag = out.where(F.col("i") == F.col("j"))
    assert diag.where(F.col("gram") <= 0).count() == 0
    # n_vecs constant across cells and equal to the corpus count
    n = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .where(F.col("embedding").isNotNull())
        .count()
    )
    assert out.select("n_vecs").distinct().collect()[0][0] == n


def test_bigram_xent_invariants(spark):
    out = text_bigram_xent(spark, SF_SMOKE).persist()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    # every scored doc has >= 2 tokens; every >=2-token doc is scored
    n_docs = docs.where(
        F.size(F.expr("filter(split(text, ' '), x -> x <> '')")) >= 2
    ).count()
    assert out.count() == n_docs
    # cross-entropy under a proper (sub-)probability model is positive
    assert out.where(F.col("xent") <= 0).count() == 0
    # reference docs (in-LM by construction) should score lower on
    # average than out-of-reference docs
    j = out.join(docs.select("doc_id", "source"), "doc_id")
    avg = {
        r["in_ref"]: r["m"]
        for r in j.groupBy((F.col("source") == "src0").alias("in_ref"))
        .agg(F.avg("xent").alias("m"))
        .collect()
    }
    assert avg[True] < avg[False]
    out.unpersist()


def test_scd2_intervals_partition_users(spark):
    out = scd2_user_attributes(spark, SF_SMOKE).persist()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    # exactly one open (is_current) interval per user
    per_user = out.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("open"),
        F.sum("n_events").alias("n"),
    )
    assert per_user.where(F.col("open") != 1).count() == 0
    # event counts are partitioned exactly: interval n_events sums to
    # the user's event count
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_true"))
    bad = per_user.join(truth, "user_id").where(F.col("n") != F.col("n_true"))
    assert bad.count() == 0
    # intervals do not overlap: valid_to of a row equals the next
    # row's valid_from (lead construction), so ordering by valid_from
    # the closed intervals must be strictly increasing
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("valid_from")
    seq = out.withColumn("nxt", F.lead("valid_from").over(w))
    viol = seq.where(
        F.col("valid_to").isNotNull() & (F.col("valid_to") != F.col("nxt"))
    )
    assert viol.count() == 0
    out.unpersist()


def test_kmeans_step_counts_and_bounds(spark):
    out = kmeans_lloyd_step(spark, SF_SMOKE).persist()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n = emb.count()
    dim = 64
    # every populated cell emits exactly dim component rows
    cells = out.groupBy("cell").agg(
        F.count(F.lit(1)).alias("k"), F.max("n_members").alias("m")
    )
    assert cells.where(F.col("k") != dim).count() == 0
    # membership partitions the corpus
    tot = cells.agg(F.sum("m")).collect()[0][0]
    assert tot == n
    assert cells.count() <= _LLOYD_K
    # centroid components stay inside the data's component range
    lo, hi = (
        emb.select(
            F.min(F.array_min("embedding")), F.max(F.array_max("embedding"))
        ).collect()[0]
    )
    bad = out.where((F.col("centroid") < lo - 1e-9) | (F.col("centroid") > hi + 1e-9))
    assert bad.count() == 0
    out.unpersist()


def test_scd2_asof_enrich_covers_every_purchase(spark):
    """The interval join must match every purchase to EXACTLY one
    validity interval: total n_purchases equals the raw purchase
    count (a gap or overlap in the dimension would break parity)."""
    from duckdb_pipeline_spark.queries.timeseries import scd2_asof_enrich

    out = scd2_asof_enrich(spark, SF_SMOKE)
    got = out.agg(F.sum("n_purchases")).collect()[0][0]
    want = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert got == want


def test_pca_audit_all_bounds_true(spark):
    from duckdb_pipeline_spark.queries.similarity import pca_variance_audit

    row = pca_variance_audit(spark, SF_SMOKE).collect()[0]
    assert row["trace_fp"] > 0
    assert row["eig_sum_matches_trace"] is True
    assert row["eigs_nonneg"] is True
    assert row["pc1_frac_in_range"] is True
