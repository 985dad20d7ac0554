"""Similarity-search queries (north-star ops) over `embeddings`
(array<float>), oracle-checked bitwise (fixed-point integer sums; see
operators.similarity).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ..operators.similarity import (
    ann_recall_audit,
    cosine_pairs_blocked_vectorized,
    cosine_topk_vectorized,
    ivf_topk_pruned,
    ivf_write_index,
    lsh_hyperplanes,
    lsh_topk_vectorized,
)
from .. import layouts
from ..sinks import replace_file
from . import QuerySpec
from .common import load

S = 1_000_000_000


def similarity_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 neighbors of vector 0
    (vectorized numpy scoring; bitwise-equal to the codegen fold)."""
    return cosine_topk_vectorized(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
terms AS (
  SELECT e.vec_id,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(q.qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(e.embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS et,
         CAST(floor(CAST(q.qe[u.i] AS DOUBLE) * CAST(q.qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS qt
  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, CAST(SUM(dt) AS BIGINT) AS dot_i, CAST(SUM(et) AS BIGINT) AS na_i,
         CAST(SUM(qt) AS BIGINT) AS nq_i
  FROM terms GROUP BY vec_id
)
SELECT vec_id,
       CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nq_i AS DOUBLE))) AS cosine
FROM sums
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


def similarity_neardup_blocked(spark, sf_dir):
    """Embedding near-dup pairs, IVF-style blocked by label
    (vectorized per-block numpy kernel; bitwise-equal to the join
    formulation and the oracle)."""
    return cosine_pairs_blocked_vectorized(
        load(spark, sf_dir, "embeddings"), threshold=0.3
    )


NEARDUP_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
),
terms AS (
  SELECT vec_a, vec_b,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM pairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT vec_a, vec_b, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b,
       CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine
FROM sums
WHERE CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) >= 0.3
"""


def similarity_topk_lsh(spark, sf_dir):
    """LSH-bucketed approximate top-10 neighbors of vector 0 — the ANN
    scale path (bucket pruning before exact distance). 4 bits / 16
    buckets keeps buckets populated at test scale; at corpus scale,
    n_bits grows with log2(n / target_bucket_size). Vectorized numpy
    kernel — bitwise-equal to the relational HOF formulation (pytest
    equivalence test)."""
    return lsh_topk_vectorized(
        load(spark, sf_dir, "embeddings"), query_id=0, k=10, n_bits=4
    )


def _lsh_sql(n_bits: int = 8, dim: int = 64) -> str:
    """Oracle for lsh_topk: the ±1 hyperplane constants are generated
    by the SAME md5 derivation (operators.similarity.lsh_hyperplanes)
    and baked into the SQL as list literals."""
    planes = lsh_hyperplanes(n_bits, dim)
    return f"""
WITH planes AS (
  SELECT j, wts FROM (VALUES {", ".join(f"({j}, CAST([{','.join(str(x) for x in planes[j])}] AS BIGINT[]))" for j in range(n_bits))}) AS t(j, wts)
),
proj AS (
  SELECT e.vec_id, p.j,
         SUM(CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) * p.wts[u.i]) AS pr
  FROM embeddings e, planes p, UNNEST(range(1, {dim} + 1)) AS u(i)
  GROUP BY e.vec_id, p.j
),
codes AS (
  SELECT vec_id, CAST(SUM(CASE WHEN pr >= 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
q AS (
  SELECT e.embedding AS qe, c.bucket AS qb
  FROM embeddings e JOIN codes c ON e.vec_id = c.vec_id
  WHERE e.vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.embedding, q.qe
  FROM embeddings e JOIN codes c ON e.vec_id = c.vec_id, q
  WHERE c.bucket = q.qb AND e.vec_id <> 0
),
terms AS (
  SELECT vec_id,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS et,
         CAST(floor(CAST(qe[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS qt
  FROM cand, UNNEST(range(1, {dim} + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, CAST(SUM(dt) AS BIGINT) AS dot_i, CAST(SUM(et) AS BIGINT) AS na_i,
         CAST(SUM(qt) AS BIGINT) AS nq_i
  FROM terms GROUP BY vec_id
)
SELECT vec_id,
       CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nq_i AS DOUBLE))) AS cosine
FROM sums
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


LSH_TOPK_SQL = _lsh_sql(n_bits=4)


def _ensure_ivf_index(spark, sf_dir: str, n_cells: int) -> str:
    """Build (once per corpus version) the cell-partitioned IVF index;
    location and staleness: `layouts.py`. The build is the
    index-construction pass every IVF deployment runs at ingest; the
    ANN query itself then partition-prunes."""
    return layouts.ensure(
        spark, "ivf", sf_dir, ["embeddings"], {"n_cells": n_cells},
        lambda out: ivf_write_index(load(spark, sf_dir, "embeddings"), out, n_cells=n_cells),
    )


def similarity_topk_ivf(spark, sf_dir):
    """IVF approximate top-10 neighbors of vector 0 — the third ANN
    strategy (brute-force / LSH / IVF): deterministic centroids, exact
    integer inner-product cell assignment, top-2-cell probe, exact
    cosine re-rank inside probed cells. The corpus is indexed once into
    a cell-partitioned parquet layout (`_ensure_ivf_index`); the probe
    is then a `cell IN (...)` partition-pruned scan — the plan reads
    n_probe of n_cells partitions (asserted in tests/test_plans.py),
    which is the shape that holds at 100 TB. Result identical to the
    in-map formulation (`ivf_topk_vectorized`), and to the oracle."""
    idx = _ensure_ivf_index(spark, sf_dir, n_cells=8)
    return ivf_topk_pruned(
        spark, idx, load(spark, sf_dir, "embeddings"),
        query_id=0, k=10, n_cells=8, n_probe=2,
    )


def _ivf_sql(n_cells: int = 8, n_probe: int = 2, query_id: int = 0, k: int = 10) -> str:
    """Oracle for ivf_topk_vectorized: same deterministic centroids
    (lowest n_cells ids), same fixed-point integer assignment scores
    with (score DESC, cell_id) tie-break, same probed-cell cosine."""
    return f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < {n_cells}
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
cells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore) WHERE rn = 1
),
probe AS (
  SELECT cell_id FROM (
    SELECT cell_id, row_number() OVER (ORDER BY score DESC, cell_id) AS rn
    FROM ascore WHERE vec_id = {query_id}) WHERE rn <= {n_probe}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_id}),
cand AS (
  SELECT e.vec_id, cl.cell, e.embedding, q.qe
  FROM embeddings e JOIN cells cl ON e.vec_id = cl.vec_id, q
  WHERE cl.cell IN (SELECT cell_id FROM probe) AND e.vec_id <> {query_id}
),
terms AS (
  SELECT vec_id, cell,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS et,
         CAST(floor(CAST(qe[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS qt
  FROM cand, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, cell, CAST(SUM(dt) AS BIGINT) AS dot_i, CAST(SUM(et) AS BIGINT) AS na_i,
         CAST(SUM(qt) AS BIGINT) AS nq_i
  FROM terms GROUP BY vec_id, cell
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell,
       CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nq_i AS DOUBLE))) AS cosine
FROM sums
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


IVF_TOPK_SQL = _ivf_sql()

# Bench-twin amortized IVF (round-6, ADVICE r5): the Spark side of
# `similarity_topk_ivf` times a partition-pruned probe of a PREBUILT
# index (the build runs once, outside the timed region — the amortized
# deployment shape). The correctness ORACLE must recompute everything
# from base tables, but using that same SQL as the bench twin made
# DuckDB rebuild the whole IVF pipeline inside every timed pass —
# biasing the headline ratio in Spark's favor. These statements give
# the twin the SAME amortization: the cell-assignment table is
# materialized once (untimed, mirroring the index build), and the timed
# probe recomputes only what Spark's probe does (query-cell selection +
# in-cell re-rank). bench.py runs the setup after view creation and
# substitutes the probe SQL for this query only.
IVF_BENCH_SETUP_SQL = [
    "DROP TABLE IF EXISTS ivf_bench_cells",
    f"""CREATE TABLE ivf_bench_cells AS
WITH cents AS (SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
cells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore) WHERE rn = 1
)
SELECT e.vec_id, cl.cell, e.embedding
FROM embeddings e JOIN cells cl ON e.vec_id = cl.vec_id""",
]

IVF_BENCH_PROBE_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
qscore AS (
  SELECT c.cell_id, CAST(SUM(
           CAST(floor(CAST(q.qe[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM cents c, q, UNNEST(range(1, len(c.ce) + 1)) AS u(i)
  GROUP BY c.cell_id
),
probe AS (
  SELECT cell_id FROM (
    SELECT cell_id, row_number() OVER (ORDER BY score DESC, cell_id) AS rn
    FROM qscore) WHERE rn <= 2
),
cand AS (
  SELECT t.vec_id, t.cell, t.embedding, q.qe
  FROM ivf_bench_cells t, q
  WHERE t.cell IN (SELECT cell_id FROM probe) AND t.vec_id <> 0
),
terms AS (
  SELECT vec_id, cell,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * CAST(embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS et,
         CAST(floor(CAST(qe[u.i] AS DOUBLE) * CAST(qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS qt
  FROM cand, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, cell, CAST(SUM(dt) AS BIGINT) AS dot_i, CAST(SUM(et) AS BIGINT) AS na_i,
         CAST(SUM(qt) AS BIGINT) AS nq_i
  FROM terms GROUP BY vec_id, cell
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell,
       CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nq_i AS DOUBLE))) AS cosine
FROM sums
ORDER BY cosine DESC, vec_id
LIMIT 10
"""



# ---------------------------------------------------------------------------
# Compressed-domain ADC scan (the distance half of product quantization,
# with a per-DIMENSION uniform scalar grid as the deterministic codebook):
# every vector is coded once to 8-bit codes, the query is coded the same
# way, and candidate distance is the integer sum of squared CODE
# differences — no float accumulation, so cross-engine bitwise equality
# holds without fixed-point tricks. At 100 TB this is the scan that runs
# over a 4x-shrunk columnar index (codes instead of floats) with SIMD
# integer arithmetic; complementary to embedding_quantize_int8 (which is
# the per-vector storage codec) and to IVF (which prunes candidates —
# a production ANN stack composes IVF pruning with this ADC scoring).
# ---------------------------------------------------------------------------

_ADC_K = 10


def similarity_ivf_adc_topk(spark, sf_dir):
    """The COMPOSED production ANN path: IVF cell pruning feeding ADC
    compressed-domain ranking — what a real vector index runs at
    100 TB (FAISS's IVF-ADC shape with a per-dim uniform scalar grid
    as the deterministic codebook). The probe reads ONLY the n_probe
    partitions of the cell-partitioned at-rest index
    (`_ensure_ivf_index`, the similarity_topk_ivf layout), then ranks
    candidates by the integer sum of squared 8-bit code differences
    (the similarity_adc_topk_np codebook, trained corpus-wide — stats
    fetched once at plan build, the IVF-centroid precedent) — so the
    scan is partition-pruned AND runs on 4x-compressed arithmetic,
    with both halves' determinism guarantees intact (exact integer
    distances, (dist, id) total order).

    Plan shape: one bounded driver fetch (centroids + query + per-dim
    stats), then a single partition-pruned scan -> Arrow-batch coding
    kernel -> TakeOrdered. No shuffle of corpus data at any scale."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import SCALE as _SC
    from ..operators.similarity import _ivf_centroids_and_query

    n_cells, n_probe = 8, 2
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx_path = _ensure_ivf_index(spark, sf_dir, n_cells=n_cells)
    C, qv = _ivf_centroids_and_query(emb, 0, n_cells, "vec_id", "embedding")
    empty = emb.select(
        "vec_id",
        F.lit(0).alias("cell"),
        F.lit(0).cast("long").alias("adc_dist"),
    ).where(F.lit(False))
    if qv is None:
        return empty
    qs = np.floor(qv[None, :] * C * _SC).astype("int64").sum(axis=1)
    probe = [int(c) for c in np.lexsort((np.arange(len(qs)), -qs))[:n_probe]]

    dim = len(qv)
    srow = emb.agg(
        F.array(
            *[F.min(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mns"),
        F.array(
            *[F.max(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mxs"),
    ).first()
    mns = np.asarray(srow["mns"], dtype="float64")
    mxs = np.asarray(srow["mxs"], dtype="float64")
    span = mxs - mns
    deg = span == 0.0

    def code(V: "np.ndarray") -> "np.ndarray":
        with np.errstate(divide="ignore", invalid="ignore"):
            Cc = np.floor((V - mns[None, :]) * 255.0 / span[None, :])
        Cc = np.clip(Cc, 0.0, 255.0)
        Cc[:, deg] = 0.0
        return Cc.astype("int64")

    qcode = code(qv[None, :])[0]

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf["vec_id"] != 0].dropna(subset=["embedding"])
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            d = code(V) - qcode[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": pdf["cell"].to_numpy().astype("int32"),
                    "adc_dist": (d * d).sum(axis=1),
                }
            )

    probed = spark.read.parquet(idx_path).where(F.col("cell").isin(probe))
    scored = probed.select("vec_id", "cell", "embedding").mapInPandas(
        score, "vec_id long, cell int, adc_dist long"
    )
    return scored.orderBy("adc_dist", "vec_id").limit(_ADC_K)


IVF_ADC_TOPK_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
cells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore) WHERE rn = 1
),
probe AS (
  SELECT cell_id FROM (
    SELECT cell_id, row_number() OVER (ORDER BY score DESC, cell_id) AS rn
    FROM ascore WHERE vec_id = 0) WHERE rn <= 2
),
el AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT e.vec_id, e.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(least(greatest(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)), 0.0), 255.0) AS INT)
         END AS c
  FROM el e JOIN st s ON s.i = e.i
),
d AS (
  SELECT a.vec_id, SUM(CAST((a.c - q.c) * (a.c - q.c) AS BIGINT)) AS adc_dist
  FROM codes a
  JOIN codes q ON q.vec_id = 0 AND q.i = a.i
  JOIN cells cl ON cl.vec_id = a.vec_id
  WHERE a.vec_id <> 0 AND cl.cell IN (SELECT cell_id FROM probe)
  GROUP BY a.vec_id
)
SELECT d.vec_id, CAST(cl.cell AS INTEGER) AS cell,
       CAST(d.adc_dist AS BIGINT) AS adc_dist
FROM d JOIN cells cl ON cl.vec_id = d.vec_id
ORDER BY adc_dist, d.vec_id LIMIT {_ADC_K}
"""


def similarity_adc_topk_np(spark, sf_dir):
    """Top-10 nearest neighbors of vector 0 by asymmetric-distance
    computation over per-dimension 8-bit codes. Code grid: c =
    clamp(floor((x - mn_d) * 255 / (mx_d - mn_d)), 0, 255); degenerate
    dims (mx = mn) code to 0; distance is the integer sum of squared
    code differences.

    Each Arrow batch codes and scores as three C matrix ops — the
    ``cosine_topk_vectorized`` precedent: an in-plan per-row
    higher-order fold gives bitwise-identical rows but evaluates
    interpreted per element (2.34x DuckDB at sf10 vs 0.21x here). The
    stats row (per-dim min/max + query vector) is fetched once at plan
    build (one bounded 1-row job, closure-captured); the bench's
    DuckDB twin amortizes the same stats (ADC_BENCH_SETUP_SQL)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    srow = emb.agg(
        F.array(
            *[F.min(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mns"),
        F.array(
            *[F.max(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("mxs"),
        F.first(
            F.when(F.col("vec_id") == 0, F.col("embedding")), ignorenulls=True
        ).alias("qe"),
    ).first()
    if srow["qe"] is None:  # no query vector -> empty, like the oracle
        return (
            emb.select("vec_id", F.lit(0).cast("long").alias("adc_dist")).where(F.lit(False))
        )
    mns = np.asarray(srow["mns"], dtype="float64")
    mxs = np.asarray(srow["mxs"], dtype="float64")
    span = mxs - mns
    deg = span == 0.0

    def code(V: "np.ndarray") -> "np.ndarray":
        # identical op order to the SQL: (x - mn) * 255.0 / (mx - mn),
        # floor, clamp [0, 255]; degenerate dims code to 0
        with np.errstate(divide="ignore", invalid="ignore"):
            C = np.floor((V - mns[None, :]) * 255.0 / span[None, :])
        C = np.clip(C, 0.0, 255.0)
        C[:, deg] = 0.0
        return C.astype("int64")

    qcode = code(np.asarray(srow["qe"], dtype="float64")[None, :])[0]

    def score(batches):
        for pdf in batches:
            pdf = pdf.dropna(subset=["embedding"])
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            d = code(V) - qcode[None, :]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "adc_dist": (d * d).sum(axis=1)}
            )

    scored = emb.mapInPandas(score, "vec_id long, adc_dist long")
    return (
        scored.where(F.col("vec_id") != 0)
        .orderBy("adc_dist", "vec_id")
        .limit(_ADC_K)
    )


# Bench-twin amortized ADC (round 7, VERDICT r6): the per-dim min/max
# + query-vector stats row of `similarity_adc_topk_np` is fetched ONCE
# at plan build (a bounded 1-row job, closure-captured) — outside the
# timed region. The correctness oracle must recompute everything from
# base tables, but using it unchanged as the bench twin made DuckDB
# rebuild the per-dim stats inside every timed pass while Spark
# amortized them — an asymmetry. These statements give the twin the
# SAME amortization (the IVF_BENCH_SETUP_SQL precedent): the stats
# table materializes once untimed, and the timed probe codes + scores
# the corpus against it — exactly what that query's timed region
# does. bench.py guards the substitution on probe==full-oracle result
# equality.
ADC_BENCH_SETUP_SQL = [
    "DROP TABLE IF EXISTS adc_bench_st",
    """CREATE TABLE adc_bench_st AS
WITH el AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
)
SELECT i, min(x) AS mn, max(x) AS mx FROM el GROUP BY i""",
]

ADC_BENCH_PROBE_SQL = f"""
WITH el AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
codes AS (
  SELECT e.vec_id, e.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(least(greatest(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)), 0.0), 255.0) AS INT)
         END AS c
  FROM el e JOIN adc_bench_st s ON s.i = e.i
),
d AS (
  SELECT a.vec_id, SUM(CAST((a.c - q.c) * (a.c - q.c) AS BIGINT)) AS adc_dist
  FROM codes a JOIN codes q ON q.vec_id = 0 AND q.i = a.i
  WHERE a.vec_id <> 0
  GROUP BY a.vec_id
)
SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
FROM d ORDER BY adc_dist, vec_id LIMIT {_ADC_K}
"""

ADC_TOPK_SQL = f"""
WITH el AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT e.vec_id, e.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(least(greatest(floor((e.x - s.mn) * 255.0 / (s.mx - s.mn)), 0.0), 255.0) AS INT)
         END AS c
  FROM el e JOIN st s ON s.i = e.i
),
d AS (
  SELECT a.vec_id, SUM(CAST((a.c - q.c) * (a.c - q.c) AS BIGINT)) AS adc_dist
  FROM codes a JOIN codes q ON q.vec_id = 0 AND q.i = a.i
  WHERE a.vec_id <> 0
  GROUP BY a.vec_id
)
SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
FROM d ORDER BY adc_dist, vec_id LIMIT {_ADC_K}
"""


# ---------------------------------------------------------------------------
# ANN recall audit (round 7, VERDICT r6 #8): the vector-side mirror of
# dedup_recall_report — recall@k of the IVF probe vs brute-force ground
# truth over a deterministic query sample, as a driver-verifiable
# declared query. Queries = vec_id 8..17 (skipping the n_cells centroid
# stand-ins), k=10, 8 cells, 2 probes — same config as
# similarity_topk_ivf, so this row IS the acceptance evidence for that
# query's banding. Ground truth here is computed (exact brute force),
# which makes the audit fully deterministic and oracle-checkable.
# ---------------------------------------------------------------------------

_AUDIT_QUERIES = list(range(8, 18))
_AUDIT_K = 10


def ann_recall_report(spark, sf_dir):
    """IVF recall@10 per sampled query vs exact brute force — one
    corpus pass scores both sides (operators.similarity.
    ann_recall_audit); see that docstring for the distributed
    partial-top-k shape."""
    return ann_recall_audit(
        load(spark, sf_dir, "embeddings"),
        query_ids=_AUDIT_QUERIES,
        k=_AUDIT_K,
        n_cells=8,
        n_probe=2,
    )


ANN_RECALL_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8
),
qs AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id >= {_AUDIT_QUERIES[0]} AND vec_id <= {_AUDIT_QUERIES[-1]}
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
ranked AS (
  SELECT vec_id, cell_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
  FROM ascore
),
cells AS (SELECT vec_id, cell_id AS cell FROM ranked WHERE rn = 1),
probe AS (
  SELECT q.query_id, r.cell_id
  FROM qs q JOIN ranked r ON r.vec_id = q.query_id
  WHERE r.rn <= 2
),
terms AS (
  SELECT q.query_id, e.vec_id,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(q.qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(e.embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS et,
         CAST(floor(CAST(q.qe[u.i] AS DOUBLE) * CAST(q.qe[u.i] AS DOUBLE) * {S}) AS BIGINT) AS qt
  FROM embeddings e, qs q, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  WHERE e.vec_id <> q.query_id
),
cosv AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(CAST(SUM(et) AS BIGINT) AS DOUBLE))
              * sqrt(CAST(CAST(SUM(qt) AS BIGINT) AS DOUBLE))) AS cosine
  FROM terms GROUP BY query_id, vec_id
),
bf AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
    FROM cosv) WHERE rn <= {_AUDIT_K}
),
ivf AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id ORDER BY c.cosine DESC, c.vec_id) AS rn
    FROM cosv c
    JOIN cells cl ON cl.vec_id = c.vec_id
    JOIN probe p ON p.query_id = c.query_id AND p.cell_id = cl.cell
  ) WHERE rn <= {_AUDIT_K}
),
flags AS (
  SELECT query_id, vec_id,
         max(CASE WHEN side = 'bf' THEN 1 ELSE 0 END) AS in_bf,
         max(CASE WHEN side = 'ivf' THEN 1 ELSE 0 END) AS in_ivf
  FROM (
    SELECT query_id, vec_id, 'bf' AS side FROM bf
    UNION ALL
    SELECT query_id, vec_id, 'ivf' AS side FROM ivf
  ) GROUP BY query_id, vec_id
)
SELECT query_id, CAST(SUM(in_bf) AS BIGINT) AS n_true,
       CAST(SUM(in_bf * in_ivf) AS BIGINT) AS n_hit,
       round(100.0 * SUM(in_bf * in_ivf) / SUM(in_bf), 6) AS recall_pct
FROM flags GROUP BY query_id ORDER BY query_id
"""


def embedding_gram_matrix(spark, sf_dir):
    """Distributed second-moment (Gram) matrix X^T X of the embedding
    corpus — the building block of PCA / whitening / covariance
    analysis over a 100 TB embedding store. Each task folds its rows
    into one d x d int64 accumulator (gram_matrix_partials), so the
    only shuffle moves d^2 numbers per task — the canonical map-side
    combine of distributed covariance; the reducer sums exactly
    (fixed-point terms, association-free). Output: upper triangle
    (i, j, n_vecs, gram) with gram = s_fp / SCALE."""
    from ..operators.similarity import gram_matrix_partials

    emb = load(spark, sf_dir, "embeddings")
    res = (
        gram_matrix_partials(emb)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s_fp"), F.sum("n").alias("n_vecs"))
    )
    return res.select(
        "i",
        "j",
        "n_vecs",
        (F.col("s_fp").cast("double") / F.lit(float(S))).alias("gram"),
    )


_LLOYD_K = 8


def kmeans_lloyd_step(spark, sf_dir):
    """ONE Lloyd iteration of k-means over the embedding corpus —
    the inner loop of every distributed clustering / IVF-index /
    SemDeDup-cell trainer: assign each vector to its nearest centroid
    (exact fixed-point squared L2; deterministic ties on the lower
    cell id), then emit the UPDATED centroids as per-cell component
    means. Init centroids are the first K stored vectors (the same
    deterministic seeding similarity_topk_ivf and dedup_semantic_cells
    use), so the step is reproducible and oracle-checkable; a trainer
    loops this plan to convergence (the BPE-trainer iteration
    precedent).

    Scale shape: assignment and partial update are FUSED in one
    mapInPandas pass (operators.similarity.lloyd_step_partials) — each
    task ships K * d fixed-point partial rows, the reducer adds exact
    ints, and nothing corpus-sized ever shuffles or explodes. The K
    init centroids are collected at plan build (the bounded
    IVF-centroid precedent). A relational crossJoin + struct-min +
    posexplode formulation was measured 3.5x slower at sf1 (2.32 vs
    0.66 s): its zip_with/aggregate distance fold evaluates
    interpreted per element (the ADC HOF lesson). Distances and sums
    are bitwise-identical between the two. Empty cells drop out (both
    engines)."""
    import numpy as np

    from ..operators.similarity import lloyd_step_partials

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    crows = (
        emb.where(F.col("vec_id") < _LLOYD_K)
        .orderBy("vec_id")
        .collect()
    )
    C = np.stack([np.asarray(r["embedding"], dtype="float64") for r in crows])
    ids = [r["vec_id"] for r in crows]
    upd = (
        lloyd_step_partials(emb, C, ids)
        .groupBy("cell", "i")
        .agg(F.sum("s").alias("s_fp"), F.sum("n").alias("n_members"))
    )
    return upd.select(
        "cell",
        "i",
        "n_members",
        (
            F.col("s_fp").cast("double") / F.lit(float(S)) / F.col("n_members")
        ).alias("centroid"),
    )


KMEANS_LLOYD_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_LLOYD_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         (SELECT CAST(SUM(CAST(floor((CAST(e.embedding[u.i] AS DOUBLE)
                                      - CAST(c.cv[u.i] AS DOUBLE))
                                     * (CAST(e.embedding[u.i] AS DOUBLE)
                                        - CAST(c.cv[u.i] AS DOUBLE))
                                     * {S}) AS BIGINT)) AS BIGINT)
          FROM UNNEST(range(1, len(e.embedding) + 1)) AS u(i)) AS d2
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cid AS cell
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
),
comps AS (
  SELECT cell, u.i AS i,
         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * {S}) AS BIGINT) AS x_fp
  FROM assigned, UNNEST(range(1, len(embedding) + 1)) AS u(i)
)
SELECT cell, CAST(i AS INTEGER) AS i, count(*) AS n_members,
       CAST(SUM(x_fp) AS DOUBLE) / {S} / count(*) AS centroid
FROM comps GROUP BY cell, i
"""


_KMEANS_R_MAX = 4


def kmeans_train_audit(spark, sf_dir):
    """FULL k-means training loop on top of the fused Lloyd kernel
    (VERDICT r8 #5 — the iterative-trainer story the BPE trainer
    started, on a second algorithm): iterate `lloyd_step_partials`
    from the deterministic first-K seeding to a deterministic
    stopping rule — up to ``_KMEANS_R_MAX`` iterations, stopping
    early when the exact int64 fixed-point inertia stops STRICTLY
    decreasing (an integer comparison, so the trajectory and the
    stop point are bit-reproducible across runs and cluster sizes).

    Each iteration is one distributed job: the kernel fuses assign +
    partial-update + the per-task inertia partial into a single
    mapInPandas pass, the driver collects only K*d + 1 aggregated
    rows (the bounded IVF-centroid precedent — never the corpus), and
    the next iteration's centroids are broadcast back inside the next
    plan. Centroid updates are (s_fp / SCALE) / n in float64 —
    deterministic IEEE ops on exact integer inputs. Empty cells keep
    their previous centroid (standard Lloyd).

    Audit output (the pca_variance_audit pattern — exact anchors
    hash-checked, trajectory facts as bound verdicts): inertia0_fp is
    the EXACT initial-assignment inertia (SQL-expressible: min-cell
    distance summed over vectors — the oracle recomputes it);
    n_vectors anchors membership conservation; the verdict booleans
    pin that inertia decreased from the initial assignment, never
    increased along the recorded trajectory, and that every iteration
    conserved members (sum of cell counts == corpus size). The
    iteration count is engine-private (the oracle cannot know it
    without simulating the trainer) and is deliberately not a column;
    at sf0.01 the rule runs the full R_MAX schedule."""
    import numpy as np

    from ..operators.similarity import lloyd_step_partials

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    crows = emb.where(F.col("vec_id") < _LLOYD_K).orderBy("vec_id").collect()
    C = np.stack([np.asarray(r["embedding"], dtype="float64") for r in crows])
    ids = np.asarray([r["vec_id"] for r in crows], dtype="int64")
    k, d = C.shape
    pos = {int(c): i for i, c in enumerate(ids)}

    n_vectors = None
    inertias: list[int] = []
    members_ok = True
    for _ in range(_KMEANS_R_MAX):
        rows = (
            lloyd_step_partials(emb, C, ids, emit_inertia=True)
            .groupBy("cell", "i")
            .agg(F.sum("s").alias("s_fp"), F.sum("n").alias("n_members"))
            .collect()
        )
        inertia = next(int(r["s_fp"]) for r in rows if r["cell"] == -1)
        members = sum(
            int(r["n_members"]) for r in rows if r["cell"] >= 0 and r["i"] == 1
        )
        if n_vectors is None:
            n_vectors = members
        members_ok = members_ok and members == n_vectors
        if inertias and inertia >= inertias[-1]:
            break
        inertias.append(inertia)
        Cn = C.copy()
        for r in rows:
            if r["cell"] >= 0:
                Cn[pos[int(r["cell"])], int(r["i"]) - 1] = (
                    int(r["s_fp"]) / float(S)
                ) / int(r["n_members"])
        C = Cn
    return spark.createDataFrame(
        [
            (
                inertias[0],
                int(n_vectors),
                inertias[-1] < inertias[0],
                all(b < a for a, b in zip(inertias, inertias[1:])),
                bool(members_ok),
            )
        ],
        "inertia0_fp long, n_vectors long, inertia_decreased boolean,"
        " inertia_nonincreasing boolean, members_conserved boolean",
    )


KMEANS_TRAIN_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_LLOYD_K}
),
scored AS (
  SELECT e.vec_id, c.cid,
         (SELECT CAST(SUM(CAST(floor((CAST(e.embedding[u.i] AS DOUBLE)
                                      - CAST(c.cv[u.i] AS DOUBLE))
                                     * (CAST(e.embedding[u.i] AS DOUBLE)
                                        - CAST(c.cv[u.i] AS DOUBLE))
                                     * {S}) AS BIGINT)) AS BIGINT)
          FROM UNNEST(range(1, len(e.embedding) + 1)) AS u(i)) AS d2
  FROM embeddings e CROSS JOIN cents c
  WHERE e.embedding IS NOT NULL
),
best AS (SELECT vec_id, min(d2) AS d2 FROM scored GROUP BY vec_id)
SELECT CAST(SUM(d2) AS BIGINT) AS inertia0_fp,
       (SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL)
         AS n_vectors,
       TRUE AS inertia_decreased,
       TRUE AS inertia_nonincreasing,
       TRUE AS members_conserved
FROM best
"""


def pca_variance_audit(spark, sf_dir):
    """PCA self-audit (the sketch-audit pattern: engine-specific
    numerics beside exact reference values + deterministic bound
    verdicts): the corpus Gram matrix is folded distributed
    (gram_matrix_partials — d^2 ints per task), then ONE bounded
    single-row task runs the eigendecomposition executor-side and
    audits it against linear-algebra identities that hold exactly:
    sum of eigenvalues == trace (both in fixed-point units), all
    eigenvalues of a Gram matrix >= 0 (PSD), and top-1 explained
    fraction within (0, 1]. The exact TRACE is SQL-checkable
    (diagonal fixed-point sums) and hash-checked; the eigenvalues
    themselves are LAPACK-specific and only their bound verdicts are
    emitted. This is the audit a whitening/PCA projection stage runs
    before trusting its components at 100 TB."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import gram_matrix_partials

    emb = load(spark, sf_dir, "embeddings")
    tri = (
        gram_matrix_partials(emb)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s_fp"))
    )

    def audit(batches):
        rows = [pdf for pdf in batches if len(pdf)]
        pdf = pd.concat(rows) if rows else pd.DataFrame(columns=["i", "j", "s_fp"])
        d = int(pdf["j"].max()) if len(pdf) else 0
        G = np.zeros((d, d), dtype="float64")
        for i, j, s in zip(pdf["i"], pdf["j"], pdf["s_fp"]):
            G[i - 1, j - 1] = s
            G[j - 1, i - 1] = s
        # Exact integer trace from the int64 partials themselves (the
        # float64 G is only for eigvalsh, whose verdicts are
        # tolerance-based): going through G.astype('int64') silently
        # rounds diagonal sums past 2^53 (~9M unit-norm vectors at
        # SCALE=1e9), breaking the exact-trace contract at 100 TB.
        trace_fp = (
            int(pdf.loc[pdf["i"] == pdf["j"], "s_fp"].sum()) if len(pdf) else 0
        )
        eig = np.linalg.eigvalsh(G)
        tol = 1e-9 * max(trace_fp, 1)
        yield pd.DataFrame(
            {
                "trace_fp": pd.Series([trace_fp], dtype="int64"),
                "eig_sum_matches_trace": [bool(abs(eig.sum() - trace_fp) <= tol)],
                "eigs_nonneg": [bool(eig.min() >= -tol)],
                "pc1_frac_in_range": [
                    bool(0.0 < eig.max() / max(trace_fp, 1) <= 1.0 + 1e-12)
                ],
            }
        )

    return (
        tri.repartition(1)
        .mapInPandas(
            audit,
            "trace_fp long, eig_sum_matches_trace boolean,"
            " eigs_nonneg boolean, pc1_frac_in_range boolean",
        )
    )


PCA_AUDIT_SQL = f"""
SELECT CAST(SUM(CAST(floor(CAST(e.embedding[u.i] AS DOUBLE)
                           * CAST(e.embedding[u.i] AS DOUBLE) * {S}) AS BIGINT))
            AS BIGINT) AS trace_fp,
       TRUE AS eig_sum_matches_trace,
       TRUE AS eigs_nonneg,
       TRUE AS pc1_frac_in_range
FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
WHERE e.embedding IS NOT NULL
"""


GRAM_SQL = f"""
WITH t AS (
  SELECT u.i AS i, v.j AS j,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE)
                    * CAST(e.embedding[v.j] AS DOUBLE) * {S}) AS BIGINT) AS term
  FROM embeddings e,
       UNNEST(range(1, len(e.embedding) + 1)) AS u(i),
       UNNEST(range(1, len(e.embedding) + 1)) AS v(j)
  WHERE u.i <= v.j AND e.embedding IS NOT NULL
),
n AS (SELECT count(*) AS n_vecs FROM embeddings WHERE embedding IS NOT NULL)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       n.n_vecs AS n_vecs,
       CAST(SUM(term) AS DOUBLE) / {S} AS gram
FROM t, n
GROUP BY i, j, n.n_vecs
"""


def _knn_topk(spark, sf_dir, k=3, n_blocks=8):
    """Shared exact k-NN join core: block-nested-loop partials (see
    operators.similarity.knn_join_partials) + ONE per-id window merge.
    The window's order (cosine desc, nbr_id asc) is the same tiebreak
    the per-block kernel used, so the global top-k is exact and
    deterministic cross-engine."""
    from pyspark.sql import Window

    from ..operators.similarity import knn_join_partials

    part = knn_join_partials(
        load(spark, sf_dir, "embeddings"), k=k, n_blocks=n_blocks
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return part.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def knn_join_topk(spark, sf_dir):
    """Exact k-NN JOIN: every vector's top-3 cosine neighbors — the
    all-vectors generalization of `similarity_topk` (which serves one
    query id). Feeds kNN-graph curation (SemDeDup cells, label
    propagation, `knn_label_purity`). Scale shape: block-nested-loop
    with per-block top-k pruning — only O(n * B * k) skinny candidate
    rows shuffle into the merge window; the full pair matrix never
    materializes anywhere. The approximate counterpart at corpus scale
    swaps the block pair generator for IVF cell candidates
    (`similarity_topk_ivf` precedent); this exact form IS its recall
    oracle."""
    return _knn_topk(spark, sf_dir).select("vec_id", "nbr_id", "rk", "cosine")


# Shared CTE body for every kNN-derived oracle: all-pairs fixed-point
# cosine + per-id rank (the brute-force ground truth the distributed
# block-nested-loop provably equals).
_KNN_CTES = f"""pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
),
terms AS (
  SELECT vec_id, nbr_id,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM pairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, nbr_id, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY vec_id, nbr_id
),
scored AS (
  SELECT vec_id, nbr_id,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine
  FROM sums
),
rk AS (
  SELECT vec_id, nbr_id, cosine,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rk
  FROM scored
)"""


KNN_JOIN_SQL = f"""
WITH {_KNN_CTES}
SELECT vec_id, nbr_id, rk, cosine FROM rk WHERE rk <= 3
"""


def knn_label_purity(spark, sf_dir):
    """kNN label-consistency audit: per label, how many vectors have
    their 3-NN majority label equal to their own (the standard
    embedding-quality / labeling-noise signal for curation). Majority
    = most frequent neighbor label, ties to the smallest label (exact
    argmin over (-count, label) — deterministic cross-engine). All
    joins are on the skinny kNN edge list (n * k rows), never the
    vectors; the purity division is one IEEE double op on identical
    longs."""
    knn = _knn_topk(spark, sf_dir)
    labs = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        knn.join(
            labs.select(
                F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
            ),
            "nbr_id",
        )
        .groupBy("vec_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    maj = (
        votes.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("nbr_label").alias("l")
                )
            ).alias("m")
        )
        .select("vec_id", F.col("m.l").alias("maj_label"))
    )
    return (
        maj.join(labs, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("maj_label") == F.col("label")).cast("long")).alias(
                "n_match"
            ),
        )
        .select(
            "label",
            "n_vecs",
            "n_match",
            (F.col("n_match").cast("double") / F.col("n_vecs")).alias("purity"),
        )
    )


KNN_PURITY_SQL = f"""
WITH {_KNN_CTES},
votes AS (
  SELECT k.vec_id, e.label AS nbr_label, count(*) AS cnt
  FROM rk k JOIN embeddings e ON e.vec_id = k.nbr_id
  WHERE k.rk <= 3
  GROUP BY k.vec_id, e.label
),
maj AS (
  SELECT vec_id, nbr_label AS maj_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY cnt DESC, nbr_label) AS mr
  FROM votes
)
SELECT e.label AS label, count(*) AS n_vecs,
       CAST(SUM(CASE WHEN m.maj_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST(SUM(CASE WHEN m.maj_label = e.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS purity
FROM maj m JOIN embeddings e USING (vec_id)
WHERE m.mr = 1
GROUP BY e.label
"""


def knn_join_topk_ivf(spark, sf_dir):
    """Approximate k-NN join, IVF production path: top-3 within each
    vector's IVF cell (deterministic centroids, exact integer-IP
    argmax assignment — the `similarity_topk_ivf` family). The
    documented scale swap for `knn_join_topk`: per-task work drops
    from O(n²/B²) exact block pairs to O((n/C)²) within-cell pairs,
    with C growing with the corpus; recall is auditable against the
    exact join, and within-cell ranks are bitwise-equal to it.

    Optimization r15 (VERDICT r14 #7): assignments come from the
    at-rest IVF index (`_ensure_ivf_index` — the same stamped
    cell-partitioned layout `similarity_topk_ivf` probes, built once
    per corpus version with the IDENTICAL deterministic argmax), so
    the query pays ONE Python boundary (the per-cell kernel) instead
    of two (assign mapInPandas + kernel) and no centroid collect at
    plan build. The oracle still recomputes assignment from raw
    embeddings, so the driver hash gate proves index == inline."""
    from ..operators.similarity import knn_join_within_cells

    idx = _ensure_ivf_index(spark, sf_dir, n_cells=8)
    return knn_join_within_cells(
        load(spark, sf_dir, "embeddings"),
        n_cells=8,
        k=3,
        assigned=spark.read.parquet(idx),
    )


KNN_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  WHERE e.embedding IS NOT NULL
  GROUP BY e.vec_id, c.cell_id
),
cells AS (
  SELECT vec_id, CAST(cell_id AS INTEGER) AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore) WHERE rn = 1
),
cpairs AS (
  SELECT ca.vec_id AS vec_id, cb.vec_id AS nbr_id, ca.cell,
         a.embedding AS ea, b.embedding AS eb
  FROM cells ca
  JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id <> cb.vec_id
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
terms AS (
  SELECT vec_id, nbr_id, cell,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM cpairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, nbr_id, cell, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY vec_id, nbr_id, cell
),
rk AS (
  SELECT vec_id, nbr_id, cell,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine,
         CAST(row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) DESC,
                    nbr_id) AS INTEGER) AS rk
  FROM sums
)
SELECT vec_id, nbr_id, rk, cosine, cell FROM rk WHERE rk <= 3
"""


def knn_recall_ivf_audit(spark, sf_dir):
    """Recall@3 of the IVF cell-blocked k-NN join against the exact
    block-nested-loop join — the audit that closes the kNN family
    (`ann_recall_report` precedent: every approximate path ships with
    its measured recall). Output: one row (n_vectors, n_true,
    n_retrieved, n_hit, recall) where n_hit counts exact top-3 edges
    the IVF join also retrieved. Measured ~0.26-0.28 on this corpus —
    the synthetic embeddings are UNIFORM random, the adversarial case
    for cell pruning (no cluster structure, so a true neighbor lands
    in the same cell roughly at chance); clustered real embeddings sit
    far higher, and the knobs are the standard IVF ones (fewer cells,
    multi-probe). Quantifying exactly this tradeoff is the audit's
    job. Both joins run on the skinny edge
    lists; the audit join keys on (vec_id, nbr_id) — edge-sized, never
    corpus-sized."""
    exact = _knn_topk(spark, sf_dir).select("vec_id", "nbr_id")
    from ..operators.similarity import knn_join_within_cells

    approx = knn_join_within_cells(
        load(spark, sf_dir, "embeddings"), n_cells=8, k=3
    ).select("vec_id", "nbr_id")
    hit = exact.join(approx, ["vec_id", "nbr_id"], "left_semi")
    return (
        exact.agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_true"),
        )
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_retrieved")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_vectors",
            "n_true",
            "n_retrieved",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_true")).alias("recall"),
        )
    )


KNN_RECALL_SQL = f"""
WITH {_KNN_CTES},
exact_knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM rk WHERE rk <= 3),
cells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT a.vec_id, a.cell_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY a.score DESC, a.cell_id) AS rn
    FROM (
      SELECT e.vec_id, c.cell_id, CAST(SUM(
               CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
             ) AS BIGINT) AS score
      FROM embeddings e,
           (SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8) c,
           UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
      WHERE e.embedding IS NOT NULL
      GROUP BY e.vec_id, c.cell_id
    ) a
  ) r WHERE rn = 1
),
approx AS MATERIALIZED (
  SELECT s.vec_id, s.nbr_id FROM (
    SELECT p.vec_id, p.nbr_id,
           row_number() OVER (
             PARTITION BY p.vec_id ORDER BY p.cosine DESC, p.nbr_id) AS rk
    FROM scored p
    JOIN cells ca ON ca.vec_id = p.vec_id
    JOIN cells cb ON cb.vec_id = p.nbr_id AND cb.cell = ca.cell
  ) s WHERE s.rk <= 3
),
m AS (
  SELECT count(*) AS n_hit
  FROM exact_knn e JOIN approx a USING (vec_id, nbr_id)
)
SELECT (SELECT count(DISTINCT vec_id) FROM exact_knn) AS n_vectors,
       (SELECT count(*) FROM exact_knn) AS n_true,
       (SELECT count(*) FROM approx) AS n_retrieved,
       m.n_hit AS n_hit,
       CAST(m.n_hit AS DOUBLE) / (SELECT count(*) FROM exact_knn) AS recall
FROM m
"""


def _ensure_probe_index(spark, sf_dir: str, n_cells: int = 8) -> str:
    """Persisted IVF index over the 'already-ingested' corpus slice
    (vec_id % 20 != 0) for the incremental probe."""

    def build(out: str) -> None:
        import numpy as np

        emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 20 != 0)
        # subset ids are not dense from 0: centroids = the slice's own
        # lowest-id vectors (bounded n_cells-row collect; knn_probe_index
        # re-reads the same rows from the index at probe time)
        crows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_cells).collect()
        C = np.stack([np.asarray(r["embedding"], dtype="float64") for r in crows])
        ivf_write_index(emb, out, n_cells=n_cells, centroids=C)

    return layouts.ensure(
        spark, "ivfprobe", sf_dir, ["embeddings"],
        {"scheme": "ivf-fp-v1", "n_cells": n_cells}, build,
    )


def knn_incremental_probe(spark, sf_dir):
    """Incremental ANN — the operational serving shape beside
    `dedup_incremental_probe`: the ingested corpus (vec_id % 20 != 0)
    is IVF-indexed once into a cell-partitioned persisted layout; each
    NEW batch (vec_id % 20 == 0) is probed against it — map-side
    2-probe cell assignment, a scan of only the probed partitions,
    exact in-cell rerank, one edge-sized merge window. Output:
    (vec_id, nbr_id, rk, cosine) — each new vector's top-3 ANN among
    the already-indexed corpus, without rescanning it."""
    from ..operators.similarity import knn_probe_index

    idx = _ensure_probe_index(spark, sf_dir, n_cells=8)
    batch = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 20 == 0)
    return knn_probe_index(spark, idx, batch, k=3, n_cells=8, n_probe=2)


KNN_PROBE_SQL = f"""
WITH idxv AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % 20 <> 0 AND embedding IS NOT NULL
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id, embedding AS ce
  FROM (SELECT vec_id, embedding FROM idxv ORDER BY vec_id LIMIT 8) t
),
iscore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM idxv e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
icells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM iscore) WHERE rn = 1
),
batch AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % 20 = 0 AND embedding IS NOT NULL
),
bscore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM batch e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
bcells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM bscore) WHERE rn <= 2
),
cpairs AS (
  SELECT b.vec_id AS vec_id, i.vec_id AS nbr_id, eb.embedding AS ea, ei.embedding AS eb2
  FROM bcells b
  JOIN icells i ON i.cell = b.cell
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  JOIN embeddings ei ON ei.vec_id = i.vec_id
),
terms AS (
  SELECT vec_id, nbr_id,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb2[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb2[u.i] AS DOUBLE) * CAST(eb2[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM cpairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, nbr_id, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY vec_id, nbr_id
),
rk AS (
  SELECT vec_id, nbr_id,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine,
         CAST(row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) DESC,
                    nbr_id) AS INTEGER) AS rk
  FROM sums
)
SELECT vec_id, nbr_id, rk, cosine FROM rk WHERE rk <= 3
"""


def knn_graph_components(spark, sf_dir):
    """Mutual-kNN graph clustering: an edge joins two vectors that
    appear in EACH OTHER'S 3-NN lists (the mutual filter prunes hub
    vectors' one-sided edges — standard in kNN-graph curation), then
    large-star/small-star contraction labels the connected components
    (O(log^2 n) rounds, diameter-independent — the 100 TB variant the
    dedup family already uses). Output: (vec_id, component,
    component_size) for every vector with at least one mutual edge.

    Scale shape: the graph is built from the SKINNY kNN edge list
    (n * k rows), never the vectors; mutual = one self-intersect on
    the edge list; components run entirely on edge-sized data."""
    from ..operators.dedup import connected_components_star

    knn = _knn_topk(spark, sf_dir).select("vec_id", "nbr_id")
    rev = knn.select(
        F.col("nbr_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
    )
    mutual = knn.intersect(rev).where(F.col("vec_id") < F.col("nbr_id"))
    cc = connected_components_star(mutual, src="vec_id", dst="nbr_id")
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return (
        cc.select(F.col("doc_id").alias("vec_id"), "component")
        .join(sizes, "component")
        .select("vec_id", "component", "component_size")
    )


KNN_GRAPH_SQL = f"""
WITH RECURSIVE {_KNN_CTES},
-- MATERIALIZED: the recursive reach CTE references edges each
-- iteration; without it DuckDB re-inlines (and recomputes) the whole
-- 16M-row kNN chain per iteration (measured 331 s vs ~5 s at sf0.001)
knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM rk WHERE rk <= 3),
mutual AS (
  SELECT k1.vec_id AS a, k1.nbr_id AS b
  FROM knn k1 JOIN knn k2 ON k2.vec_id = k1.nbr_id AND k2.nbr_id = k1.vec_id
  WHERE k1.vec_id < k1.nbr_id
),
edges AS (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
SELECT c.vec_id, c.component, s.component_size
FROM comp c
JOIN (SELECT component, CAST(count(*) AS BIGINT) AS component_size
      FROM comp GROUP BY component) s USING (component)
"""


QUERIES = {
    "similarity_topk": QuerySpec(similarity_topk, TOPK_SQL, "exact cosine top-k"),
    "knn_join_topk": QuerySpec(
        knn_join_topk,
        KNN_JOIN_SQL,
        "exact k-NN join (block-nested-loop partials + per-id top-k merge)",
    ),
    "knn_label_purity": QuerySpec(
        knn_label_purity,
        KNN_PURITY_SQL,
        "3-NN majority-label consistency per label (embedding-quality audit)",
    ),
    "knn_graph_components": QuerySpec(
        knn_graph_components,
        KNN_GRAPH_SQL,
        "mutual-kNN graph clustering via star contraction",
    ),
    "knn_join_topk_ivf": QuerySpec(
        knn_join_topk_ivf,
        KNN_IVF_SQL,
        "IVF cell-blocked approximate k-NN join (the exact join's scale swap)",
    ),
    "knn_recall_ivf_audit": QuerySpec(
        knn_recall_ivf_audit,
        KNN_RECALL_SQL,
        "recall@3 of the IVF kNN join vs the exact join (one-row audit)",
    ),
    "knn_incremental_probe": QuerySpec(
        knn_incremental_probe,
        KNN_PROBE_SQL,
        "batch ANN serving against the persisted IVF index (probed partitions only)",
    ),
    "embedding_gram_matrix": QuerySpec(
        embedding_gram_matrix,
        GRAM_SQL,
        "distributed X^T X via per-task d x d partials (PCA building block)",
    ),
    "kmeans_lloyd_step": QuerySpec(
        kmeans_lloyd_step,
        KMEANS_LLOYD_SQL,
        "one Lloyd k-means iteration (broadcast assign + per-cell mean update)",
    ),
    "pca_variance_audit": QuerySpec(
        pca_variance_audit,
        PCA_AUDIT_SQL,
        "eigendecomposition audited against the exact fixed-point trace (hash-checked)",
    ),
    "kmeans_train_audit": QuerySpec(
        kmeans_train_audit,
        KMEANS_TRAIN_SQL,
        "full Lloyd training loop to a deterministic stop; exact initial inertia hash-checked",
    ),
    "ann_recall_report": QuerySpec(
        ann_recall_report,
        ANN_RECALL_SQL,
        "IVF recall@10 vs brute-force ground truth over a sampled query set",
    ),
    "similarity_ivf_adc_topk": QuerySpec(
        similarity_ivf_adc_topk,
        IVF_ADC_TOPK_SQL,
        "composed IVF-pruned + ADC compressed-domain top-k (the production ANN stack)",
    ),
    "similarity_adc_topk_np": QuerySpec(
        similarity_adc_topk_np,
        ADC_TOPK_SQL,
        "compressed-domain ADC top-k over per-dim 8-bit codes (Arrow-batched numpy coding)",
    ),
    "similarity_neardup_blocked": QuerySpec(
        similarity_neardup_blocked, NEARDUP_SQL, "blocked cosine near-dup pairs"
    ),
    "similarity_topk_lsh": QuerySpec(
        similarity_topk_lsh, LSH_TOPK_SQL, "LSH-bucketed approximate top-k"
    ),
    "similarity_topk_ivf": QuerySpec(
        similarity_topk_ivf, IVF_TOPK_SQL, "IVF probed-cell approximate top-k"
    ),
}


# ---------------------------------------------------------------------------
# Product quantization: trained-codebook compression (FAISS PQ shape)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_R = 4, 16, 2
_PQ_DS = 16  # d=64 split into 4 contiguous 16-dim subspaces


def _pq_seed_codebooks(emb):
    """Deterministic PQ seeding (the kmeans_train_audit convention):
    codeword j of every subspace is vector j's subvector, j < K.
    Returns an (M, K, d/M) float64 array plus the non-null corpus
    size bound check left to the caller."""
    import numpy as np

    rows = (
        emb.where(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    )
    S0 = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    return np.stack(
        [S0[:, m * _PQ_DS : (m + 1) * _PQ_DS] for m in range(_PQ_M)]
    )


def _pq_apply_update(CB, rows):
    """One exact Lloyd update from aggregated kernel partials:
    c = (s_fp / SCALE) / n in float64 — the same two-rounding tree the
    oracle's CAST(SUM AS DOUBLE) / 1e9 / count(*) evaluates (exact
    while s_fp < 2^53; ~9e3 unit-norm members per codeword at scale 9
    times 1e9 headroom — the kmeans_lloyd_step envelope). Codewords
    with no members keep their seed (standard Lloyd)."""
    CBn = CB.copy()
    for r in rows:
        if r["code"] >= 0:
            CBn[int(r["m"]), int(r["code"]), int(r["i"]) - 1] = (
                int(r["s"]) / float(S)
            ) / int(r["n"])
    return CBn


def pq_train_codebooks(spark, sf_dir):
    """Product-quantization codebook TRAINING (the third iterative
    trainer beside BPE and k-means): M independent k-means problems —
    one per contiguous embedding subspace — trained simultaneously,
    each iteration ONE corpus pass through the fused
    `pq_train_partials` kernel (operators/similarity.py): assign
    every subvector to its nearest codeword, fold exact fixed-point
    component sums, shuffle only M*K*(d/M) = K*d numbers per task.
    The driver collects K*d + M aggregated rows per iteration and
    broadcasts the updated codebooks back — never the corpus.

    Audit output (kmeans_train_audit pattern): per subspace, the
    EXACT initial-assignment quantization error inertia0_fp
    (SQL-expressible — the oracle recomputes it from the seed
    codebooks), the corpus size, and verdict booleans for the Lloyd
    trajectory (error strictly decreased after the first update;
    every iteration conserved members). Codebook floats themselves
    are engine-private trainer state, like the k-means centroids."""
    import numpy as np

    from ..operators.similarity import pq_train_partials

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    CB = _pq_seed_codebooks(emb)
    inert = []
    n_vec = None
    members_ok = [True] * _PQ_M
    for _ in range(_PQ_R):
        rows = (
            pq_train_partials(emb, CB, emit_inertia=True)
            .groupBy("m", "code", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        it = np.zeros(_PQ_M, dtype="int64")
        for r in rows:
            if r["code"] == -1:
                it[int(r["m"])] = int(r["s"])
        for m in range(_PQ_M):
            members = sum(
                int(r["n"]) for r in rows
                if int(r["m"]) == m and r["code"] >= 0 and int(r["i"]) == 1
            )
            if n_vec is None:
                n_vec = members
            members_ok[m] = members_ok[m] and members == n_vec
        inert.append(it)
        CB = _pq_apply_update(CB, rows)
    return spark.createDataFrame(
        [
            (
                m,
                int(inert[0][m]),
                int(n_vec),
                bool(inert[-1][m] < inert[0][m]),
                bool(members_ok[m]),
            )
            for m in range(_PQ_M)
        ],
        "m long, inertia0_fp long, n_vectors long,"
        " inertia_decreased boolean, members_conserved boolean",
    )


_PQ_SUB_SQL = f"""
sub AS (
  SELECT e.vec_id, s.m, u.u,
         CAST(e.embedding[s.m * {_PQ_DS} + u.u] AS DOUBLE) AS x
  FROM embeddings e,
       UNNEST(range(0, {_PQ_M})) AS s(m),
       UNNEST(range(1, {_PQ_DS} + 1)) AS u(u)
  WHERE e.embedding IS NOT NULL
),
seedc AS (
  SELECT m, vec_id AS code, u, x AS c FROM sub WHERE vec_id < {_PQ_K}
)
"""

PQ_TRAIN_SQL = f"""
WITH {_PQ_SUB_SQL},
d0 AS (
  SELECT sub.vec_id, sub.m, seedc.code,
         SUM(CAST(floor((sub.x - seedc.c) * (sub.x - seedc.c) * {S})
                  AS BIGINT)) AS d2
  FROM sub JOIN seedc ON sub.m = seedc.m AND sub.u = seedc.u
  GROUP BY 1, 2, 3
),
best AS (SELECT vec_id, m, min(d2) AS d2 FROM d0 GROUP BY 1, 2)
SELECT m, CAST(SUM(d2) AS BIGINT) AS inertia0_fp,
       (SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL)
         AS n_vectors,
       TRUE AS inertia_decreased, TRUE AS members_conserved
FROM best GROUP BY m
"""


def similarity_pq_adc_topk(spark, sf_dir):
    """Top-10 nearest neighbors of vector 0 under TRAINED product
    quantization — the full FAISS-PQ serving stack: one exact Lloyd
    update refines the seed codebooks (R=1, so the oracle can replay
    the training in SQL and the whole path stays hash-checked,
    codebooks included — unlike the audit-style trainer above), every
    vector is encoded to M codes, and the query distance is the
    integer sum of M LUT entries built driver-side from K*d bounded
    numbers (`pq_adc_distances`). Map-only scan + TakeOrdered: no
    shuffle of corpus data at any scale, and the serving arithmetic
    touches M*K lookup cells per row instead of d floats."""
    import numpy as np

    from ..operators.similarity import pq_adc_distances, pq_train_partials

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    empty = emb.select(
        "vec_id", F.lit(0).cast("long").alias("adc_dist")
    ).where(F.lit(False))
    if qrow is None or qrow["embedding"] is None:
        return empty
    CB = _pq_seed_codebooks(emb)
    rows = (
        pq_train_partials(emb, CB)
        .groupBy("m", "code", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    CB1 = _pq_apply_update(CB, rows)
    q = np.asarray(qrow["embedding"], dtype="float64")
    return (
        pq_adc_distances(emb, CB1, q)
        .where(F.col("vec_id") != 0)
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


PQ_ADC_TOPK_SQL = f"""
WITH {_PQ_SUB_SQL},
d0 AS (
  SELECT sub.vec_id, sub.m, seedc.code,
         SUM(CAST(floor((sub.x - seedc.c) * (sub.x - seedc.c) * {S})
                  AS BIGINT)) AS d2
  FROM sub JOIN seedc ON sub.m = seedc.m AND sub.u = seedc.u
  GROUP BY 1, 2, 3
),
assign0 AS (
  SELECT vec_id, m, code FROM d0
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1
),
upd AS (
  SELECT a.m, a.code, s.u,
         (CAST(SUM(CAST(floor(s.x * {S}) AS BIGINT)) AS DOUBLE) / {S}.0)
           / count(*) AS c1
  FROM assign0 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY 1, 2, 3
),
cb1 AS (
  SELECT sc.m, sc.code, sc.u, COALESCE(upd.c1, sc.c) AS c
  FROM seedc sc LEFT JOIN upd
    ON upd.m = sc.m AND upd.code = sc.code AND upd.u = sc.u
),
d1 AS (
  SELECT sub.vec_id, sub.m, cb1.code,
         SUM(CAST(floor((sub.x - cb1.c) * (sub.x - cb1.c) * {S})
                  AS BIGINT)) AS d2
  FROM sub JOIN cb1 ON sub.m = cb1.m AND sub.u = cb1.u
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, code FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1
),
qsub AS (SELECT m, u, x FROM sub WHERE vec_id = 0),
lut AS (
  SELECT cb1.m, cb1.code,
         SUM(CAST(floor((qsub.x - cb1.c) * (qsub.x - cb1.c) * {S})
                  AS BIGINT)) AS d2
  FROM cb1 JOIN qsub ON qsub.m = cb1.m AND qsub.u = cb1.u
  GROUP BY 1, 2
)
SELECT enc.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_dist
FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
WHERE enc.vec_id <> 0
GROUP BY enc.vec_id
ORDER BY adc_dist, enc.vec_id
LIMIT 10
"""


QUERIES.update(
    {
        "pq_train_codebooks": QuerySpec(
            pq_train_codebooks,
            PQ_TRAIN_SQL,
            "product-quantization codebook training (M subspace k-means in one pass/iter)",
        ),
        "similarity_pq_adc_topk": QuerySpec(
            similarity_pq_adc_topk,
            PQ_ADC_TOPK_SQL,
            "trained-PQ ADC top-k, full path hash-checked incl. the codebook update",
        ),
    }
)


def similarity_ivf_pq_topk(spark, sf_dir):
    """The COMPLETE FAISS IVF-PQ production stack, every stage
    hash-checked: IVF cell pruning over the persisted cell-partitioned
    index (`_ensure_ivf_index` — the scan reads ONLY the n_probe
    partitions, plan shape as similarity_ivf_adc_topk) feeding
    TRAINED product-quantization ranking (`similarity_pq_adc_topk`'s
    R=1 codebooks, trained corpus-wide in one kernel pass + one
    bounded driver update, replayed in SQL by the oracle).

    vs similarity_ivf_adc_topk: that stack ranks with a per-dim
    uniform SCALAR grid (no training); this one ranks with the
    k-means-trained vector codebook — higher fidelity per byte, the
    trade FAISS calls IVFADC. Plan: two bounded driver collects
    (centroids + K*d codebook partials), then ONE partition-pruned
    map-only scan and TakeOrdered — no corpus shuffle at any scale."""
    import numpy as np

    from ..operators.similarity import SCALE as _SC
    from ..operators.similarity import (
        _ivf_centroids_and_query,
        pq_adc_distances,
        pq_train_partials,
    )

    n_cells, n_probe = 8, 2
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx_path = _ensure_ivf_index(spark, sf_dir, n_cells=n_cells)
    C, qv = _ivf_centroids_and_query(emb, 0, n_cells, "vec_id", "embedding")
    empty = emb.select(
        "vec_id", F.lit(0).cast("long").alias("adc_dist")
    ).where(F.lit(False))
    if qv is None:
        return empty
    qs = np.floor(qv[None, :] * C * _SC).astype("int64").sum(axis=1)
    probe = [int(c) for c in np.lexsort((np.arange(len(qs)), -qs))[:n_probe]]

    CB = _pq_seed_codebooks(emb)
    rows = (
        pq_train_partials(emb, CB)
        .groupBy("m", "code", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    CB1 = _pq_apply_update(CB, rows)
    probed = spark.read.parquet(idx_path).where(F.col("cell").isin(probe))
    return (
        pq_adc_distances(probed, CB1, qv)
        .where(F.col("vec_id") != 0)
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


IVF_PQ_TOPK_SQL = f"""
WITH {_PQ_SUB_SQL},
cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < 8
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE)
                      * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  GROUP BY e.vec_id, c.cell_id
),
cells AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore) WHERE rn = 1
),
probe AS (
  SELECT cell_id FROM (
    SELECT cell_id, row_number() OVER (ORDER BY score DESC, cell_id) AS rn
    FROM ascore WHERE vec_id = 0) WHERE rn <= 2
),
d0 AS (
  SELECT sub.vec_id, sub.m, seedc.code,
         SUM(CAST(floor((sub.x - seedc.c) * (sub.x - seedc.c) * {S})
                  AS BIGINT)) AS d2
  FROM sub JOIN seedc ON sub.m = seedc.m AND sub.u = seedc.u
  GROUP BY 1, 2, 3
),
assign0 AS (
  SELECT vec_id, m, code FROM d0
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1
),
upd AS (
  SELECT a.m, a.code, s.u,
         (CAST(SUM(CAST(floor(s.x * {S}) AS BIGINT)) AS DOUBLE) / {S}.0)
           / count(*) AS c1
  FROM assign0 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY 1, 2, 3
),
cb1 AS (
  SELECT sc.m, sc.code, sc.u, COALESCE(upd.c1, sc.c) AS c
  FROM seedc sc LEFT JOIN upd
    ON upd.m = sc.m AND upd.code = sc.code AND upd.u = sc.u
),
d1 AS (
  SELECT sub.vec_id, sub.m, cb1.code,
         SUM(CAST(floor((sub.x - cb1.c) * (sub.x - cb1.c) * {S})
                  AS BIGINT)) AS d2
  FROM sub JOIN cb1 ON sub.m = cb1.m AND sub.u = cb1.u
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, code FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1
),
qsub AS (SELECT m, u, x FROM sub WHERE vec_id = 0),
lut AS (
  SELECT cb1.m, cb1.code,
         SUM(CAST(floor((qsub.x - cb1.c) * (qsub.x - cb1.c) * {S})
                  AS BIGINT)) AS d2
  FROM cb1 JOIN qsub ON qsub.m = cb1.m AND qsub.u = cb1.u
  GROUP BY 1, 2
)
SELECT enc.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_dist
FROM enc
JOIN lut ON enc.m = lut.m AND enc.code = lut.code
JOIN cells cl ON cl.vec_id = enc.vec_id
WHERE enc.vec_id <> 0 AND cl.cell IN (SELECT cell_id FROM probe)
GROUP BY enc.vec_id
ORDER BY adc_dist, enc.vec_id
LIMIT 10
"""


QUERIES.update(
    {
        "similarity_ivf_pq_topk": QuerySpec(
            similarity_ivf_pq_topk,
            IVF_PQ_TOPK_SQL,
            "complete IVF-PQ ANN stack: partition-pruned scan + trained-codebook ADC",
        ),
    }
)


_FPS_R = 4  # total seeds: vec 0 + 3 farthest-point rounds


def kmeans_seed_farthest(spark, sf_dir):
    """Farthest-point (Gonzalez k-center) seeding for the k-means /
    PQ trainers — the principled replacement for first-K seeding:
    seed 0 is vector 0; each round adds the vector maximizing its
    exact min fixed-point distance to the chosen set (ties to the
    lower id). Every round is ONE corpus pass through
    `farthest_point_partials` (operators/similarity.py), which emits
    one (max-min-distance, id) candidate PER TASK — the driver
    reduction is bounded by task count, and the selected trajectory
    is exact integers end to end, so the ORACLE REPLAYS THE FULL
    SEEDING in SQL (unrolled rounds) and every output row is
    hash-checked: (round, seed_id, d2_fp = the seed's min distance to
    its predecessors)."""
    import numpy as np

    from ..operators.similarity import farthest_point_partials

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q0 = emb.where(F.col("vec_id") == 0).select("embedding").first()
    empty = spark.createDataFrame([], "round int, seed_id long, d2_fp long")
    if q0 is None or q0["embedding"] is None:
        return empty
    seeds = [np.asarray(q0["embedding"], dtype="float64")]
    out = [(0, 0, 0)]
    for r in range(1, _FPS_R):
        rows = farthest_point_partials(emb, np.stack(seeds)).collect()
        best = min(rows, key=lambda x: (-int(x["md"]), int(x["vid"])))
        sid, md = int(best["vid"]), int(best["md"])
        out.append((r, sid, md))
        srow = emb.where(F.col("vec_id") == sid).select("embedding").first()
        seeds.append(np.asarray(srow["embedding"], dtype="float64"))
    return spark.createDataFrame(out, "round int, seed_id long, d2_fp long")


def _fps_dist(v: str, s: str) -> str:
    return (
        f"(SELECT CAST(SUM(CAST(floor((CAST({v}.embedding[u.i] AS DOUBLE)"
        f" - CAST({s}.se[u.i] AS DOUBLE))"
        f" * (CAST({v}.embedding[u.i] AS DOUBLE)"
        f" - CAST({s}.se[u.i] AS DOUBLE)) * {S}) AS BIGINT)) AS BIGINT)"
        f" FROM UNNEST(range(1, len({v}.embedding) + 1)) AS u(i))"
    )


def _fps_sql() -> str:
    parts = [
        "WITH e AS (SELECT vec_id, embedding FROM embeddings"
        " WHERE embedding IS NOT NULL)",
        f"""m1 AS (
  SELECT v.vec_id, {_fps_dist('v', 's')} AS md
  FROM e v, (SELECT embedding AS se FROM e WHERE vec_id = 0) s
)""",
        """p1 AS (
  SELECT vec_id, md FROM m1
  QUALIFY row_number() OVER (ORDER BY md DESC, vec_id) = 1
)""",
    ]
    for r in range(2, _FPS_R):
        parts.append(f"""m{r} AS (
  SELECT v.vec_id, least(m{r-1}.md, {_fps_dist('v', 's')}) AS md
  FROM e v
  JOIN m{r-1} ON m{r-1}.vec_id = v.vec_id,
  (SELECT e2.embedding AS se FROM e e2
   JOIN p{r-1} ON e2.vec_id = p{r-1}.vec_id) s
)""")
        parts.append(f"""p{r} AS (
  SELECT vec_id, md FROM m{r}
  QUALIFY row_number() OVER (ORDER BY md DESC, vec_id) = 1
)""")
    selects = ["SELECT 0 AS round, CAST(0 AS BIGINT) AS seed_id,"
               " CAST(0 AS BIGINT) AS d2_fp"]
    for r in range(1, _FPS_R):
        selects.append(
            f"SELECT {r} AS round, CAST(vec_id AS BIGINT) AS seed_id,"
            f" CAST(md AS BIGINT) AS d2_fp FROM p{r}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


KMEANS_SEED_SQL = _fps_sql()


QUERIES.update(
    {
        "kmeans_seed_farthest": QuerySpec(
            kmeans_seed_farthest,
            KMEANS_SEED_SQL,
            "farthest-point (Gonzalez) seeding trajectory, exact ints, SQL-replayed oracle",
        ),
    }
)


def similarity_pq_recall_audit(spark, sf_dir):
    """Recall@10 of trained-PQ ADC serving against the EXACT
    fixed-point L2 top-10 (query = vector 0) — the audit that
    quantifies what the 16x compression costs in ranking quality (the
    knn_recall_ivf_audit pattern for the PQ family). Both sides are
    exact-integer rankings, so the one-row verdict is hash-checked:
    (k, n_hits, recall).

    Scale shape: the exact side is one map-only Arrow pass (per-row
    exact d2 to the broadcast query, TakeOrdered), the PQ side is the
    similarity_pq_adc_topk pipeline; the intersection joins two 10-row
    sets."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    empty = spark.createDataFrame([], "k int, n_hits long, recall double")
    if qrow is None or qrow["embedding"] is None:
        return empty
    q = np.asarray(qrow["embedding"], dtype="float64")

    def exact(batches):
        for pdf in batches:
            pdf = pdf.dropna(subset=["embedding"])
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            d2 = (
                np.floor((V - q[None, :]) ** 2 * float(S))
                .astype("int64")
                .sum(axis=1)
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "d2": d2}
            )

    exact_top = (
        emb.mapInPandas(exact, "vec_id long, d2 long")
        .where(F.col("vec_id") != 0)
        .orderBy("d2", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    pq_top = similarity_pq_adc_topk(spark, sf_dir).select("vec_id")
    hits = exact_top.join(pq_top, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(10.0)).alias("recall"),
    )


PQ_RECALL_SQL = f"""
WITH exact_d AS (
  SELECT e.vec_id,
         (SELECT CAST(SUM(CAST(floor((CAST(e.embedding[u.i] AS DOUBLE)
                                      - CAST(q.embedding[u.i] AS DOUBLE))
                                     * (CAST(e.embedding[u.i] AS DOUBLE)
                                        - CAST(q.embedding[u.i] AS DOUBLE))
                                     * {S}) AS BIGINT)) AS BIGINT)
          FROM UNNEST(range(1, len(e.embedding) + 1)) AS u(i)) AS d2
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.embedding IS NOT NULL AND e.vec_id <> 0
),
exact_top AS (
  SELECT vec_id FROM exact_d ORDER BY d2, vec_id LIMIT 10
),
pq_top AS (SELECT vec_id FROM ({PQ_ADC_TOPK_SQL}) z)
SELECT 10 AS k, CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) AS DOUBLE) / 10.0 AS recall
FROM exact_top JOIN pq_top USING (vec_id)
"""


QUERIES.update(
    {
        "similarity_pq_recall_audit": QuerySpec(
            similarity_pq_recall_audit,
            PQ_RECALL_SQL,
            "recall@10 of trained-PQ ADC vs the exact fixed-point L2 ranking",
        ),
    }
)


def embedding_sim_calibration(spark, sf_dir):
    """Similarity-signal calibration (the quality_dup_calibration
    pattern for embeddings): bucket the exact 3-NN edges by cosine
    decile and report the same-label rate per bucket — if the
    embedding space is healthy the rate rises monotonically with
    cosine, and the bucket where it crosses a target precision IS the
    near-dup / retrieval threshold. Buckets floor the hash-checked
    deterministic cosine (floor(c*10)), counts are exact longs, the
    rate is one IEEE divide.

    Scale shape: everything lives on the skinny kNN edge list (n*k
    rows); labels join in twice (broadcast-size), one bounded bucket
    groupBy."""
    knn = _knn_topk(spark, sf_dir)
    labs = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    e = (
        knn.join(labs, "vec_id")
        .join(
            labs.select(
                F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
            ),
            "nbr_id",
        )
    )
    bucket = F.floor(F.col("cosine") * 10).cast("int")
    out = e.groupBy(bucket.alias("cos_bucket")).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum((F.col("label") == F.col("nbr_label")).cast("long")).alias(
            "n_same_label"
        ),
    )
    return out.select(
        "cos_bucket",
        "n_edges",
        "n_same_label",
        (
            F.col("n_same_label").cast("double") / F.col("n_edges").cast("double")
        ).alias("same_label_rate"),
    )


SIM_CALIBRATION_SQL = f"""
WITH {_KNN_CTES},
e AS (
  SELECT r.vec_id, r.nbr_id, r.cosine, a.label, b.label AS nbr_label
  FROM rk r
  JOIN embeddings a ON a.vec_id = r.vec_id
  JOIN embeddings b ON b.vec_id = r.nbr_id
  WHERE r.rk <= 3
)
SELECT CAST(floor(cosine * 10) AS INTEGER) AS cos_bucket,
       count(*) AS n_edges,
       CAST(SUM(CASE WHEN label = nbr_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_label,
       CAST(SUM(CASE WHEN label = nbr_label THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS same_label_rate
FROM e GROUP BY 1
"""


QUERIES.update(
    {
        "embedding_sim_calibration": QuerySpec(
            embedding_sim_calibration,
            SIM_CALIBRATION_SQL,
            "cosine-decile x same-label-rate calibration of the kNN edge list",
        ),
    }
)


def _ensure_ivfpq_index(spark, sf_dir: str) -> str:
    """Build (once) the PERSISTED IVF-PQ index — the FAISS index file,
    as a lakehouse table: PQ codebooks train once (R=1, the
    similarity_pq_adc_topk recipe), every vector stores ONLY its cell
    assignment and M uint8 codes (16x compression: 4 codes vs 64
    floats), partitioned by cell. Codebooks land beside the data as
    JSON so serving never retrains or touches the raw vectors.
    Location and staleness: `layouts.py`. An index that has absorbed
    appended batches no longer equals the pure-corpus encode this
    query's shared oracle computes, so the applied batch ids are part
    of the spec: any append makes the next call rebuild."""
    import numpy as np

    from ..operators.similarity import _ivf_centroids_and_query, pq_train_partials

    def build(out: str) -> None:
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        CB = _pq_seed_codebooks(emb)
        rows = (
            pq_train_partials(emb, CB)
            .groupBy("m", "code", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        CB1 = _pq_apply_update(CB, rows)
        C, _ = _ivf_centroids_and_query(emb, 0, 8, "vec_id", "embedding")
        _ivfpq_encode(emb, CB1, C).write.mode("overwrite").partitionBy("cell").parquet(out)
        with open(os.path.join(out, "_CODEBOOKS.json"), "w") as fh:
            json.dump(CB1.tolist(), fh)
        with open(os.path.join(out, "_CENTROIDS.json"), "w") as fh:
            json.dump(np.asarray(C, dtype="float64").tolist(), fh)

    applied = _ivfpq_applied_batches(layouts.location("ivfpq", sf_dir))
    return layouts.ensure(
        spark, "ivfpq", sf_dir, ["embeddings"], {"v": 2, "appended": applied}, build
    )


def _ivfpq_encode(emb, CB1, C):
    """Shared IVF-PQ encoding kernel: cell = argmax fixed-point dot
    score (ties to the lower cell id), codes = per-subspace exact-int
    argmin — the same arithmetic at build time and append time, so an
    appended vector gets byte-identical rows to a full rebuild under
    the same frozen codebooks/centroids."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import SCALE as _SC

    CB1 = np.asarray(CB1, dtype="float64")
    C = np.asarray(C, dtype="float64")

    def encode(batches):
        m_sub, k, ds = CB1.shape
        for pdf in batches:
            pdf = pdf.dropna(subset=["embedding"])
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            cells = (
                np.floor(V[:, None, :] * C[None, :, :] * float(_SC))
                .astype("int64")
                .sum(axis=2)
            )
            # argmax score, ties to the lower cell id (lexsort idiom)
            order_cells = np.lexsort(
                (np.tile(np.arange(len(C)), (len(V), 1)), -cells), axis=1
            )[:, 0]
            codes = np.zeros((len(V), m_sub), dtype="int32")
            for m in range(m_sub):
                Wm = V[:, m * ds : (m + 1) * ds]
                D = (
                    np.floor(
                        (Wm[:, None, :] - CB1[m][None, :, :]) ** 2 * float(_SC)
                    )
                    .astype("int64")
                    .sum(axis=2)
                )
                codes[:, m] = D.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": order_cells.astype("int32"),
                    "codes": list(codes),
                }
            )

    return emb.mapInPandas(encode, "vec_id long, cell int, codes array<int>")


def _ivfpq_applied_batches(idx_path: str) -> list[str]:
    """Batch ids whose data is (or may be) in the index: both committed
    ("applied") and in-flight ("pending") entries count — a pending
    batch may have moved some files before a crash."""
    try:
        with open(os.path.join(idx_path, "_BATCHES.json")) as fh:
            entries = json.load(fh)
    except (OSError, ValueError):
        return []
    # legacy format was a bare list of ids
    if entries and isinstance(entries[0], str):
        return list(entries)
    return [e["id"] for e in entries]


def ivfpq_append_batch(spark, emb_batch, idx_path: str, batch_id: str) -> int:
    """INCREMENTAL maintenance of the persisted IVF-PQ index (the
    operational triplet's third member, beside the band-index and
    IVF probes): a new vector batch is encoded under the index's
    FROZEN codebooks and centroids (read from metadata — training
    never reruns; that is the index contract, and periodic full
    rebuilds are the re-training path) and appended into the same
    cell-partitioned layout. A manifest of applied batch_ids makes
    replays no-ops (the write_bucketed_table idempotence precedent).
    Returns the number of rows appended (0 on replay).

    Exactly-once under crashes (two-phase commit): the encoded batch
    lands in an underscore-prefixed staging dir (invisible to parquet
    readers), the manifest records it "pending" BEFORE any file enters
    the live layout, then the uniquely-named part files move in and
    the entry flips to "applied". A crash at any point is recovered by
    replaying the same batch_id: pre-pending debris is overwritten,
    a pending batch resumes its move (already-moved files are gone
    from staging, so the move is idempotent). Appended batch ids are
    part of `_ensure_ivfpq_index`'s layout spec, so
    `similarity_ivf_pq_topk_indexed` never serves an appended index
    against its full-corpus oracle."""
    import shutil

    import numpy as np

    manifest = os.path.join(idx_path, "_BATCHES.json")
    entries = []
    try:
        with open(manifest) as fh:
            entries = json.load(fh)
    except (OSError, ValueError):
        pass
    if entries and isinstance(entries[0], str):  # legacy id-list format
        entries = [{"id": b, "state": "applied", "rows": None} for b in entries]
    mine = next((e for e in entries if e["id"] == batch_id), None)
    if mine is not None and mine["state"] == "applied":
        return 0

    def _commit_manifest():
        replace_file(manifest, json.dumps(entries).encode())

    staging = os.path.join(idx_path, f"_staging_batch_{batch_id}")
    if mine is None:
        # phase 1: encode into staging (clobbering unmanifested debris),
        # then durably mark pending before any file goes live
        with open(os.path.join(idx_path, "_CODEBOOKS.json")) as fh:
            CB1 = np.asarray(json.load(fh), dtype="float64")
        with open(os.path.join(idx_path, "_CENTROIDS.json")) as fh:
            C = np.asarray(json.load(fh), dtype="float64")
        coded = _ivfpq_encode(emb_batch.select("vec_id", "embedding"), CB1, C)
        coded.write.mode("overwrite").partitionBy("cell").parquet(staging)
        n = spark.read.parquet(staging).count()
        mine = {"id": batch_id, "state": "pending", "rows": n}
        entries.append(mine)
        _commit_manifest()
    # phase 2: move part files into the live cell dirs (idempotent —
    # resuming after a crash moves only what's left), then flip state
    if os.path.isdir(staging):
        for cell_dir in sorted(os.listdir(staging)):
            src_dir = os.path.join(staging, cell_dir)
            if not (cell_dir.startswith("cell=") and os.path.isdir(src_dir)):
                continue
            dst_dir = os.path.join(idx_path, cell_dir)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in sorted(os.listdir(src_dir)):
                if fn.endswith(".parquet"):
                    os.rename(os.path.join(src_dir, fn), os.path.join(dst_dir, fn))
        shutil.rmtree(staging)
    mine["state"] = "applied"
    _commit_manifest()
    return int(mine["rows"] or 0)


def similarity_ivf_pq_topk_indexed(spark, sf_dir):
    """IVF-PQ serving against the PERSISTED compressed index — the
    true production read path: the index build (`_ensure_ivfpq_index`)
    already paid for training, cell assignment and PQ encoding, so a
    query costs (a) one bounded driver fetch (centroids from the
    corpus head + codebooks from the index metadata), (b) a
    partition-pruned scan of the n_probe cells reading ONLY (vec_id,
    4 codes) — 16x fewer bytes than the vectors — and (c) an in-plan
    LUT fold over M=4 array elements; TakeOrdered finishes. No
    re-encoding, no Python stage, no shuffle. Identical result set to
    `similarity_ivf_pq_topk` (shared oracle): the at-rest index is an
    equivalence-preserving layout change, like the bucketed twins."""
    import numpy as np

    from ..operators.similarity import SCALE as _SC
    from ..operators.similarity import _ivf_centroids_and_query

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx_path = _ensure_ivfpq_index(spark, sf_dir)
    C, qv = _ivf_centroids_and_query(emb, 0, 8, "vec_id", "embedding")
    empty = emb.select(
        "vec_id", F.lit(0).cast("long").alias("adc_dist")
    ).where(F.lit(False))
    if qv is None:
        return empty
    with open(os.path.join(idx_path, "_CODEBOOKS.json")) as fh:
        CB1 = np.asarray(json.load(fh), dtype="float64")
    m_sub, k, ds = CB1.shape
    qs = np.floor(qv[None, :] * C * _SC).astype("int64").sum(axis=1)
    probe = [int(c) for c in np.lexsort((np.arange(len(qs)), -qs))[:2]]
    lut = np.zeros((m_sub, k), dtype="int64")
    for m in range(m_sub):
        qm = qv[m * ds : (m + 1) * ds]
        lut[m] = (
            np.floor((qm[None, :] - CB1[m]) ** 2 * float(_SC))
            .astype("int64")
            .sum(axis=1)
        )
    lut_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in lut[m]) + ")"
            for m in range(m_sub)
        )
        + ")"
    )
    dist = F.expr(
        f"aggregate(zip_with(codes, {lut_sql}, (c, row) -> row[c]),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    probed = spark.read.parquet(idx_path).where(F.col("cell").isin(probe))
    return (
        probed.where(F.col("vec_id") != 0)
        .select("vec_id", dist.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


QUERIES.update(
    {
        "similarity_ivf_pq_topk_indexed": QuerySpec(
            similarity_ivf_pq_topk_indexed,
            IVF_PQ_TOPK_SQL,  # identical semantics, at-rest layout twin
            "IVF-PQ serving from the PERSISTED compressed index (codes at rest, no re-encode)",
        ),
    }
)


# ---------------------------------------------------------------------------
# ann_recall_clustered: the IVF recall story on a PLANTED-CLUSTER corpus
# ---------------------------------------------------------------------------

_ANN_CL_N = 512
_ANN_CL_K = 16
_ANN_CL_DIM = 64


def _ensure_clustered_fixture(sf_dir: str) -> int:
    """Planted-cluster embedding fixture (the `fixtures_mm` pattern):
    16 deterministic Gaussian blobs around near-orthogonal unit
    centers (cluster = vec_id % 16, sigma 0.05/dim), with every 10th
    vector pulled toward a second cluster so finer cell layouts have
    boundary cases to lose. The synthetic corpus embeddings are
    UNIFORM random — the documented adversarial case where IVF recall
    is ~0.26 by construction (`knn_recall_ivf_audit`); this fixture is
    the complementary demonstration that the same persisted-IVF stack
    reaches a production operating point (recall >= 0.9 probing <= 25%
    of cells) the moment the corpus has cluster structure. Both
    engines read the same parquet bytes, so the fixed-point scoring
    stays bitwise cross-engine. Returns the corpus_key tag (count +
    sum(vec_id) over the sf dir's embeddings — SQL-replayable)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..fixtures_mm import FIXTURE_DIR

    path = os.path.join(FIXTURE_DIR, "ann_clustered_embeddings.parquet")
    ids = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id"]
    )["vec_id"].astype("int64")
    key = int(len(ids) + ids.sum())
    if os.path.exists(path):
        have = pq.read_table(path, columns=["corpus_key"])["corpus_key"].to_numpy()
        if (have == key).any():
            return key

    K, d, n = _ANN_CL_K, _ANN_CL_DIM, _ANN_CL_N
    centers = np.stack(
        [
            (lambda g: g / np.linalg.norm(g))(
                np.random.RandomState(424_200 + k).standard_normal(d)
            )
            for k in range(K)
        ]
    )
    vecs = np.empty((n, d), dtype="float64")
    for i in range(n):
        k = i % K
        noise = 0.05 * np.random.RandomState(
            (key * 521 + i) % (2**31 - 1)
        ).standard_normal(d)
        if i % 10 == 7:
            vecs[i] = 0.62 * centers[k] + 0.55 * centers[(k + 3) % K] + noise
        else:
            vecs[i] = centers[k] + noise
    fresh = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "cluster": pa.array((np.arange(n) % K).astype("int32")),
            "embedding": pa.array(
                list(vecs.astype("float32")), type=pa.list_(pa.float32())
            ),
            "corpus_key": pa.array(np.full(n, key, dtype="int64")),
        }
    )
    if os.path.exists(path):
        old = pq.read_table(path).filter(pa.compute.not_equal(pa.compute.field("corpus_key"), key))
        fresh = pa.concat_tables([old.cast(fresh.schema), fresh])
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    pq.write_table(fresh, path)
    return key


def ann_recall_clustered(spark, sf_dir):
    """Recall@3 sweep of the IVF cell-blocked k-NN join over the
    planted-cluster fixture — one row per cell-count operating point
    (probed fraction = 1/n_cells, single-probe): coarse cells (4 -> 25%
    probed) vs the production layout (16 -> 6.25% probed). The exact
    block-nested-loop join is computed ONCE and persisted (it is the
    shared ground truth for both sweep points); each audit join keys
    on the skinny (vec_id, nbr_id) edge lists, never the vectors. The
    oracle replays exact kNN, cell assignment AND the recall fold in
    SQL over the same fixture parquet."""
    from pyspark.sql import Window

    from ..operators.similarity import knn_join_partials, knn_join_within_cells

    key = _ensure_clustered_fixture(sf_dir)
    from ..fixtures_mm import FIXTURE_DIR

    src = spark.read.parquet(
        os.path.join(FIXTURE_DIR, "ann_clustered_embeddings.parquet")
    )
    df = src.where(F.col("corpus_key") == key).select("vec_id", "embedding")
    part = knn_join_partials(df, k=3, n_blocks=8)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    exact = (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("vec_id", "nbr_id")
        .persist()
    )
    outs = []
    for nc in (4, 16):
        approx = knn_join_within_cells(df, n_cells=nc, k=3).select(
            "vec_id", "nbr_id"
        )
        hit = exact.join(approx, ["vec_id", "nbr_id"], "left_semi")
        outs.append(
            exact.agg(F.count(F.lit(1)).alias("n_true"))
            .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_retrieved")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(
                F.lit(nc).alias("n_cells"),
                (F.lit(1.0) / F.lit(float(nc))).alias("probed_frac"),
                "n_true",
                "n_retrieved",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_true")).alias("recall"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("n_cells")


def _clustered_recall_cte(nc: int) -> str:
    return f"""
cells{nc} AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT a.vec_id, a.cell_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY a.score DESC, a.cell_id) AS rn
    FROM (
      SELECT e.vec_id, c.cell_id, CAST(SUM(
               CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
             ) AS BIGINT) AS score
      FROM csrc e,
           (SELECT vec_id AS cell_id, embedding AS ce FROM csrc WHERE vec_id < {nc}) c,
           UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
      GROUP BY e.vec_id, c.cell_id
    ) a
  ) r WHERE rn = 1
),
approx{nc} AS MATERIALIZED (
  SELECT s.vec_id, s.nbr_id FROM (
    SELECT p.vec_id, p.nbr_id,
           row_number() OVER (
             PARTITION BY p.vec_id ORDER BY p.cosine DESC, p.nbr_id) AS rk
    FROM cscored p
    JOIN cells{nc} ca ON ca.vec_id = p.vec_id
    JOIN cells{nc} cb ON cb.vec_id = p.nbr_id AND cb.cell = ca.cell
  ) s WHERE s.rk <= 3
)"""


def _clustered_recall_row(nc: int) -> str:
    return f"""
SELECT CAST({nc} AS INTEGER) AS n_cells,
       1.0 / {nc} AS probed_frac,
       (SELECT count(*) FROM cexact) AS n_true,
       (SELECT count(*) FROM approx{nc}) AS n_retrieved,
       (SELECT count(*) FROM cexact e JOIN approx{nc} a USING (vec_id, nbr_id)) AS n_hit,
       CAST((SELECT count(*) FROM cexact e JOIN approx{nc} a USING (vec_id, nbr_id)) AS DOUBLE)
         / (SELECT count(*) FROM cexact) AS recall"""


def _clustered_fixture_path() -> str:
    from ..fixtures_mm import FIXTURE_DIR

    return os.path.join(FIXTURE_DIR, "ann_clustered_embeddings.parquet")


ANN_RECALL_CLUSTERED_SQL = f"""
WITH csrc AS MATERIALIZED (
  SELECT vec_id, embedding
  FROM read_parquet('{_clustered_fixture_path()}')
  WHERE corpus_key = (SELECT count(*) + CAST(sum(vec_id) AS BIGINT) FROM embeddings)
),
cpairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         a.embedding AS ea, b.embedding AS eb
  FROM csrc a JOIN csrc b ON a.vec_id <> b.vec_id
),
cterms AS (
  SELECT vec_id, nbr_id,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM cpairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
csums AS (
  SELECT vec_id, nbr_id, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM cterms GROUP BY vec_id, nbr_id
),
cscored AS MATERIALIZED (
  SELECT vec_id, nbr_id,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine
  FROM csums
),
crk AS (
  SELECT vec_id, nbr_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rk
  FROM cscored
),
cexact AS MATERIALIZED (SELECT vec_id, nbr_id FROM crk WHERE rk <= 3),
{_clustered_recall_cte(4)},
{_clustered_recall_cte(16)}
{_clustered_recall_row(4)}
UNION ALL
{_clustered_recall_row(16)}
ORDER BY n_cells
"""


QUERIES.update(
    {
        "ann_recall_clustered": QuerySpec(
            ann_recall_clustered,
            ANN_RECALL_CLUSTERED_SQL,
            "IVF kNN-join recall sweep on planted-cluster embeddings (operating-point demo)",
        ),
    }
)


# ---------------------------------------------------------------------------
# Multi-probe IVF kNN join + its recall sweep (the production recall knob)
# ---------------------------------------------------------------------------


def knn_join_topk_ivf_mp(spark, sf_dir):
    """Multi-probe IVF k-NN join (n_probe=2 of 8 cells): the standard
    knob between the single-probe join (recall ~0.26 on this
    uniform-random corpus — the documented adversarial case) and the
    exact join. Build side stays one-cell; the probe side visits its
    top-2 cells, so the shuffle grows only 2x while candidates roughly
    double. One per-id window merges the per-cell candidate lists
    (each bitwise-equal to the exact join restricted to the cell)."""
    from pyspark.sql import Window

    from ..operators.similarity import knn_join_multiprobe

    cand = knn_join_multiprobe(
        load(spark, sf_dir, "embeddings"), n_cells=8, k=3, n_probe=2
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("vec_id", "nbr_id", "rk", "cosine")
    )


def _mp_cells_cte(n_cells: int = 8) -> str:
    return f"""cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < {n_cells}
),
ascore AS (
  SELECT e.vec_id, c.cell_id, CAST(SUM(
           CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.ce[u.i] AS DOUBLE) * {S}) AS BIGINT)
         ) AS BIGINT) AS score
  FROM embeddings e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
  WHERE e.embedding IS NOT NULL
  GROUP BY e.vec_id, c.cell_id
),
cellranks AS MATERIALIZED (
  SELECT vec_id, CAST(cell_id AS INTEGER) AS cell, rn FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rn
    FROM ascore)
)"""


KNN_IVF_MP_SQL = f"""
WITH {_mp_cells_cte(8)},
cpairs AS (
  SELECT ca.vec_id AS vec_id, cb.vec_id AS nbr_id,
         a.embedding AS ea, b.embedding AS eb
  FROM (SELECT vec_id, cell FROM cellranks WHERE rn <= 2) ca
  JOIN (SELECT vec_id, cell FROM cellranks WHERE rn = 1) cb
    ON ca.cell = cb.cell AND ca.vec_id <> cb.vec_id
  JOIN embeddings a ON a.vec_id = ca.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
terms AS (
  SELECT vec_id, nbr_id,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {S}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {S}) AS BIGINT) AS bt2
  FROM cpairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, nbr_id, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY vec_id, nbr_id
),
mprk AS (
  SELECT vec_id, nbr_id,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine,
         CAST(row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) DESC,
                    nbr_id) AS INTEGER) AS rk
  FROM sums
)
SELECT vec_id, nbr_id, rk, cosine FROM mprk WHERE rk <= 3
"""


def knn_recall_multiprobe_audit(spark, sf_dir):
    """Recall@3 of the multi-probe IVF join vs the exact join, one row
    per n_probe in (1, 2, 4) of 8 cells — the measured recall/cost
    curve on THIS corpus (uniform-random embeddings, the cell-pruning
    adversarial case `knn_recall_ivf_audit` quantifies at ~0.26
    single-probe). Together with `ann_recall_clustered` (0.98 at 1/16
    probed on clustered data) this closes the honesty caveat: the
    stack's two operating knobs — probe count and corpus structure —
    are both demonstrated with oracle-checked numbers. The exact edge
    list is computed once and persisted; audit joins are edge-sized."""
    from ..operators.similarity import knn_join_multiprobe

    exact = _knn_topk(spark, sf_dir).select("vec_id", "nbr_id").persist()
    emb = load(spark, sf_dir, "embeddings")
    outs = []
    for p in (1, 2, 4):
        from pyspark.sql import Window

        cand = knn_join_multiprobe(emb, n_cells=8, k=3, n_probe=p)
        w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
        approx = (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("vec_id", "nbr_id")
        )
        hit = exact.join(approx, ["vec_id", "nbr_id"], "left_semi")
        outs.append(
            exact.agg(F.count(F.lit(1)).alias("n_true"))
            .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_retrieved")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(
                F.lit(p).alias("n_probe"),
                "n_true",
                "n_retrieved",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_true")).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("n_probe")


def _mp_recall_row(p: int) -> str:
    return f"""
SELECT CAST({p} AS INTEGER) AS n_probe,
       (SELECT count(*) FROM exact_knn) AS n_true,
       (SELECT count(*) FROM approx{p}) AS n_retrieved,
       (SELECT count(*) FROM exact_knn e JOIN approx{p} a USING (vec_id, nbr_id)) AS n_hit,
       CAST((SELECT count(*) FROM exact_knn e JOIN approx{p} a USING (vec_id, nbr_id)) AS DOUBLE)
         / (SELECT count(*) FROM exact_knn) AS recall"""


def _mp_approx_cte(p: int) -> str:
    return f"""approx{p} AS MATERIALIZED (
  SELECT s.vec_id, s.nbr_id FROM (
    SELECT q.vec_id, q.nbr_id,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY q.cosine DESC, q.nbr_id) AS rk
    FROM scored q
    JOIN cellranks ca ON ca.vec_id = q.vec_id AND ca.rn <= {p}
    JOIN cellranks cb ON cb.vec_id = q.nbr_id AND cb.rn = 1 AND cb.cell = ca.cell
  ) s WHERE s.rk <= 3
)"""


KNN_RECALL_MP_SQL = f"""
WITH {_KNN_CTES},
exact_knn AS MATERIALIZED (SELECT vec_id, nbr_id FROM rk WHERE rk <= 3),
{_mp_cells_cte(8)},
{_mp_approx_cte(1)},
{_mp_approx_cte(2)},
{_mp_approx_cte(4)}
{_mp_recall_row(1)}
UNION ALL
{_mp_recall_row(2)}
UNION ALL
{_mp_recall_row(4)}
ORDER BY n_probe
"""


QUERIES.update(
    {
        "knn_join_topk_ivf_mp": QuerySpec(
            knn_join_topk_ivf_mp,
            KNN_IVF_MP_SQL,
            "multi-probe IVF kNN join (n_probe=2): the standard recall knob",
        ),
        "knn_recall_multiprobe_audit": QuerySpec(
            knn_recall_multiprobe_audit,
            KNN_RECALL_MP_SQL,
            "recall@3 vs exact per n_probe in (1,2,4) — the measured recall/cost curve",
        ),
    }
)
