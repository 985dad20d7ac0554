"""The fixed-point vector kernels of operators/similarity.py: the shared
helpers (cell ranking, the float64-sum envelope), the k-NN join family
(brute-force numpy parity, block-count invariance, IVF = exact join
restricted to the cell, multi-probe), product quantization and the ANN
recall audit. Oracle parity is covered by the driver protocol
(tests/oracle_check.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_pipeline_spark.operators.similarity import ann_recall_audit
from duckdb_pipeline_spark.queries.similarity import ann_recall_report
from tests.conftest import SF_SMOKE


def _planted(spark, n=30, d=8):
    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.uniform(-1, 1, d).astype("float32")])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _merge_topk(part, k):
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .orderBy("vec_id", "rk")
    )


# ---------------------------------------------------------------------------
# shared helpers: cell ranking and the float64-sum envelope
# ---------------------------------------------------------------------------


def test_rank_cells_matches_the_three_ranking_idioms():
    """`_rank_cells` ranks by (score desc, cell asc). On integer score
    matrices with planted ties it must equal each idiom it replaced:
    a stable argsort on -score, a lexsort with a tiled arange, and (its
    first column) argmax's first maximum."""
    from duckdb_pipeline_spark.operators.similarity import SCALE, _rank_cells

    rng = np.random.RandomState(3)
    # small integer coordinates: every term v*c*SCALE is an exact
    # integer, so the scores are V @ C.T * SCALE with many ties
    V = rng.randint(-2, 3, size=(200, 4)).astype("float64")
    C = rng.randint(-2, 3, size=(9, 4)).astype("float64")
    C[5] = C[2]  # planted duplicate cell: every row ties on 2 and 5
    scores = (V.astype("int64") @ C.T.astype("int64")) * SCALE
    for n in (1, 3, 9):
        got = _rank_cells(V, C, n)
        stable = np.argsort(-scores, axis=1, kind="stable")[:, :n]
        lex = np.lexsort(
            (np.tile(np.arange(len(C)), (len(V), 1)), -scores), axis=1
        )[:, :n]
        assert (got == stable).all() and (got == lex).all()
    assert (_rank_cells(V, C, 1)[:, 0] == scores.argmax(axis=1)).all()
    # the planted duplicate never outranks its lower-id twin
    both = _rank_cells(V, C, 9)
    pos = {c: np.nonzero(both == c)[1] for c in (2, 5)}
    assert (pos[2] < pos[5]).all()


def _big(spark, n=12, d=64, x=400.0):
    rows = [(i, [x if (i + j) % 2 else -x for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_join_partials_raises_outside_the_float64_envelope(spark):
    """64-dim vectors with |x| = 400 put 64 * SCALE * 400^2 past 2^53:
    the float64 sums would no longer be exact, so the kernel raises."""
    from duckdb_pipeline_spark.operators.similarity import knn_join_partials

    with pytest.raises(Exception, match="envelope"):
        knn_join_partials(_big(spark), k=2, n_blocks=2).collect()


def test_ivf_write_index_raises_outside_the_float64_envelope(spark, tmp_path):
    from duckdb_pipeline_spark.operators.similarity import ivf_write_index

    with pytest.raises(Exception, match="envelope"):
        ivf_write_index(_big(spark), str(tmp_path / "ivf"), n_cells=4)


def test_ivf_topk_vectorized_requires_dense_centroid_ids(spark, sf_dir):
    """Centroid row positions are the cell ids the oracle computes with:
    without vec_id 3 the kernel must raise, not renumber the cells."""
    from duckdb_pipeline_spark.operators.similarity import ivf_topk_vectorized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id != 3")
    with pytest.raises(ValueError, match="dense"):
        ivf_topk_vectorized(emb, query_id=9, k=5, n_cells=8, n_probe=2)


# ---------------------------------------------------------------------------
# k-NN join family
# ---------------------------------------------------------------------------


def test_knn_join_matches_numpy_bruteforce(spark):
    """Merged block partials must equal the exact numpy all-pairs
    top-k with the same fixed-point arithmetic and tiebreak."""
    from duckdb_pipeline_spark.operators.similarity import (
        SCALE,
        knn_join_partials,
    )

    emb = _planted(spark)
    k = 3
    got = _merge_topk(knn_join_partials(emb, k=k, n_blocks=4), k).collect()

    rows = emb.orderBy("vec_id").collect()
    V = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    n = len(V)
    norms = np.sqrt(
        np.floor(V * V * SCALE).astype("int64").sum(axis=1).astype("float64")
    )
    want = []
    for i in range(n):
        dots = np.floor(V[i][None, :] * V * SCALE).astype("int64").sum(axis=1)
        cos = dots.astype("float64") / (norms[i] * norms)
        order = sorted(
            (j for j in range(n) if j != i), key=lambda j: (-cos[j], j)
        )[:k]
        for r, j in enumerate(order, 1):
            want.append((i, j, r, cos[j]))

    assert [(g["vec_id"], g["nbr_id"], g["rk"], g["cosine"]) for g in got] == want


def test_knn_join_block_count_invariance(spark):
    """The merged result must be identical for any block count —
    blocking is a physical distribution choice, not a semantic one."""
    from duckdb_pipeline_spark.operators.similarity import knn_join_partials

    emb = _planted(spark, n=25)
    results = []
    for B in (1, 3, 7):
        got = _merge_topk(knn_join_partials(emb, k=2, n_blocks=B), 2).collect()
        results.append([tuple(r) for r in got])
    assert results[0] == results[1] == results[2]


def test_knn_label_purity_bounds(spark):
    from duckdb_pipeline_spark.queries.similarity import knn_label_purity

    rows = knn_label_purity(spark, SF_SMOKE).collect()
    assert rows, "expected one row per label"
    for r in rows:
        assert 0 <= r["n_match"] <= r["n_vecs"]
        assert abs(r["purity"] - r["n_match"] / r["n_vecs"]) < 1e-15


def test_knn_ivf_matches_exact_within_cells(spark):
    """The IVF cell-blocked join must equal the EXACT kNN join
    recomputed over each cell's members alone (same arithmetic, same
    tiebreak) — i.e. the approximation is exactly 'restrict candidates
    to the cell', nothing else."""
    from duckdb_pipeline_spark.operators.similarity import (
        knn_join_partials,
        knn_join_within_cells,
    )

    emb = _planted(spark, n=40, d=8)
    got = knn_join_within_cells(emb, n_cells=4, k=2)
    cells = {
        r["vec_id"]: r["cell"]
        for r in got.select("vec_id", "cell").distinct().collect()
    }
    got_rows = sorted(
        (r["vec_id"], r["nbr_id"], r["rk"], r["cosine"]) for r in got.collect()
    )

    # exact join over each cell's members only, via the exact kernel
    want = []
    for cell in sorted(set(cells.values())):
        members = [v for v, c in cells.items() if c == cell]
        sub = emb.where(F.col("vec_id").isin(members))
        merged = _merge_topk(knn_join_partials(sub, k=2, n_blocks=2), 2)
        want += [
            (r["vec_id"], r["nbr_id"], r["rk"], r["cosine"])
            for r in merged.collect()
        ]
    assert got_rows == sorted(want)


def test_multiprobe_recall_monotonic(spark, sf_dir):
    """More probes can only add candidates, so recall@3 must be
    monotonically non-decreasing in n_probe, and the n_probe=1 result
    must equal the single-probe join's recall."""
    from duckdb_pipeline_spark.queries.similarity import (
        knn_recall_multiprobe_audit,
    )

    rows = {
        r["n_probe"]: r for r in knn_recall_multiprobe_audit(spark, sf_dir).collect()
    }
    assert rows[1]["recall"] <= rows[2]["recall"] <= rows[4]["recall"]
    assert rows[4]["recall"] > rows[1]["recall"]  # the knob actually moves
    # every variant retrieves a full top-3 per vector on this corpus
    assert rows[1]["n_retrieved"] == rows[1]["n_true"]


def test_multiprobe_p1_equals_single_probe_join(spark, sf_dir):
    """n_probe=1 must be bitwise-identical to knn_join_within_cells
    after the same global merge (the multiprobe kernel generalizes,
    never changes, the single-probe path)."""
    from duckdb_pipeline_spark.operators.similarity import (
        knn_join_multiprobe,
        knn_join_within_cells,
    )
    from duckdb_pipeline_spark.queries.common import load

    emb = load(spark, sf_dir, "embeddings")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    a = {
        tuple(r)
        for r in knn_join_multiprobe(emb, n_cells=8, k=3, n_probe=1)
        .withColumn("rk", F.row_number().over(w))
        .where("rk <= 3")
        .select("vec_id", "nbr_id", "rk", "cosine")
        .collect()
    }
    b = {
        tuple(r)
        for r in knn_join_within_cells(emb, n_cells=8, k=3)
        .select("vec_id", "nbr_id", "rk", "cosine")
        .collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# product quantization: the fused train kernel's partition/chunk
# invariance (exact integer partials must re-aggregate identically under
# any data split), numpy parity of one training step, and LUT-vs-direct
# equivalence of the ADC scorer
# ---------------------------------------------------------------------------


def _planted_pq(spark, n=60, d=8, parts=1):
    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.uniform(-1, 1, d).astype("float32")])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.repartition(parts) if parts > 1 else df.coalesce(1)


def _seed_cb(df, m_sub, k, ds):
    rows = df.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    S0 = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    return np.stack([S0[:, m * ds : (m + 1) * ds] for m in range(m_sub)])


def _agg(df):
    out = {}
    for r in (
        df.groupBy("m", "code", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    ):
        out[(int(r["m"]), int(r["code"]), int(r["i"]))] = (int(r["s"]), int(r["n"]))
    return out


def test_pq_train_partials_partition_invariant(spark):
    from duckdb_pipeline_spark.operators.similarity import pq_train_partials

    m_sub, k, ds = 2, 4, 4
    a = _planted_pq(spark, parts=1)
    b = _planted_pq(spark, parts=7)
    cb = _seed_cb(a, m_sub, k, ds)
    ra = _agg(pq_train_partials(a, cb, emit_inertia=True))
    rb = _agg(pq_train_partials(b, cb, emit_inertia=True, chunk=5))
    assert ra == rb


def test_pq_train_step_matches_numpy(spark):
    """One kernel pass must reproduce the exact numpy assignment and
    component sums with the same floor fixed-point and low-code ties."""
    from duckdb_pipeline_spark.operators.similarity import (
        SCALE,
        pq_train_partials,
    )

    m_sub, k, ds = 2, 4, 4
    df = _planted_pq(spark)
    V = np.stack(
        [
            np.asarray(r["embedding"], dtype="float64")
            for r in df.orderBy("vec_id").collect()
        ]
    )
    cb = _seed_cb(df, m_sub, k, ds)
    got = _agg(pq_train_partials(df, cb, emit_inertia=True))
    Vf = np.floor(V * float(SCALE)).astype("int64")
    for m in range(m_sub):
        Wm = V[:, m * ds : (m + 1) * ds]
        D = (
            np.floor((Wm[:, None, :] - cb[m][None, :, :]) ** 2 * float(SCALE))
            .astype("int64")
            .sum(axis=2)
        )
        a = D.argmin(axis=1)
        assert got[(m, -1, 0)][0] == int(D.min(axis=1).sum())
        for c in range(k):
            sel = a == c
            if sel.any():
                comp = Vf[sel][:, m * ds : (m + 1) * ds].sum(axis=0)
                for i in range(ds):
                    s, n = got[(m, c, i + 1)]
                    assert s == int(comp[i]) and n == int(sel.sum())


def test_pq_adc_lut_equals_direct_codeword_distance(spark):
    """For every vector, the LUT-summed ADC distance must equal the
    directly-computed distance between the query and the vector's
    assigned codewords."""
    from duckdb_pipeline_spark.operators.similarity import (
        SCALE,
        pq_adc_distances,
    )

    m_sub, k, ds = 2, 4, 4
    df = _planted_pq(spark)
    cb = _seed_cb(df, m_sub, k, ds)
    q = np.asarray(
        df.where(F.col("vec_id") == 0).first()["embedding"], dtype="float64"
    )
    got = {
        int(r["vec_id"]): int(r["adc_dist"])
        for r in pq_adc_distances(df, cb, q).collect()
    }
    V = np.stack(
        [
            np.asarray(r["embedding"], dtype="float64")
            for r in df.orderBy("vec_id").collect()
        ]
    )
    for vid in range(len(V)):
        dist = 0
        for m in range(m_sub):
            Wm = V[vid, m * ds : (m + 1) * ds]
            D = (
                np.floor((Wm[None, :] - cb[m]) ** 2 * float(SCALE))
                .astype("int64")
                .sum(axis=1)
            )
            code = int(D.argmin())
            qm = q[m * ds : (m + 1) * ds]
            dist += int(
                np.floor((qm - cb[m][code]) ** 2 * float(SCALE))
                .astype("int64")
                .sum()
            )
        assert got[vid] == dist


# ---------------------------------------------------------------------------
# ANN recall audit: internal consistency (the oracle gate runs in
# tests/oracle_check.py)
# ---------------------------------------------------------------------------


def test_full_probe_recovers_brute_force_exactly(spark, sf_dir):
    """With n_probe == n_cells the IVF candidate set IS the corpus, so
    recall must be exactly 100% for every query — the audit's
    self-consistency invariant (a miss here means the two sides rank
    differently, i.e. the audit itself is broken)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rep = ann_recall_audit(
        emb, query_ids=list(range(8, 13)), k=10, n_cells=8, n_probe=8
    ).collect()
    assert len(rep) == 5
    for r in rep:
        assert r["n_true"] == 10
        assert r["n_hit"] == 10
        assert r["recall_pct"] == 100.0


def test_report_bounds_and_sample(spark, sf_dir):
    rows = ann_recall_report(spark, sf_dir).collect()
    assert [r["query_id"] for r in rows] == list(range(8, 18))
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_true"] <= 10
        assert abs(r["recall_pct"] - 100.0 * r["n_hit"] / r["n_true"]) < 1e-6


def test_missing_query_vectors_drop_out(spark, sf_dir):
    """Query ids absent from the corpus contribute no rows (mirrors the
    oracle's join semantics)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.agg(F.max("vec_id")).first()[0]
    rep = ann_recall_audit(
        emb, query_ids=[8, n + 1000], k=5, n_cells=8, n_probe=2
    ).collect()
    assert [r["query_id"] for r in rep] == [8]
