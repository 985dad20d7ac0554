"""Similarity search over embedding columns: exact, LSH, IVF and PQ
top-k, the k-NN join family, and the k-means / PQ / PCA kernels.

Fixed-point contract. It is what keeps every vector query here
bitwise equal to its DuckDB oracle (double -> decimal casts are not
portable across engines at this scale; see queries/common.py):

- **Terms.** Each term is computed in float64 and floored at a fixed
  scale, with the same IEEE ops the SQL oracles evaluate:
  ``floor(a * b * SCALE)`` for an inner product (a*b first, then
  *SCALE, then floor), ``floor((a - b)**2 * SCALE)`` for a squared L2,
  ``floor(x * SCALE)`` for one coordinate.
- **Sums.** Sums of those integers are exact and association-free, so
  partitioning, chunking and row order never change a result. They
  are taken in one of two forms. As int64 (`_fp_sqdist`, `_fp_ints`,
  the Gram and Lloyd partials), exact up to 2^63. As float64
  (`_fp_dots_f64`, every inner product), which skips an int64 copy of
  the dominant temp and is exact while every partial sum stays below
  2^53: ``d * SCALE * max|a| * max|b| < 2^53``. `_fp_dots_f64` checks
  that envelope on every call and raises ``ValueError`` outside it.
- **Cosine.** ``dot / (sqrt(|a|^2) * sqrt(|b|^2))`` over those integer
  sums: one IEEE divide on identical operands in both engines.
- **Ties.** Cells rank by (inner product desc, cell id asc)
  (`_rank_cells`), neighbours by (cosine desc, neighbour id asc)
  (`_topk_rows` and the merge windows), nearest centroids and
  codewords by (squared L2 asc, lower id) — argmin's first minimum.

Plan shapes: the posexplode formulation shuffles (n_vectors x dim)
rows; the blocked and IVF variants prune to per-bucket brute force,
and the `zip_with` fold (`cosine_zip`) avoids the explode when the pair
list is already bounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # fixed-point scale for exact integer sums

# probe rows scored per pair-matrix chunk in `_topk_rows`: memory is
# O(chunk x build rows x dim), never the full pair matrix
_TOPK_CHUNK = 128


def _fp_ints(X):
    """floor(x * SCALE) per coordinate, as int64."""
    return np.floor(X * float(SCALE)).astype("int64")


def _fp_terms(A, B):
    """floor(a * b * SCALE) per broadcast element pair, in float64,
    through ONE in-place temp chain: the naive ``np.floor(A * B *
    SCALE)`` makes three temps, and at a 256 x 2500 x 64 chunk the
    kernel went allocator-bound (9.3 s -> 2.6 s per SemDeDup cell)."""
    t = np.multiply(A, B)
    np.multiply(t, SCALE, out=t)
    np.floor(t, out=t)
    return t


def _fp_dots_f64(A, B):
    """The fixed-point inner product: terms summed over the last axis
    in float64, guarded by the 2^53 envelope. Skipping the int64 copy
    of the dominant temp cut the sf10 SemDeDup cells by 30%."""
    amax = float(np.abs(A).max(initial=0.0))
    bmax = float(np.abs(B).max(initial=0.0))
    if np.shape(A)[-1] * SCALE * amax * bmax >= 2**53:
        raise ValueError(
            f"fixed-point float64-sum envelope exceeded: d={np.shape(A)[-1]} "
            f"SCALE={SCALE} max|a|={amax} max|b|={bmax}"
        )
    return _fp_terms(A, B).sum(axis=-1)


def _fp_sqdist(A, B):
    """The fixed-point squared L2 over the last axis, summed as int64."""
    return np.floor((A - B) ** 2 * float(SCALE)).astype("int64").sum(axis=-1)


def _vectors(pdf, vec_col):
    """The float64 (rows, d) matrix of a pandas column of arrays."""
    return np.stack(pdf[vec_col].to_numpy()).astype("float64")


def _vector_batches(batches, vec_col):
    """(pdf, V) per Arrow batch: NULL vectors dropped, empty batches
    skipped, V the batch's float64 vector matrix."""
    for pdf in batches:
        pdf = pdf.dropna(subset=[vec_col])
        if len(pdf):
            yield pdf, _vectors(pdf, vec_col)


def _rank_cells(V, C, n):
    """Each row's top ``n`` cells (row positions of the centroid matrix
    C) by fixed-point inner product, ties to the lowest cell id:
    an int array of shape (rows, n)."""
    scores = _fp_dots_f64(V[:, None, :], C[None, :, :])
    return np.argsort(-scores, axis=1, kind="stable")[:, :n]


def _query_cosines(V, q):
    """Fixed-point cosine of every row of V against one vector q."""
    return _fp_dots_f64(V, q[None, :]) / (
        np.sqrt(_fp_dots_f64(V, V)) * np.sqrt(_fp_dots_f64(q, q))
    )


def _topk_rows(pids, P, bids, B, keep):
    """The local top-k kernel of the k-NN family: each probe row's
    ``keep`` best build rows by (cosine desc, nbr id asc), as
    (vec_id, nbr_id, cosine) rows, rank-ordered within each probe.
    Dropping self pairs and the final cut are the caller's."""
    o = np.argsort(bids, kind="stable")  # ties in cosine -> lower nbr id
    bids, B = bids[o], B[o]
    keep = min(keep, len(bids))
    rp = np.sqrt(_fp_dots_f64(P, P))
    rb = np.sqrt(_fp_dots_f64(B, B))
    frames = []
    for lo in range(0, len(pids), _TOPK_CHUNK):
        hi = min(lo + _TOPK_CHUNK, len(pids))
        cos = _fp_dots_f64(P[lo:hi, None, :], B[None, :, :]) / (
            rp[lo:hi, None] * rb[None, :]
        )
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :keep]
        frames.append(
            pd.DataFrame(
                {
                    "vec_id": np.repeat(pids[lo:hi], keep),
                    "nbr_id": bids[idx].reshape(-1),
                    "cosine": np.take_along_axis(cos, idx, axis=1).reshape(-1),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _ivf_centroids_and_queries(
    embeddings: DataFrame, query_ids, n_cells: int, id_col: str, vec_col: str
):
    """The IVF centroid matrix and ``{id: vector}`` for the
    ``query_ids`` present, in ONE bounded driver job (n_cells + queries
    rows). The centroids are the vectors of ids 0..n_cells-1 (the
    deterministic stand-in for k-means centroids); a row's position in
    C is the cell id the SQL oracles compute with, so a sparse id space
    raises instead of silently renumbering the cells."""
    cond = F.col(id_col) < n_cells
    if query_ids:
        cond = cond | F.col(id_col).isin([int(q) for q in query_ids])
    rows = embeddings.where(cond).select(id_col, vec_col).collect()
    by_id = {r[0]: np.asarray(r[1], dtype="float64") for r in rows}
    cell_ids = sorted(i for i in by_id if i < n_cells)
    if cell_ids != list(range(n_cells)):
        raise ValueError(
            f"IVF centroid ids must be dense 0..{n_cells - 1}; got {cell_ids}"
        )
    C = np.stack([by_id[i] for i in cell_ids])
    return C, {q: by_id[q] for q in query_ids if q in by_id}


def _lowest_id_vectors(df: DataFrame, n: int, id_col: str, vec_col: str):
    """The vectors of the ``n`` lowest ids of ``df``, in id order: the
    centroids of an index over a slice whose ids are not dense from 0."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(n).collect()
    return np.stack([np.asarray(r[vec_col], dtype="float64") for r in rows])


def _assign_cells(embeddings: DataFrame, C, id_col: str, vec_col: str) -> DataFrame:
    """(id, vector, cell) with each non-NULL vector's top cell of C: a
    pure Arrow-batch map."""

    def assign(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            yield pdf.assign(cell=_rank_cells(V, C, 1)[:, 0].astype("int32"))

    emb = embeddings.select(id_col, vec_col)
    return emb.mapInPandas(assign, f"{emb.schema.simpleString()[7:-1]}, cell int")


def int_dot(a, b):
    """Exact fixed-point dot product of two array<float> columns: each
    term is floor(x*y*SCALE) as bigint, folded in-row with an integer
    accumulator. Integer addition is associative, so this equals the
    oracle's unnest-and-SUM formulation bit-for-bit — while staying
    inside whole-stage codegen (no explode, no extra shuffle)."""
    terms = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(SCALE)).cast("long")
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _cosine_from_ints(dot_i, na_i, nb_i):
    return dot_i.cast("double") / (
        F.sqrt(na_i.cast("double")) * F.sqrt(nb_i.cast("double"))
    )


def _empty_topk(embeddings: DataFrame, id_col: str) -> DataFrame:
    """Empty (id, cosine) result for an absent query id — matches the
    relational formulations, which naturally yield zero rows there."""
    return embeddings.sparkSession.createDataFrame([], f"{id_col} long, cosine double")


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector.

    Broadcast the single query row, fold the dot products in-row
    (int_dot), global top-k. One broadcast join, zero wide shuffles —
    scan-bound at any corpus size."""
    q = embeddings.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    e = embeddings.select(id_col, vec_col)
    cos = e.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        _cosine_from_ints(
            int_dot(F.col(vec_col), F.col("qv")),
            int_dot(F.col(vec_col), F.col(vec_col)),
            int_dot(F.col("qv"), F.col("qv")),
        ).alias("cosine"),
    )
    return (
        cos.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs within blocking-key groups
    (IVF-style pruning: only same-bucket pairs are compared).

    The equi-join on the block key co-partitions the pair space; each
    pair's cosine folds in-row (int_dot) — the widest dataflow is the
    pair list itself, never pairs × dims. Norms are computed once per
    VECTOR (n rows) before the pair join, not once per pair (n² rows) —
    at 2k vectors / 200k pairs that's 3× less fold work."""
    with_norm = embeddings.select(
        F.col(id_col), F.col(block_col).alias("blk"), F.col(vec_col).alias("e")
    ).withColumn("nrm", int_dot(F.col("e"), F.col("e")))
    a = with_norm.select(
        F.col(id_col).alias("vec_a"), "blk", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = with_norm.select(
        F.col(id_col).alias("vec_b"), "blk", F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, "blk").where(F.col("vec_a") < F.col("vec_b"))
    return pairs.select(
        "vec_a",
        "vec_b",
        _cosine_from_ints(
            int_dot(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")
        ).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def cosine_pairs_blocked_vectorized(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 256,
) -> DataFrame:
    """Same semantics (and bitwise-identical output) as
    `cosine_pairs_blocked`, computed per-block in vectorized numpy via
    `applyInPandas`.

    Why this is the scale path: the join formulation materializes the
    full pair list (n² per block rows) through Arrow/shuffle before the
    distance filter. Here only the n block rows move; pairwise
    fixed-point terms are computed in C (numpy broadcast) and only the
    surviving pairs leave the task. Measured ~3x faster than the
    whole-stage-codegen join at 2k x 64 dims; at bigger blocks the gap
    widens with n².

    Memory is bounded O(chunk x n x dim) per task by chunking the
    row axis of the pair matrix — block size does not need to fit as
    n² x dim temporaries.
    """

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL embeddings drop out (the join formulation's NULL cosine
        # fails the >= threshold filter the same way)
        pdf = pdf.dropna(subset=[vec_col]).sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame()
        V = _vectors(pdf, vec_col)
        rs = np.sqrt(_fp_dots_f64(V, V))
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            # columns restricted to >= lo: every kept pair has
            # vec_a < vec_b, so the sub-lo columns of this row chunk
            # were pure waste — halves the dominant floor/multiply
            # term on average; the computed terms for kept pairs are
            # the SAME IEEE ops, so output stays bitwise-identical
            dots = _fp_dots_f64(V[lo:hi, None, :], V[None, lo:, :])
            cos = dots / (rs[lo:hi, None] * rs[None, lo:])
            ia, ib = np.nonzero(cos >= threshold)
            keep = ia < ib  # upper triangle: (ia + lo) < (ib + lo)
            out_a.append(ids[ia[keep] + lo])
            out_b.append(ids[ib[keep] + lo])
            out_c.append(cos[ia[keep], ib[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        embeddings.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, "vec_a long, vec_b long, cosine double")
    )


def cosine_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitwise-identical to `cosine_topk`, with the per-row fold done
    in vectorized numpy (mapInPandas): Spark's higher-order-function
    lambdas (`zip_with`/`aggregate`) evaluate interpreted per element —
    3 folds x dim ops per row dominate at scale. Here each Arrow batch
    does two matrix ops in C. The query vector is fetched once (one
    1-row job) and closure-captured — it never rides along per row."""
    qrow = embeddings.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        return _empty_topk(embeddings, id_col)
    qv = np.asarray(qrow[0], dtype="float64")

    def score(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            yield pd.DataFrame({id_col: pdf[id_col], "cosine": _query_cosines(V, qv)})

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cosine double"
    )
    return (
        scored.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_hyperplanes(n_bits: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane weights, derived from md5 so
    any engine (or an oracle SQL string generated from these constants)
    agrees bit-for-bit: w[j][i] = +1 iff the low bit of the first hex
    nibble of md5("j:i") is set."""
    import hashlib

    return [
        [
            1 if (int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) & 1) else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def lsh_bucket_codes(
    embeddings: DataFrame,
    planes: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket code per vector: bit j = sign of
    the fixed-point projection onto plane j. Projections are integer
    sums of floor(x*SCALE)*w — exact and association-free, so bucket
    assignment is deterministic across engines and partitionings.

    Scale: this is a pure map (no shuffle). At 100 TB the embedding
    table is written bucketed/partitioned by this code once, and every
    ANN query prunes to one (or a few) buckets — the IVF/LSH index as
    a layout, not a data structure."""
    code = None
    for j, w in enumerate(planes):
        warr = F.array(*[F.lit(x) for x in w])
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                warr,
                lambda x, wv: F.floor(x.cast("double") * F.lit(SCALE)).cast("long") * wv,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return embeddings.select(F.col(id_col), F.col(vec_col), code.alias(out))


def lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via LSH bucket pruning:
    candidates = vectors sharing the query's bucket code (multiprobe
    additionally probes all codes at Hamming distance 1 — ~n_bits×
    the candidates, much higher recall), then exact fixed-point cosine
    top-k among candidates only.

    vs `cosine_topk` (brute force): the candidate set shrinks by
    ~2^n_bits; with a bucket-partitioned layout the scan itself prunes
    to the probed partitions."""
    planes = lsh_hyperplanes(n_bits, dim)
    coded = lsh_bucket_codes(embeddings, planes, id_col, vec_col)
    q = coded.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv"), F.col("bucket").alias("qb")
    )
    cand = coded.crossJoin(F.broadcast(q))
    if multiprobe:
        probe_ok = F.col("bucket") == F.col("qb")
        for j in range(n_bits):
            probe_ok = probe_ok | (
                F.col("bucket") == F.col("qb").bitwiseXOR(F.lit(1 << j))
            )
        cand = cand.where(probe_ok)
    else:
        cand = cand.where(F.col("bucket") == F.col("qb"))
    cos = cand.select(
        F.col(id_col),
        _cosine_from_ints(
            int_dot(F.col(vec_col), F.col("qv")),
            int_dot(F.col(vec_col), F.col(vec_col)),
            int_dot(F.col("qv"), F.col("qv")),
        ).alias("cosine"),
    )
    return (
        cos.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitwise-identical to `lsh_topk`, in ONE vectorized map pass:
    bucket codes AND candidate cosines are computed per Arrow batch in
    numpy (int64 matmul for the fixed-point projections — the
    `zip_with`/`aggregate` HOF formulation evaluates interpreted per
    element, n_bits × dim ops per row). The query's vector and bucket
    are derived once driver-side (one 1-row job) and closure-captured.

    Scale shape: a pure map over the embedding table + global top-k —
    no shuffle besides the final k-row TakeOrdered. With a
    bucket-partitioned layout the scan itself would prune instead of
    the in-map filter."""
    W = np.asarray(lsh_hyperplanes(n_bits, dim), dtype="int64")  # (bits, dim)
    bitpow = np.int64(1) << np.arange(n_bits, dtype=np.int64)

    def codes(V):
        return (((_fp_ints(V) @ W.T) >= 0).astype(np.int64) * bitpow).sum(axis=1)

    qrow = embeddings.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        return _empty_topk(embeddings, id_col)
    qv = np.asarray(qrow[0], dtype="float64")
    qb = int(codes(qv[None, :])[0])

    def score(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            c = codes(V)
            if multiprobe:
                hamming = (((c ^ qb)[:, None] >> np.arange(n_bits)) & 1).sum(axis=1)
                ok = hamming <= 1
            else:
                ok = c == qb
            ok &= pdf[id_col].to_numpy() != query_id
            if ok.any():
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy()[ok], "cosine": _query_cosines(V[ok], qv)}
                )

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cosine double"
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def cosine_zip(df: DataFrame, vec_a: str, vec_b: str, out: str = "cosine") -> DataFrame:
    """Codegen-friendly cosine between two array columns on one row
    (`zip_with` + `aggregate` fold — no explode, no shuffle). The fast
    path for bounded candidate lists; not oracle-exact (sequential
    float fold), hence used in benchmarks and pipelines, not in the
    hash-checked queries."""
    dot = F.aggregate(
        F.zip_with(F.col(vec_a), F.col(vec_b), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(F.col(vec_a), lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(F.col(vec_b), lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return df.withColumn(out, dot / (F.sqrt(na) * F.sqrt(nb)))


def ivf_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the third ANN strategy
    next to brute-force (`cosine_topk*`) and LSH (`lsh_topk*`):

    1. coarse quantizer: ``n_cells`` centroids, the embeddings of ids
       0..n_cells-1 (at real scale they come from a k-means sample;
       everything downstream is identical);
    2. cell assignment: each vector's top cell by inner product (the
       Faiss IVFFlat/METRIC_INNER_PRODUCT variant);
    3. probe: the query's top ``n_probe`` cells;
    4. exact fixed-point cosine re-rank inside the probed cells only.

    Scale shape: assignment is a pure map (numpy matmul per Arrow
    batch); at corpus scale the cell id becomes the table's partition
    key, so probing prunes the SCAN instead of filtering in-map
    (`ivf_write_index` + `ivf_topk_pruned`). Centroids and the query
    vector are fetched in one bounded driver job and closure-captured."""
    C, Q = _ivf_centroids_and_queries(embeddings, [query_id], n_cells, id_col, vec_col)
    if query_id not in Q:
        return _empty_topk(embeddings, id_col)
    qv = Q[query_id]
    probe = _rank_cells(qv[None, :], C, n_probe)[0]

    def score(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            cells = _rank_cells(V, C, 1)[:, 0]
            ok = np.isin(cells, probe) & (pdf[id_col].to_numpy() != query_id)
            if ok.any():
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[ok],
                        "cell": cells[ok].astype("int32"),
                        "cosine": _query_cosines(V[ok], qv),
                    }
                )

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cell int, cosine double"
    )
    return (
        scored.select(id_col, "cell", "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF with a REALIZED partitioned layout: the index is the embedding
# table written parquet-partitioned by cell id; probing reads it with
# `cell IN (probed)`, which Spark turns into partition pruning: only the
# probed cell directories are listed and scanned (PartitionFilters in
# the plan, asserted by tests/test_plans.py). At 100 TB with
# n_cells=4096 / n_probe=64 this reads 64/4096 of the table.
# ---------------------------------------------------------------------------


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> None:
    """Build the IVF index: assign every vector its cell (as
    `ivf_topk_vectorized` does) and write the table parquet-partitioned
    by cell id. One pass over the data; run once per corpus version —
    the ANN query path (`ivf_topk_pruned`) then partition-prunes.

    ``centroids``: explicit (n_cells, dim) float64 matrix for corpora
    whose ids are not dense from 0 (e.g. a SUBSET slice being indexed
    for incremental probing — `knn_probe_index` re-reads the same
    matrix as the index's lowest-id rows, so pass those)."""
    if centroids is not None:
        C = np.asarray(centroids, dtype="float64")
    else:
        C, _ = _ivf_centroids_and_queries(embeddings, (), n_cells, id_col, vec_col)
    _assign_cells(embeddings, C, id_col, vec_col).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over the partitioned index: probe cell selection on
    the driver (centroid matrix is n_cells rows), then a scan of ONLY
    the probed partitions (`cell IN (...)` -> PartitionFilters) with the
    exact fixed-point cosine re-rank inside. Result is identical to
    `ivf_topk_vectorized` — same centroids, same assignment, same
    re-rank — the physical plan just reads n_probe/n_cells of the data.
    """
    C, Q = _ivf_centroids_and_queries(embeddings, [query_id], n_cells, id_col, vec_col)
    if query_id not in Q:
        return _empty_topk(embeddings, id_col)
    qv = Q[query_id]
    probe = [int(c) for c in _rank_cells(qv[None, :], C, n_probe)[0]]

    def rerank(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            ok = pdf[id_col].to_numpy() != query_id
            if ok.any():
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[ok],
                        "cell": pdf["cell"].to_numpy()[ok].astype("int32"),
                        "cosine": _query_cosines(V[ok], qv),
                    }
                )

    probed = spark.read.parquet(index_path).where(F.col("cell").isin(probe))
    scored = probed.select(id_col, vec_col, "cell").mapInPandas(
        rerank, f"{id_col} long, cell int, cosine double"
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def ann_recall_audit(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN acceptance audit: recall@k of the IVF probe against the
    brute-force ground truth for a bounded, deterministic query sample
    — the vector-side mirror of the planted-twin LSH audit
    (queries/dedup.dedup_recall_report). One row per query:
    (query_id, n_true, n_hit, recall_pct).

    Scale shape — ONE corpus pass for BOTH sides: the centroid matrix
    and the sampled query vectors are fetched in one bounded driver job
    (audit sample + n_cells rows) and closure-captured; a single
    mapInPandas pass then scores every Arrow batch against all queries
    at once (one C matmul per batch), assigns each row its IVF cell,
    and emits only PER-BATCH PARTIAL top-k rows per (query, side) —
    'bf' (all rows) and 'ivf' (rows whose cell is in that query's probe
    set). The global exact top-k per (query, side) is then a window
    over <= |queries| * 2 * k * n_partitions rows — the classic
    distributed top-k: corpus never shuffles, partials do. Everything
    downstream of the window is counting on <= |queries| * 2 * k rows.
    Recall is n_hit / n_true where n_true = |bf top-k| (== k except in
    degenerate tiny corpora)."""
    C, Q = _ivf_centroids_and_queries(
        embeddings, sorted(set(query_ids)), n_cells, id_col, vec_col
    )
    if not Q:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, n_true long, n_hit long, recall_pct double"
        )
    qids = np.asarray(sorted(Q), dtype="int64")
    Qm = np.stack([Q[q] for q in qids.tolist()])  # (Q, dim)
    nq = _fp_dots_f64(Qm, Qm)  # (Q,)
    probes = _rank_cells(Qm, C, n_probe)  # (Q, n_probe)

    def partials(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            ids = pdf[id_col].to_numpy().astype("int64")
            cells = _rank_cells(V, C, 1)[:, 0]
            cos = _fp_dots_f64(V[:, None, :], Qm[None, :, :]) / (
                np.sqrt(_fp_dots_f64(V, V))[:, None] * np.sqrt(nq)[None, :]
            )  # (rows, Q)
            out_q, out_i, out_s, out_c = [], [], [], []
            for j, q in enumerate(qids):
                keep = ids != q
                for side, mask in (
                    ("bf", keep),
                    ("ivf", keep & np.isin(cells, probes[j])),
                ):
                    if not mask.any():
                        continue
                    mi = np.nonzero(mask)[0]
                    # partial top-k by (cosine DESC, id ASC): a stable
                    # lexsort on identical doubles reproduces the
                    # global order's per-batch prefix exactly
                    order = np.lexsort((ids[mi], -cos[mi, j]))[:k]
                    sel = mi[order]
                    out_q.extend([q] * len(sel))
                    out_i.extend(ids[sel].tolist())
                    out_s.extend([side] * len(sel))
                    out_c.extend(cos[sel, j].tolist())
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    id_col: pd.Series(out_i, dtype="int64"),
                    "side": pd.Series(out_s, dtype="object"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    part = embeddings.select(id_col, vec_col).mapInPandas(
        partials, f"query_id long, {id_col} long, side string, cosine double"
    )
    w = Window.partitionBy("query_id", "side").orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    topk = part.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    flags = topk.groupBy("query_id", id_col).agg(
        F.max((F.col("side") == "bf").cast("int")).alias("in_bf"),
        F.max((F.col("side") == "ivf").cast("int")).alias("in_ivf"),
    )
    return (
        flags.groupBy("query_id")
        .agg(
            F.sum("in_bf").cast("long").alias("n_true"),
            F.sum(F.col("in_bf") * F.col("in_ivf")).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            F.round(100.0 * F.col("n_hit") / F.col("n_true"), 6).alias("recall_pct"),
        )
        .orderBy("query_id")
    )


def gram_matrix_partials(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-partition partial second-moment (Gram) matrix of an
    embedding column: each task folds its rows into ONE d x d int64
    accumulator (the map-side combine of distributed PCA/whitening —
    X^T X partials are what a 1000-executor covariance computation
    ships to the reducer, d^2 numbers per task no matter how many
    vectors the task scanned). Emits the upper triangle as
    (i, j, s, n) rows, 1-based indices, i <= j; terms floor(x_i * x_j *
    SCALE) summed as int64, so partials re-aggregate exactly whatever
    the row order or partitioning.

    Memory is bounded O(512 * d^2) per task by chunking the row axis of
    the outer-product tensor; NULL embeddings drop out (matching the SQL
    formulation's WHERE e IS NOT NULL)."""

    def fold(batches):
        acc = None
        n = 0
        for _, V in _vector_batches(batches, vec_col):
            if acc is None:
                acc = np.zeros((V.shape[1], V.shape[1]), dtype="int64")
            n += len(V)
            for lo in range(0, len(V), 512):
                W = V[lo : lo + 512]
                acc += _fp_terms(W[:, :, None], W[:, None, :]).astype("int64").sum(axis=0)
        if acc is None:
            return
        iu, ju = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "s": acc[iu, ju],
                "n": np.full(len(iu), n, dtype="int64"),
            }
        )

    return embeddings.select(vec_col).mapInPandas(
        fold, "i int, j int, s long, n long"
    )


def _nearest_fold(W, C, sums, counts) -> int:
    """Assign each row of W to its nearest row of C (fixed-point squared
    L2, ties to the lower row) and fold the rows' fixed-point
    coordinates into ``sums``/``counts`` in place. Returns the exact sum
    of the assigned distances."""
    D = _fp_sqdist(W[:, None, :], C[None, :, :])
    a = D.argmin(axis=1)
    np.add.at(sums, a, _fp_ints(W))
    counts += np.bincount(a, minlength=len(C))
    return int(D.min(axis=1).sum())


def _member_frame(label_col, labels, sums, counts) -> pd.DataFrame:
    """(label, i, s, n) rows for every label with members: i is the
    1-based component index, s the fixed-point component sum."""
    hit = counts > 0
    d = sums.shape[1]
    return pd.DataFrame(
        {
            label_col: np.repeat(labels[hit], d),
            "i": np.tile(np.arange(1, d + 1, dtype="int32"), int(hit.sum())),
            "s": sums[hit].reshape(-1),
            "n": np.repeat(counts[hit], d),
        }
    )


def lloyd_step_partials(
    embeddings: DataFrame,
    centroids,
    cell_ids,
    vec_col: str = "embedding",
    emit_inertia: bool = False,
) -> DataFrame:
    """Fused assign-and-partially-update kernel for one Lloyd k-means
    iteration: each task assigns its rows to the nearest of K
    broadcast centroids (fixed-point squared L2, ties to the LOWER cell
    id) and folds member components into per-cell fixed-point sums,
    emitting K * d partial rows per task. This is the real distributed
    Lloyd shape: the only shuffle moves K * d numbers per task, and the
    reducer adds exact ints. The relational crossJoin + struct-min
    formulation gives the same distances but evaluates its
    zip_with/aggregate lambdas interpreted per element (measured 2.3 ->
    0.66 s at sf1).

    `centroids` is a K x d float64 array and `cell_ids` the matching
    cell labels — K rows collected at plan build. NULL embeddings drop
    out.

    ``emit_inertia=True`` additionally emits ONE (cell=-1, i=0) row
    per task carrying the task's exact int64 sum of assigned (minimum)
    distances — the per-task inertia partial the k-means trainer's
    stopping rule aggregates, riding the same K*d-row shuffle."""
    C = np.asarray(centroids, dtype="float64")
    ids = np.asarray(cell_ids, dtype="int64")
    order = np.argsort(ids)
    C, ids = C[order], ids[order]  # argmin's first minimum = lowest id

    def fold(batches):
        sums = np.zeros(C.shape, dtype="int64")
        counts = np.zeros(len(C), dtype="int64")
        inertia = 0
        for _, V in _vector_batches(batches, vec_col):
            for lo in range(0, len(V), 1024):  # bound the rows x K x d temp
                inertia += _nearest_fold(V[lo : lo + 1024], C, sums, counts)
        out = _member_frame("cell", ids, sums, counts)
        if emit_inertia and counts.sum() > 0:
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "cell": pd.Series([-1], dtype="int64"),
                            "i": pd.Series([0], dtype="int32"),
                            "s": pd.Series([inertia], dtype="int64"),
                            "n": pd.Series([int(counts.sum())], dtype="int64"),
                        }
                    ),
                ],
                ignore_index=True,
            )
        yield out

    return embeddings.select(vec_col).mapInPandas(
        fold, "cell long, i int, s long, n long"
    )


def knn_join_partials(
    embeddings: DataFrame,
    k: int = 3,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed EXACT k-NN JOIN partials: every vector meets every
    other through a block-nested-loop, with per-block top-k pruning so
    only O(n * n_blocks * k) candidate rows ever leave the tasks.

    Shape (the reason this survives 100 TB where a crossJoin cannot):
    both sides are split into ``n_blocks`` hash blocks on the id; the
    probe side is replicated across the build side's block axis (and
    vice versa), so ONE shuffle of 2 * n * n_blocks vector rows lands
    every (a-block, b-block) cell in its own task. Each task scores
    n/B x n/B pairs in the chunked `_topk_rows` kernel and emits only
    its local top-(k+1) per probe row. The global top-k per vector is
    contained in the union of per-block top-ks, so the downstream
    merge (one per-id window over n * B * (k+1) skinny rows) is exact
    — no corpus-scale pair list, no driver collect, no broadcast of
    the corpus. Growing the corpus grows B; per-task work stays
    n/B x n/B.

    Per-block candidates are top-(k+1) INCLUDING a possible self-pair,
    which is then dropped: taking one extra guarantees >= k non-self
    survivors per block without masking any cosine value.

    Returns partial rows (vec_id, nbr_id, cosine); callers apply the
    exact merge (see queries.similarity.knn_join_topk)."""
    B = int(n_blocks)
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).where(F.col(vec_col).isNotNull())
    rep = F.explode(F.expr(f"sequence(0, {B - 1})"))
    a = (
        emb.select(
            F.pmod(F.col("id"), F.lit(B)).alias("ablk"), "id", "vec"
        )
        .withColumn("bblk", rep)
        .withColumn("side", F.lit(0))
    )
    b = (
        emb.select(
            F.pmod(F.col("id"), F.lit(B)).alias("bblk"), "id", "vec"
        )
        .withColumn("ablk", rep)
        .withColumn("side", F.lit(1))
    )
    both = a.select("ablk", "bblk", "side", "id", "vec").unionByName(
        b.select("ablk", "bblk", "side", "id", "vec")
    )

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        A = pdf[pdf["side"] == 0]
        Bp = pdf[pdf["side"] == 1]
        if A.empty or Bp.empty:
            return pd.DataFrame()
        out = _topk_rows(
            A["id"].to_numpy(), _vectors(A, "vec"),
            Bp["id"].to_numpy(), _vectors(Bp, "vec"), k + 1,
        )
        return out[out["vec_id"] != out["nbr_id"]]

    return both.groupBy("ablk", "bblk").applyInPandas(
        block_topk, "vec_id long, nbr_id long, cosine double"
    )


def knn_join_within_cells(
    embeddings: DataFrame,
    n_cells: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN, IVF production path: assign every vector
    to its IVF cell (the `ivf_write_index` assignment), then compute
    the EXACT top-k within each cell in one applyInPandas pass per
    cell — no cross-cell pairs, no merge step (each vector lives in
    exactly one group, so in-kernel ranks are final).

    This is the scale form of `knn_join_partials`: the candidate set
    shrinks from every block pair (exact, O(n²/B) per task) to one
    semantic cell (approximate, O((n/C)²) per task with C growing with
    the corpus). Recall against the exact join is auditable with
    `ann_recall_audit`-style queries; within-cell results are
    bitwise-equal to the exact join restricted to the cell.

    ``assigned``: a pre-assigned (id, vec, cell) relation — the at-rest
    IVF index, which `ivf_write_index` partitions by the identical
    assignment. Passing it removes the assignment mapInPandas, leaving
    ONE Python boundary (the per-cell kernel) and no centroid collect
    at plan build — the serving posture every IVF deployment uses (the
    index is built once per corpus version at ingest). Default None
    keeps the self-contained two-pass shape. When ``assigned`` is
    given, ``n_cells`` is unused: the cells are whatever the caller
    assigned, and nothing checks that their count equals ``n_cells``."""
    if assigned is None:
        C, _ = _ivf_centroids_and_queries(embeddings, (), n_cells, id_col, vec_col)
        assigned = _assign_cells(embeddings, C, id_col, vec_col)
    else:
        # the index build dropped null vectors before assigning; the
        # cast pins the partition-discovered cell column to int32 (the
        # kernel's declared schema)
        assigned = assigned.select(
            id_col, vec_col, F.col("cell").cast("int").alias("cell")
        ).where(F.col(vec_col).isNotNull())

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame()
        ids = pdf[id_col].to_numpy()
        V = _vectors(pdf, vec_col)
        out = _topk_rows(ids, V, ids, V, k + 1)
        out = out[out["vec_id"] != out["nbr_id"]]
        # candidates arrive rank-ordered per row; number the survivors
        # and keep the first k
        out = out.assign(rk=out.groupby("vec_id").cumcount().astype("int32") + 1)
        out = out[out["rk"] <= k].assign(cell=np.int32(pdf["cell"].iloc[0]))
        return out[["vec_id", "nbr_id", "rk", "cosine", "cell"]]

    return assigned.groupBy("cell").applyInPandas(
        cell_topk, "vec_id long, nbr_id long, rk int, cosine double, cell int"
    )


def knn_probe_index(
    spark,
    index_path: str,
    batch: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN SERVING against a persisted cell-partitioned IVF
    index (`ivf_write_index` layout) — the operational shape
    `dedup_incremental_probe` established for near-dup: the ingested
    corpus is indexed ONCE; each new batch is assigned its n_probe
    nearest cells map-side (centroids re-read from the index's own
    lowest-id rows — the same matrix the index was built with), and
    ONLY the probed partitions are scanned (`cell IN (...)` with the
    probe list collected from the batch — bounded by n_cells rows,
    never corpus-sized). Candidates meet the batch in one per-cell
    Arrow kernel; ONE per-id window merges the ≤ n_probe partial
    top-ks. The index text/vectors outside probed cells are never
    read."""
    idx = spark.read.parquet(index_path)
    C = _lowest_id_vectors(idx, n_cells, id_col, vec_col)

    def assign(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            cells = _rank_cells(V, C, n_probe)
            out = pdf.loc[pdf.index.repeat(cells.shape[1])].copy()
            out["cell"] = cells.reshape(-1).astype("int32")
            yield out

    bat = (
        batch.select(id_col, vec_col)
        .mapInPandas(assign, f"{id_col} long, {vec_col} array<float>, cell int")
        .persist()
    )
    probe_cells = [int(r["cell"]) for r in bat.select("cell").distinct().collect()]

    a = bat.select(
        "cell",
        F.lit(0).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    b = idx.where(F.col("cell").isin(probe_cells)).select(
        "cell",
        F.lit(1).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    both = a.unionByName(b)

    def cell_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        A = pdf[pdf["side"] == 0]
        Bp = pdf[pdf["side"] == 1]
        if A.empty or Bp.empty:
            return pd.DataFrame()
        return _topk_rows(
            A["id"].to_numpy(), _vectors(A, "vec"),
            Bp["id"].to_numpy(), _vectors(Bp, "vec"), k,
        )

    part = both.groupBy("cell").applyInPandas(
        cell_probe, "vec_id long, nbr_id long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("vec_id", "nbr_id", F.col("rk").cast("int").alias("rk"), "cosine")
    )


def pq_train_partials(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    chunk: int = 1024,
    emit_inertia: bool = False,
) -> DataFrame:
    """Fused assign-and-partially-update kernel for one PQ (product
    quantization) training iteration — `lloyd_step_partials` run over
    ALL M subspaces in ONE corpus pass: each task splits its rows into
    M contiguous subvectors, assigns each subvector to the nearest of
    K broadcast codewords of its subspace (ties to the LOWER code), and
    folds member components into per-(subspace, code) fixed-point sums.
    The only shuffle moves M * K * (d/M) = K * d numbers per task —
    training M codebooks costs the same shuffle volume as training one
    k-means.

    `codebooks` is an (M, K, d/M) float64 array, codes 0..K-1 per
    subspace. Output rows (m, code, i, s, n): i is the 1-based
    component index WITHIN the subspace. ``emit_inertia=True`` adds
    one (m, code=-1, i=0) row per task and subspace carrying the
    task's exact int64 sum of assigned distances (the per-subspace
    quantization-error partial the trainer's audit aggregates).
    NULL embeddings drop out."""
    CB = np.asarray(codebooks, dtype="float64")
    m_sub, k, ds = CB.shape

    def fold(batches):
        sums = np.zeros((m_sub, k, ds), dtype="int64")
        counts = np.zeros((m_sub, k), dtype="int64")
        inertia = np.zeros(m_sub, dtype="int64")
        for _, V in _vector_batches(batches, vec_col):
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                for m in range(m_sub):
                    inertia[m] += _nearest_fold(
                        W[:, m * ds : (m + 1) * ds], CB[m], sums[m], counts[m]
                    )
        frames = []
        for m in range(m_sub):
            f = _member_frame("code", np.arange(k, dtype="int64"), sums[m], counts[m])
            frames.append(f.assign(m=np.int32(m)))
            if emit_inertia and counts[m].sum() > 0:
                frames.append(
                    pd.DataFrame(
                        {
                            "m": pd.Series([m], dtype="int32"),
                            "code": pd.Series([-1], dtype="int64"),
                            "i": pd.Series([0], dtype="int32"),
                            "s": pd.Series([int(inertia[m])], dtype="int64"),
                            "n": pd.Series([int(counts[m].sum())], dtype="int64"),
                        }
                    )
                )
        out = pd.concat(frames, ignore_index=True)
        if len(out):
            yield out[["m", "code", "i", "s", "n"]]

    return embeddings.select(vec_col).mapInPandas(
        fold, "m int, code long, i int, s long, n long"
    )


def _pq_encode(W, CB):
    """(rows, M) PQ codes of the rows of W: per subspace, the nearest
    codeword of CB (M, K, d/M) by fixed-point squared L2, ties to the
    lower code."""
    m_sub, _, ds = CB.shape
    return np.stack(
        [
            _fp_sqdist(W[:, None, m * ds : (m + 1) * ds], CB[m][None, :, :]).argmin(axis=1)
            for m in range(m_sub)
        ],
        axis=1,
    )


def _pq_lut(q, CB):
    """(M, K) int64 ADC lookup table: the fixed-point squared L2 from
    each query subvector to every codeword of its subspace."""
    m_sub, _, ds = CB.shape
    return np.stack(
        [_fp_sqdist(q[None, m * ds : (m + 1) * ds], CB[m]) for m in range(m_sub)]
    )


def pq_adc_distances(
    embeddings: DataFrame,
    codebooks,
    query,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode + asymmetric-distance scoring fused in one map-only
    pass (the FAISS ADC serving shape with a TRAINED codebook): each
    row's M subvectors are assigned to their nearest codewords and the
    distance to the broadcast query is the integer sum of M lookup-table
    entries LUT[m][code] — computed once driver-side from K*d bounded
    numbers, never per row. Emits (id, adc_dist); no shuffle,
    TakeOrdered finishes the top-k at any scale."""
    CB = np.asarray(codebooks, dtype="float64")
    lut = _pq_lut(np.asarray(query, dtype="float64"), CB)
    subspaces = np.arange(len(CB))

    def score(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            ids = pdf[id_col].to_numpy()
            for lo in range(0, len(V), 1024):  # bound the rows x K x d/M temp
                codes = _pq_encode(V[lo : lo + 1024], CB)
                yield pd.DataFrame(
                    {id_col: ids[lo : lo + 1024], "adc_dist": lut[subspaces, codes].sum(axis=1)}
                )

    return embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, adc_dist long"
    )


def farthest_point_partials(
    embeddings: DataFrame,
    seeds,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 1024,
) -> DataFrame:
    """One round of farthest-point (Gonzalez k-center) seeding: each
    task computes every row's EXACT min fixed-point squared L2 to the
    broadcast seed set and emits only its LOCAL argmax row (max
    min-distance, ties to the LOWER id) — one (md, id) pair per task,
    so the driver reduction is bounded by task count, never corpus
    size. The global argmax under the same (md desc, id asc) rule is
    the next seed; exact integer distances make the whole seeding
    trajectory bit-reproducible and SQL-replayable."""
    S0 = np.asarray(seeds, dtype="float64")

    def fold(batches):
        best_md = -1
        best_id = -1
        for pdf, V in _vector_batches(batches, vec_col):
            ids = pdf[id_col].to_numpy()
            for lo in range(0, len(V), chunk):
                D = _fp_sqdist(V[lo : lo + chunk, None, :], S0[None, :, :]).min(axis=1)
                sub_ids = ids[lo : lo + chunk]
                order = np.lexsort((sub_ids, -D))
                cand_md, cand_id = int(D[order[0]]), int(sub_ids[order[0]])
                if cand_md > best_md or (
                    cand_md == best_md and cand_id < best_id
                ):
                    best_md, best_id = cand_md, cand_id
        if best_id >= 0:
            yield pd.DataFrame(
                {
                    "md": pd.Series([best_md], dtype="int64"),
                    "vid": pd.Series([best_id], dtype="int64"),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(fold, "md long, vid long")


def knn_join_multiprobe(
    embeddings: DataFrame,
    n_cells: int = 8,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF k-NN join — the standard recall knob between
    `knn_join_within_cells` (n_probe=1) and the exact join: every
    vector still lives in exactly ONE build cell (its top cell), but as
    a PROBE it visits its top ``n_probe`` cells, so a true neighbor just
    across a cell boundary is recovered at the cost of replicating only
    the probe side n_probe-fold. Shuffle volume is n * n_probe vector
    rows + n build rows; per-task work is O(n_probe * (n/C)^2) — the
    corpus is never all-paired.

    The per-cell candidate lists are bitwise-equal to the exact join
    restricted to the cell; the cross-cell merge is one per-id window
    downstream (the caller applies it; this returns per-cell
    candidates, k per probe per cell after the self-drop, so the global
    top-k is always contained).
    """
    if not 1 <= n_probe <= n_cells:
        raise ValueError("n_probe must be in [1, n_cells]")
    C, _ = _ivf_centroids_and_queries(embeddings, (), n_cells, id_col, vec_col)

    def assign(batches):
        for pdf, V in _vector_batches(batches, vec_col):
            cells = _rank_cells(V, C, n_probe)
            # the rank-0 cell is ALSO the vector's build home
            yield pd.concat(
                [
                    pdf.assign(cell=cells[:, r].astype("int32"), is_build=r == 0)
                    for r in range(n_probe)
                ],
                ignore_index=True,
            )

    assigned = embeddings.select(id_col, vec_col).mapInPandas(
        assign,
        f"{id_col} long, {vec_col} array<float>, cell int, is_build boolean",
    )

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        build = pdf[pdf["is_build"]]
        if build.empty or len(pdf) < 2:
            return pd.DataFrame()
        # probes = every row in the group (the build copy doubles as
        # its own rank-0 probe; replicas are probe-only)
        out = _topk_rows(
            pdf[id_col].to_numpy(), _vectors(pdf, vec_col),
            build[id_col].to_numpy(), _vectors(build, vec_col), k + 1,
        )
        out = out[out["vec_id"] != out["nbr_id"]]
        out = out[out.groupby("vec_id").cumcount() < k]
        out = out.assign(cell=np.int32(pdf["cell"].iloc[0]))
        return out[["vec_id", "nbr_id", "cosine", "cell"]]

    return assigned.groupBy("cell").applyInPandas(
        cell_topk, "vec_id long, nbr_id long, cosine double, cell int"
    )
