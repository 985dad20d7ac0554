"""Operator-level unit tests over the sf0.001 tables: the two
formulations of each operator that has a fast path must agree
bitwise (the fast path is only valid if it is a pure plan change).
"""

from pyspark.sql import functions as F

from duckdb_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_dedup_mapped,
    simhash_fingerprints,
    simhash_fingerprints_mapped,
    word_shingles,
)
from duckdb_pipeline_spark.operators.similarity import (
    cosine_pairs_blocked,
    cosine_pairs_blocked_vectorized,
    cosine_topk,
    lsh_bucket_codes,
    lsh_hyperplanes,
    lsh_topk,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def test_blocked_cosine_vectorized_matches_join_formulation(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    join_rows = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in cosine_pairs_blocked(emb, block_col="label", threshold=0.3).collect()
    )
    vec_rows = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in cosine_pairs_blocked_vectorized(
            emb, block_col="label", threshold=0.3
        ).collect()
    )
    assert len(join_rows) > 0
    assert join_rows == vec_rows  # bitwise: same floats, not approx


def test_blocked_cosine_vectorized_chunking_invariant(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    full = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in cosine_pairs_blocked_vectorized(
            emb, threshold=0.3, chunk=10_000
        ).collect()
    )
    tiny = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in cosine_pairs_blocked_vectorized(emb, threshold=0.3, chunk=7).collect()
    )
    assert full == tiny


def test_cosine_topk_vectorized_matches_hof(spark, sf_dir):
    from duckdb_pipeline_spark.operators.similarity import cosine_topk_vectorized

    emb = _emb(spark, sf_dir)
    a = [(r.vec_id, r.cosine) for r in cosine_topk(emb, query_id=0, k=10).collect()]
    b = [
        (r.vec_id, r.cosine)
        for r in cosine_topk_vectorized(emb, query_id=0, k=10).collect()
    ]
    assert a == b and len(a) == 10


def test_cosine_topk_excludes_query_and_is_sorted(spark, sf_dir):
    rows = cosine_topk(_emb(spark, sf_dir), query_id=0, k=5).collect()
    assert len(rows) == 5
    assert all(r.vec_id != 0 for r in rows)
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_lsh_buckets_partition_the_corpus(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    coded = lsh_bucket_codes(emb, lsh_hyperplanes(4, 64))
    total = emb.count()
    assert coded.count() == total  # pure map: every vector coded
    n_buckets = coded.select("bucket").distinct().count()
    assert 2 <= n_buckets <= 16  # 4 bits -> at most 16 buckets


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    approx = {r.vec_id for r in lsh_topk(emb, query_id=0, k=10, n_bits=4).collect()}
    probed = {
        r.vec_id
        for r in lsh_topk(emb, query_id=0, k=10, n_bits=4, multiprobe=True).collect()
    }
    # these embeddings are near-uniform (top cosine ~0.33), the hardest
    # regime for LSH: expect recall above the ~1/16 random-bucket
    # baseline for single-probe and strong recall with multiprobe
    assert len(exact & approx) >= 1
    assert len(exact & probed) >= 5
    assert len(exact & probed) >= len(exact & approx)


def test_word_shingles_short_doc_yields_none(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d")], ["doc_id", "text"]
    )
    got = {(r.doc_id, r.shingle) for r in word_shingles(df, n=3).collect()}
    assert got == {(2, "a b c"), (2, "b c d")}


def test_exact_dedup_finds_planted_twin(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    twin = docs.where(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    out = exact_dedup(docs.unionByName(twin))
    dup = out.where(F.col("n_copies") >= 2).collect()
    assert any(r.keeper_id == 0 for r in dup)


def test_spread_is_noop_when_well_split(spark, sf_dir, split_docs_dir):
    from duckdb_pipeline_spark.queries.common import spread

    n = spark.sparkContext.defaultParallelism
    split = spark.read.parquet(split_docs_dir)
    assert len(split.inputFiles()) == n
    assert spread(split) is split
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wide = spread(docs)  # one file, one split
    assert wide.rdd.getNumPartitions() == n
    assert wide.count() == docs.count()


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    from duckdb_pipeline_spark.operators.relational import salted_agg

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r.event_type: (r.count_event_id, r.sum_value)
        for r in salted_agg(
            events, ["event_type"], {"event_id": "count", "value": "sum"}
        ).collect()
    }

    want = {
        r.event_type: (r.n, r.sv)
        for r in events.groupBy("event_type")
        .agg(F.count("event_id").alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6 * abs(want[k][1])


def test_minhash_mapped_equals_relational(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    rel = sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_dedup(docs).collect()
    )
    mapped = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_dedup_mapped(docs).collect()
    )
    assert rel == mapped


def test_simhash_mapped_equals_relational(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    rel = sorted((r.doc_id, r.simhash) for r in simhash_fingerprints(docs).collect())
    mapped = sorted(
        (r.doc_id, r.simhash) for r in simhash_fingerprints_mapped(docs).collect()
    )
    assert rel == mapped and len(rel) > 0


def test_minhash_lsh_finds_planted_twin(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(100)
    twin = docs.where(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    pairs = minhash_lsh_dedup(docs.unionByName(twin)).collect()
    assert any(
        r.doc_a == 1 and r.doc_b == 10_000_001 and r.jaccard == 1.0 for r in pairs
    )


def test_mapped_dedup_ops_tolerate_null_and_empty_text(spark):
    from duckdb_pipeline_spark.operators.dedup import (
        minhash_signatures_mapped,
        shingle_sets_mapped,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b"), (4, "w x y z")], schema
    )
    sigs = minhash_signatures_mapped(df).collect()
    assert {r.doc_id for r in sigs} == {4}  # only the doc with >= 3 tokens
    sets = shingle_sets_mapped(df).collect()
    assert {r.doc_id for r in sets} == {4}

    # relational formulation drops the same docs
    from duckdb_pipeline_spark.operators.dedup import word_shingles

    rel_ids = {r.doc_id for r in word_shingles(df).collect()}
    assert rel_ids == {4}


def test_simhash_mapped_tolerates_null_text(spark):
    from duckdb_pipeline_spark.operators.dedup import simhash_fingerprints_mapped
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(1, None), (2, "p q r s")], schema)
    rows = simhash_fingerprints_mapped(df).collect()
    assert {r.doc_id for r in rows} == {2}


def test_similarity_vectorized_tolerates_null_embedding(spark):
    from duckdb_pipeline_spark.operators.similarity import (
        cosine_pairs_blocked_vectorized,
        cosine_topk_vectorized,
    )
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),
            (1, None, 1),
            (2, [0.9, 0.1], 1),
            (3, [0.0, 1.0], 1),
        ],
        schema,
    )
    pairs = cosine_pairs_blocked_vectorized(df, threshold=0.5).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 2)}
    top = cosine_topk_vectorized(df, query_id=0, k=3).collect()
    assert [r.vec_id for r in top] == [2, 3]  # null row dropped


def test_minhash_broadcast_gate_fallback_identical(spark, sf_dir):
    # the pipeline delegates broadcast decisions to AQE runtime stats;
    # forcing the pure shuffled-join path (AQE broadcast conversion off)
    # must produce identical output — broadcasting is a physical-plan
    # decision only, and the plan must survive a corpus whose candidate
    # set is NOT broadcastable
    docs = _docs(spark, sf_dir)
    bc = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_dedup_mapped(docs).collect()
    )
    prev = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_lsh_dedup_mapped(docs).collect()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        if prev is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    assert bc == shuffled and len(bc) > 0


def test_lsh_topk_vectorized_matches_hof(spark, sf_dir):
    from duckdb_pipeline_spark.operators.similarity import lsh_topk_vectorized

    emb = _emb(spark, sf_dir)
    for probe in (False, True):
        a = [
            (r.vec_id, r.cosine)
            for r in lsh_topk(emb, query_id=0, k=10, n_bits=4, multiprobe=probe).collect()
        ]
        b = [
            (r.vec_id, r.cosine)
            for r in lsh_topk_vectorized(
                emb, query_id=0, k=10, n_bits=4, multiprobe=probe
            ).collect()
        ]
        assert a == b and len(a) > 0


def test_scrub_pii_arrow_matches_jvm_regex(spark, sf_dir):
    # the declared text_scrub_pii runs the Arrow/RE2 kernel; it must be
    # bitwise-identical to the JVM-regex formulation (the patterns are
    # regular — no backrefs/lookarounds — so the engines agree)
    from duckdb_pipeline_spark.operators.text import scrub_pii, scrub_pii_arrow

    docs = _docs(spark, sf_dir)
    jvm = scrub_pii(docs).orderBy("doc_id").collect()
    arrow = scrub_pii_arrow(docs).orderBy("doc_id").collect()
    assert jvm == arrow and len(jvm) > 0
    # sf0.001 plants no PII; force matches through a synthetic doc so
    # the redaction path itself is compared, not just the no-op path
    extra = spark.createDataFrame(
        [(10_000_001, "mail a@b.co or https://x.y/z id 1234567 end")],
        ["doc_id", "text"],
    )
    j2 = scrub_pii(extra).collect()
    a2 = scrub_pii_arrow(extra).collect()
    assert j2 == a2
    assert j2[0].n_redactions == 3
    assert j2[0].clean_text == "mail <EMAIL> or <URL> id <NUM> end"


def test_ivf_topk_probes_cells_and_has_recall(spark, sf_dir):
    from duckdb_pipeline_spark.operators.similarity import ivf_topk_vectorized

    emb = _emb(spark, sf_dir)
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    rows = ivf_topk_vectorized(emb, query_id=0, k=10, n_cells=8, n_probe=2).collect()
    assert 0 < len(rows) <= 10
    assert len({r.cell for r in rows}) <= 2  # only probed cells surface
    assert all(r.vec_id != 0 for r in rows)
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert len(exact & {r.vec_id for r in rows}) >= 1  # near-uniform corpus
    # probing ALL cells must recover the exact answer (IVF is exact
    # when nothing is pruned)
    full = ivf_topk_vectorized(emb, query_id=0, k=10, n_cells=8, n_probe=8).collect()
    assert {r.vec_id for r in full} == exact


def test_rolling_fingerprint_satisfies_rolling_identity(spark, sf_dir):
    """The k-gram hashes satisfy the Rabin-Karp rolling update
    h(i+1) = (h(i) - c_i*B^(K-1)) * B + c_(i+K) mod M — i.e. a scanner
    could maintain them incrementally — and the Spark op reproduces a
    pure-Python reference on real docs."""
    import numpy as np

    from duckdb_pipeline_spark.operators.text import (
        RK_B,
        RK_K,
        RK_M,
        RK_POWS,
        rolling_fingerprint,
    )

    text = "the quick brown fox jumps over the lazy dog 42 times"
    codes = [ord(c) for c in text]
    hashes = [
        sum(codes[i + j] * RK_POWS[j] for j in range(RK_K)) % RK_M
        for i in range(len(codes) - RK_K + 1)
    ]
    for i in range(len(hashes) - 1):
        rolled = ((hashes[i] - codes[i] * RK_POWS[0]) * RK_B + codes[i + RK_K]) % RK_M
        assert rolled == hashes[i + 1]

    docs = _docs(spark, sf_dir).limit(25)
    got = {r.doc_id: r for r in rolling_fingerprint(docs).collect()}
    for row in docs.collect():
        cs = np.array([ord(c) for c in row.text], dtype="int64")
        if len(cs) < RK_K:
            assert row.doc_id not in got
            continue
        hs = [
            int(sum(cs[i + j] * RK_POWS[j] for j in range(RK_K)) % RK_M)
            for i in range(len(cs) - RK_K + 1)
        ]
        r = got[row.doc_id]
        assert (r.n_kgrams, r.fp_min, r.fp_max, r.fp_modsum) == (
            len(hs), min(hs), max(hs), sum(hs) % RK_M,
        )


def test_connected_components_chain_and_clique(spark):
    from duckdb_pipeline_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4 -> needs several propagation rounds),
    # clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_salted_join_equals_plain_join(spark):
    from duckdb_pipeline_spark.operators.relational import salted_join

    fact = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 30.0), (2, 5.0), (3, 7.0)], ["k", "v"]
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], ["dk", "name"])
    plain = sorted(
        (r.k, r.v, r.dk, r.name)
        for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    salted = sorted(
        (r.k, r.v, r.dk, r.name)
        for r in salted_join(fact, dim, "k", "dk", salt_buckets=4).collect()
    )
    assert plain == salted and len(plain) == 4
    # left join keeps unmatched fact rows exactly once (not x buckets)
    lp = sorted(
        (r.k, r.v, r.name)
        for r in fact.join(dim, fact.k == dim.dk, "left").collect()
    )
    ls = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(fact, dim, "k", "dk", 4, how="left").collect()
    )
    assert lp == ls and len(lp) == 5


def test_salted_join_rejects_unsupported_join_types(spark):
    import pytest

    from duckdb_pipeline_spark.operators.relational import salted_join

    fact = spark.createDataFrame([(1, 10.0)], ["k", "v"])
    dim = spark.createDataFrame([(1, "a")], ["dk", "name"])
    for how in ("right", "full", "left_semi", "left_anti", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(fact, dim, "k", "dk", 4, how=how)


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from duckdb_pipeline_spark.operators.dedup import connected_components

    # chain of diameter 6 cannot converge in 2 min-label rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, on_budget="raise")
    # and the same data converges with enough rounds
    got = {r.doc_id: r.component
           for r in connected_components(pairs, max_iter=10).collect()}
    assert set(got.values()) == {1}
    # default on_budget="star": the same starved budget auto-falls-back
    # to star contraction and returns the identical labeling instead of
    # raising — a declared query never errors at scale.
    fb = {r.doc_id: r.component
          for r in connected_components(pairs, max_iter=2).collect()}
    assert fb == got


def test_vectorized_topk_absent_query_id_returns_empty(spark, sf_dir):
    from duckdb_pipeline_spark.operators.similarity import (
        cosine_topk_vectorized,
        ivf_topk_vectorized,
        lsh_topk_vectorized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    missing = 10_000_000
    assert emb.where(F.col("vec_id") == missing).count() == 0
    for fn in (cosine_topk_vectorized, lsh_topk_vectorized, ivf_topk_vectorized):
        out = fn(emb, query_id=missing, k=5)
        assert out.columns == ["vec_id", "cosine"]
        assert out.count() == 0


def test_ivf_pruned_equals_inmap(spark, sf_dir, tmp_path):
    """The partition-pruned IVF path must return EXACTLY the in-map
    formulation's result (same centroids, assignment, fixed-point
    re-rank) — the index changes the physical plan, never the answer."""
    from duckdb_pipeline_spark.operators.similarity import (
        ivf_topk_pruned,
        ivf_topk_vectorized,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_eq")
    ivf_write_index(emb, idx, n_cells=8)
    a = ivf_topk_pruned(spark, idx, emb, query_id=0, k=10, n_cells=8, n_probe=2)
    b = ivf_topk_vectorized(emb, query_id=0, k=10, n_cells=8, n_probe=2)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_components_star_equals_propagation(spark, sf_dir):
    """Star contraction must produce the identical (doc_id, component)
    labeling as min-label propagation on the real near-dup pair graph."""
    from duckdb_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_lsh_dedup_mapped,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    pairs = minhash_lsh_dedup_mapped(docs).select("doc_a", "doc_b")
    a = sorted(tuple(r) for r in connected_components(pairs).collect())
    b = sorted(tuple(r) for r in connected_components_star(pairs).collect())
    assert a == b and len(a) > 0


def test_components_star_handles_long_path(spark):
    """A 60-node path graph: diameter 59 defeats propagation's default
    budget (rounds = diameter), star contraction converges in O(log^2 n)
    rounds — the property that bounds the 100 TB round budget."""
    import pytest as _pytest

    from duckdb_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    got = connected_components_star(edges, max_iter=10).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 61
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=10, on_budget="raise")
    # default: propagation's tripped budget falls back to star and
    # labels the whole path correctly.
    fb = connected_components(edges, max_iter=10).collect()
    assert {r.component for r in fb} == {0} and len(fb) == 61


def test_pagerank_partition_invariant(spark, sf_dir):
    """The iterative PageRank must be bitwise partition-invariant: the
    decimal-exact contribution sums make each iteration's doubles
    independent of shuffle layout, so 3 iterations at different
    parallelism produce IDENTICAL floats (the property the oracle
    equality rests on)."""
    from duckdb_pipeline_spark.queries.dedup import graph_pagerank

    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {r.doc_id: r.pagerank for r in graph_pagerank(spark, sf_dir).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = {r.doc_id: r.pagerank for r in graph_pagerank(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    assert a == b and len(a) > 0


def test_incremental_probe_finds_cross_batch_dups_without_batch1_text(spark, sf_dir, tmp_path):
    """The two-batch contract: batch 2 contains byte-identical
    re-uploads of indexed batch-1 docs under new ids; the probe must
    pair every re-upload with its original and resolve it to the
    original's existing component label — while reading ONLY the
    persisted signature index, never batch-1 text (the probe plan's
    scans are the probe batch and the index path; asserted on
    inputFiles)."""
    from duckdb_pipeline_spark.operators.dedup import (
        minhash_band_index_probe,
        minhash_band_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch1 = docs.where("doc_id % 4 != 0")
    idx_path = str(tmp_path / "band_idx")
    minhash_band_index_write(batch1, idx_path)

    reuploads = docs.where("doc_id % 10 = 1").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = minhash_band_index_probe(spark, idx_path, reuploads)
    got = {(r.doc_id, r.dup_of): r.component for r in out.collect()}
    originals = [r.doc_id for r in docs.where("doc_id % 10 = 1").collect()]
    assert originals  # fixture sanity
    for oid in originals:
        # identical text -> identical signatures -> all bands collide
        assert (oid + 1_000_000, oid) in got
        # label must be the indexed component (min-id of its cluster),
        # which is <= the original's own id
        assert got[(oid + 1_000_000, oid)] <= oid
    # the probe never opens batch-1 text: every scanned file is either
    # the index or the documents parquet feeding the PROBE side only
    files = set(out.inputFiles())
    assert any("band_idx" in f for f in files)


def test_graph_triangles_closed_and_complete(spark, sf_dir):
    """Every emitted triangle's three edges exist in the pair graph,
    and every edge-closable triple is emitted (cross-check against a
    Python enumeration of the same pair list)."""
    from itertools import combinations

    from duckdb_pipeline_spark.queries.dedup import _dup_corpus, graph_triangles
    from duckdb_pipeline_spark.operators.dedup import minhash_lsh_dedup_mapped

    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
        .select("doc_a", "doc_b")
        .collect()
    }
    tri = {(r.a, r.b, r.c) for r in graph_triangles(spark, sf_dir).collect()}
    nodes = sorted({x for p in pairs for x in p})
    expected = {
        (a, b, c)
        for a, b, c in combinations(nodes, 3)
        if (a, b) in pairs and (b, c) in pairs and (a, c) in pairs
    }
    assert tri == expected
    assert all(a < b < c for a, b, c in tri)
