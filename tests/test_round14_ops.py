"""Round-14 operator tests: unicode-tier perplexity, derived twin
shifts, band-index append v2 (anchored within-batch components +
exact-Jaccard hit confirmation), and the closed streaming gate loop."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_twin_shift_floor_and_derived(spark):
    """At oracle scales the derived power-of-ten sits far below every
    module floor, so twin_shift returns the floor EXACTLY (static
    oracle SQL literals stay valid); with a floor below the corpus max
    the derived branch takes over with the next power of ten."""
    from duckdb_pipeline_spark.queries.common import load, twin_shift

    assert twin_shift(spark, SF, floor=1_000_000) == 1_000_000
    mx = load(spark, SF, "documents").agg(F.max("doc_id")).collect()[0][0]
    derived = twin_shift(spark, SF, floor=1)
    assert derived > mx
    assert derived == 10 ** len(str(mx))


def test_bigram_xent_unicode_tier_ties_decorated_twins(spark):
    """The tier contract behind quality_perplexity_buckets' oracle row:
    a comma+uppercase decorated twin scores BITWISE equal to its
    original under the unicode tokenizer (identical token stream), and
    NOT equal under the space tokenizer (punctuation glues into
    tokens, pushing bigrams to the OOV floor). This is what makes the
    driver hash pin the tier, not just the rollup arithmetic."""
    from duckdb_pipeline_spark.queries.quality import text_bigram_xent

    # doc 2 reuses src0 vocabulary so its base xent is NOT the
    # constant all-OOV floor (an all-OOV doc and its all-OOV twin
    # score the same under ANY tokenizer, which would mask the tier)
    base = spark.createDataFrame(
        [
            (1, "src0", "key agg row scan slow fast table value part"),
            (2, "src1", "key agg row scan table value part slow fast"),
        ],
        "doc_id long, source string, text string",
    )
    twins = base.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.lit("twin").alias("source"),
        F.upper(F.replace(F.col("text"), F.lit(" "), F.lit(", "))).alias("text"),
    )
    corpus = base.unionByName(twins)

    uni = {
        r.doc_id: (r.n_bigrams, r.xent)
        for r in text_bigram_xent(spark, SF, tokenizer="unicode", docs=corpus).collect()
    }
    assert uni[101] == uni[1] and uni[102] == uni[2]

    sp = {
        r.doc_id: (r.n_bigrams, r.xent)
        for r in text_bigram_xent(spark, SF, tokenizer="space", docs=corpus).collect()
    }
    assert sp[101] != sp[1] and sp[102] != sp[2]


def test_bigram_xent_rejects_unknown_tokenizer(spark):
    from duckdb_pipeline_spark.queries.quality import text_bigram_xent

    with pytest.raises(ValueError, match="unknown tokenizer"):
        text_bigram_xent(spark, SF, tokenizer="bpe")


def test_append_doc_tf_rejects_null_ids_even_when_gated(spark, tmp_path):
    """ADVICE r13: NULL doc_ids are an integrity invariant, rejected
    even on the gated-admission path (check_duplicates=False)."""
    from duckdb_pipeline_spark.queries.tokcache import append_doc_tf

    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, "a b c", "src0"), (2, "b c d", "src1")],
        "doc_id long, text string, source string",
    ).write.mode("overwrite").parquet(os.path.join(corpus_dir, "documents.parquet"))

    batch = spark.createDataFrame(
        [(None, "x y z", "src0")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="NULL"):
        append_doc_tf(spark, corpus_dir, batch, check_duplicates=False)


def test_neardup_gate_stream_catches_cross_batch_duplicate(spark, tmp_path):
    """VERDICT r13 #2 (the closed hourly loop): an admitted doc is
    APPENDED to the band index inside the gate's foreachBatch, so a
    duplicate of it arriving in a LATER micro-batch is rejected — and
    on a private index the loop is safe to run with the default
    append_admitted=True. Two stream lifecycles over one checkpoint
    (deterministic batch order): batch 1 lands fresh docs, batch 2
    lands an exact re-upload of a batch-1 doc under a new id."""
    import time

    from duckdb_pipeline_spark.operators.dedup import minhash_band_index_write
    from duckdb_pipeline_spark.streaming import neardup_gate_stream

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(6)))
        for i in range(4)
    ]
    idx = str(tmp_path / "gateidx")
    minhash_band_index_write(
        spark.createDataFrame(base, "doc_id long, text string"), idx
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "ckpt")
    novel = (100, "one two three four five six seven eight nine")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = neardup_gate_stream(stream, idx, out, ckpt, available_now=True)
        q.awaitTermination()

    # lifecycle 1: a novel doc — no collision, admitted, APPENDED
    spark.createDataFrame([novel], "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(landing)
    drain()
    v1 = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert v1[100].kept and v1[100].dup_of is None

    # lifecycle 2 (same checkpoint resumes): an exact re-upload of the
    # admitted doc — without the in-gate append it would sail through
    time.sleep(1.1)  # distinct mtime so the resumed listing sees it
    spark.createDataFrame(
        [(200, novel[1])], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    v2 = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert not v2[200].kept
    assert v2[200].dup_of == 100 and v2[200].component == 100
    # and the original verdict rows are untouched
    assert v2[100].kept


def test_band_append_verified_anchor_rejects_false_positive(spark, tmp_path):
    """ADVICE r13: a raw band-signature collision whose exact Jaccard
    is BELOW threshold must not hand its component to the new doc when
    `verify_docs` is passed (the rebuild path verifies; the append
    path now can too). The colliding-but-not-near-dup pair is found by
    a deterministic seeded search over template mutations using the
    same Carter-Wegman lanes the operator hashes with."""
    import random

    from duckdb_pipeline_spark.operators.dedup import (
        _batch_lane_minhashes,
        _py_shingles,
        minhash_band_index_append,
        minhash_band_index_write,
    )

    rng = random.Random(7)
    pool = [f"w{i}" for i in range(40)]
    template = [f"t{i}" for i in range(12)]
    docs = []
    for _ in range(250):
        d = list(template)
        for k in rng.sample(range(12), 5):  # ~J 0.3-0.5 vs template kin
            d[k] = rng.choice(pool)
        docs.append(" ".join(d))
    shs = [_py_shingles(t, 3) for t in docs]
    sigs = _batch_lane_minhashes(shs, 16)
    found = None
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(shs[i] & shs[j])
            jac = inter / (len(shs[i]) + len(shs[j]) - inter)
            if jac >= 0.5 or not (shs[i] and shs[j]):
                continue
            if any(
                (sigs[i, 4 * b : 4 * b + 4] == sigs[j, 4 * b : 4 * b + 4]).all()
                for b in range(4)
            ):
                found = (i, j, jac)
                break
        if found:
            break
    assert found, "seeded search produced no sub-threshold band collision"
    i, j, jac = found
    assert jac < 0.5

    base = spark.createDataFrame([(1, docs[i])], "doc_id long, text string")
    batch = spark.createDataFrame([(50, docs[j])], "doc_id long, text string")

    # unverified append (no corpus handle): candidate label inherited
    idx1 = str(tmp_path / "fp_unverified")
    minhash_band_index_write(base, idx1)
    minhash_band_index_append(spark, idx1, batch)
    lab1 = (
        spark.read.parquet(idx1).where(F.col("doc_id") == 50)
        .select("component").distinct().collect()
    )
    assert [r.component for r in lab1] == [1]

    # verified append: the false positive is rejected -> own id
    idx2 = str(tmp_path / "fp_verified")
    minhash_band_index_write(base, idx2)
    minhash_band_index_append(spark, idx2, batch, verify_docs=base)
    lab2 = (
        spark.read.parquet(idx2).where(F.col("doc_id") == 50)
        .select("component").distinct().collect()
    )
    assert [r.component for r in lab2] == [50]


def test_band_append_clusters_within_batch_singletons(spark, tmp_path):
    """Round-14 labeling upgrade: duplicate pairs arriving inside ONE
    batch that match nothing indexed now share a component (min batch
    id) instead of staying separate singletons until a rebuild."""
    from duckdb_pipeline_spark.operators.dedup import (
        minhash_band_index_append,
        minhash_band_index_write,
    )

    base = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    idx = str(tmp_path / "wbidx")
    minhash_band_index_write(base, idx)
    twin_text = "one two three four five six seven"
    batch = spark.createDataFrame(
        [(20, twin_text), (21, twin_text), (22, "x1 x2 x3 x4 x5 x6 x7")],
        "doc_id long, text string",
    )
    minhash_band_index_append(spark, idx, batch, verify_docs=base)
    labs = {
        r.doc_id: r.component
        for r in spark.read.parquet(idx)
        .select("doc_id", "component").distinct().collect()
    }
    assert labs[20] == 20 and labs[21] == 20  # shared within-batch label
    assert labs[22] == 22 and labs[1] == 1


def test_compact_bucketed_tf_projection(spark, tmp_path, monkeypatch):
    """VERDICT r13 #6: hourly tf appends accumulate one file per
    bucket per batch; `sinks.compact_bucketed` rewrites the table back
    to one sorted file per bucket while preserving the bucket spec
    (served plans stay Exchange-free), the `_SRC.json` stamp (the
    table still serves without a rebuild and later appends still
    compose), and the rows bitwise."""
    import glob
    import json

    from duckdb_pipeline_spark.queries.tokcache import (
        _ensure_doc_tf,
        append_doc_tf,
        cache_location,
    )
    from duckdb_pipeline_spark import sinks
    from duckdb_pipeline_spark.sinks import bucket_spec, compact_bucketed

    # a floor of 64 source bytes per bucket: the 8-doc corpus still
    # builds several buckets, so the per-bucket file counts below say
    # something
    monkeypatch.setattr(sinks, "MIN_BUCKET_BYTES", 64)
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}", f"src{i % 2}") for i in range(8)],
        "doc_id long, text string, source string",
    ).write.mode("overwrite").parquet(os.path.join(corpus_dir, "documents.parquet"))

    tname = _ensure_doc_tf(spark, corpus_dir)
    path, marker = cache_location(corpus_dir)[1:]
    for start in (100, 200):  # two hourly batches
        batch = spark.createDataFrame(
            [(start + i, f"tok{start + i} tok{i}", "srcb") for i in range(4)],
            "doc_id long, text string, source string",
        )
        append_doc_tf(spark, corpus_dir, batch)

    rows_before = sorted(map(tuple, spark.table(tname).collect()))
    files_before = len(glob.glob(os.path.join(path, "part-*.parquet")))
    # non-empty buckets only get files (hash(doc_id) pmod n_buckets IS
    # the bucket id — both Murmur3); build + appends leave >1 file in
    # the buckets the batches touched
    n_buckets = bucket_spec(spark, tname)["n_buckets"]
    assert n_buckets > 1
    n_buckets_used = (
        spark.table(tname)
        .select(F.pmod(F.hash("doc_id"), F.lit(n_buckets)))
        .distinct()
        .count()
    )
    assert files_before > n_buckets_used
    stamp_before = json.load(open(marker))
    assert stamp_before["appends"] == 2

    n_after = compact_bucketed(spark, tname)

    assert n_after == n_buckets_used  # one file per non-empty bucket
    assert sorted(map(tuple, spark.table(tname).collect())) == rows_before
    assert json.load(open(marker)) == stamp_before  # stamp survived
    # the bucket spec survived: a doc_id-keyed aggregation over the
    # served table plans with NO shuffle Exchange
    plan = (
        spark.table(tname)
        .groupBy("doc_id")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert not shuffles, plan
    # and a third append still composes on the compacted table
    batch3 = spark.createDataFrame(
        [(300, "tok300 tok1", "srcb")], "doc_id long, text string, source string"
    )
    append_doc_tf(spark, corpus_dir, batch3)
    assert json.load(open(marker))["appends"] == 3
    assert spark.table(tname).where(F.col("doc_id") == 300).count() == 2


def test_normalize_key_unicode_pinned_edges():
    """Differential pin of the NFKC+casefold tier (VERDICT r13 #7 —
    the NORM_WS_CLASS precedent: divergences are documented by test,
    not discovered by a driver mismatch). Groups that MUST collapse,
    and the one documented non-round-trip (U+0130)."""
    from duckdb_pipeline_spark.operators.dedup import (
        normalize_key_unicode as k,
        normalize_text,
    )

    # fullwidth capitals -> ascii lower (the planted twin class)
    assert k("ＫＥＹ agg") == k("key agg") == "key agg"
    # ligature fi (U+FB01), uppercased context
    assert k("ﬁlter FAST") == "filter fast"
    # full casefold: sharp s -> ss, final sigma == sigma
    assert k("STRASSE") == k("straße") == "strasse"
    assert k("Σς") == k("σσ")
    # NFKC maps NBSP to space; explicit class collapses runs
    assert k("a b") == k("a  b") == "a b"
    # the documented caveat, CLOSED as correct-Unicode: İ casefolds to
    # i + combining dot (real outside Turkish locale), NOT plain 'i'
    assert k("İstanbul") == "i̇stanbul"
    assert k("İstanbul") != k("istanbul")


def test_normalize_key_unicode_equals_ascii_tier_on_ascii(spark):
    """For pure-ASCII text the unicode tier's key equals the ASCII
    tier's normalized string — checked over the real corpus sample, so
    the tiers can never silently disagree on the data they share."""
    from duckdb_pipeline_spark.operators.dedup import (
        normalize_key_unicode,
        normalize_text,
    )
    from duckdb_pipeline_spark.queries.common import load

    rows = (
        load(spark, SF, "documents")
        .select("text", normalize_text(F.col("text")).alias("ascii_key"))
        .limit(200)
        .collect()
    )
    for r in rows:
        assert normalize_key_unicode(r.text) == r.ascii_key


def test_bm25_unicode_twins_match_terms_space_tier_does_not(spark, tmp_path):
    """The tier claim behind search_docs_bm25_unicode's oracle row: a
    comma-decorated uppercased twin matches the query terms under the
    unicode tokenizer and matches NOTHING under the space tokenizer
    (every token ends in ','), so serving BM25 from the wrong tier is
    a loud hash mismatch, not a silent relevance bug."""
    from duckdb_pipeline_spark.queries.retrieval import _TERMS
    from duckdb_pipeline_spark.queries.tokcache import _tokens_expr

    twin_text = "SPARK, HASH, MERGE, TABLE, ROW"
    df = spark.createDataFrame([(1, twin_text)], "doc_id long, text string")
    uni = df.select(F.explode(_tokens_expr("unicode")).alias("token"))
    sp = df.select(F.explode(_tokens_expr("space")).alias("token"))
    uni_hits = uni.where(F.col("token").isin(*_TERMS)).count()
    sp_hits = sp.where(F.col("token").isin(*_TERMS)).count()
    assert uni_hits == 3 and sp_hits == 0
