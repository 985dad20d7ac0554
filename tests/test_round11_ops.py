"""Round-11 additions: the shared (doc, token, tf) materialized
projection (queries/tokcache.py, VERDICT r10 #4) and the queries routed
through it. Oracle parity is covered by the driver protocol
(tests/oracle_check.py); these pin the cache's CONTRACTS — semantics
(empty tokens kept so sum(tf) == size(split())), staleness (source
rewrite rebuilds; byte-identical touch doesn't), and the plan property
the bucketed layout buys (per-doc folds with NO shuffle Exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.test_plans import plan_text


def _shuffle_exchanges(plan: str) -> int:
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
        and "SinglePartition" not in line
    )


def _land(spark, d: str, rows) -> None:
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))


def test_doc_tf_keeps_empty_tokens_and_matches_split_size(spark, tmp_path):
    """sum(tf) per doc must equal size(split(text, ' ')) EXACTLY —
    including empty tokens from doubled/leading spaces — because
    text_repetition_stats derives n_tokens from it."""
    from duckdb_pipeline_spark.queries.tokcache import doc_tf

    d = str(tmp_path / "sfx")
    os.makedirs(d)
    _land(
        spark,
        d,
        [
            (1, "a  b", "en", "s", 4),     # doubled space -> empty token
            (2, " lead", "en", "s", 5),    # leading space -> empty token
            (3, "x y x", "en", "s", 5),
        ],
    )
    tf = doc_tf(spark, d)
    got = {
        r.doc_id: (r.n, r.top)
        for r in tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("n"), F.max("tf").alias("top"))
        .collect()
    }
    # split('a  b') = [a, '', b] (3); split(' lead') = ['', lead] (2)
    assert got == {1: (3, 1), 2: (2, 1), 3: (3, 2)}
    rows = {(r.doc_id, r.token): r.tf for r in tf.collect()}
    assert rows[(1, "")] == 1 and rows[(3, "x")] == 2


def test_doc_tf_stamp_rebuilds_on_source_change_only(spark, tmp_path):
    """Source rewrite (same session) rebuilds from the NEW content; a
    byte-identical touch refreshes the marker without a rebuild."""
    from duckdb_pipeline_spark.queries import tokcache

    d = str(tmp_path / "sfy")
    os.makedirs(d)
    _land(spark, d, [(1, "a a b", "en", "s", 5)])
    t1 = tokcache._ensure_doc_tf(spark, d)
    first = {(r.doc_id, r.token): r.tf for r in spark.table(t1).collect()}
    assert first[(1, "a")] == 2

    # source rewritten with different content -> stamp miss -> rebuild
    # (and the builder itself clears session caches, ADVICE r10)
    _land(spark, d, [(1, "c c c", "en", "s", 5), (2, "d", "en", "s", 1)])
    t2 = tokcache._ensure_doc_tf(spark, d)
    assert t2 == t1
    second = {(r.doc_id, r.token): r.tf for r in spark.table(t2).collect()}
    assert second == {(1, "c"): 3, (2, "d"): 1}

    # byte-identical touch: marker refresh, no rebuild (parquet files
    # in the cache dir keep their mtimes)
    cache_dir = os.path.dirname(tokcache.cache_location(d)[1])
    label_dirs = [
        os.path.join(cache_dir, x)
        for x in os.listdir(cache_dir)
        if os.path.exists(os.path.join(cache_dir, x, "_SRC.json"))
    ]
    # find this test's cache dir via the registered table location
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t2}")
        .where(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    path = loc.removeprefix("file:")
    sig = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    src_part = [
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(d, "documents.parquet"))
        for f in fs
        if not f.startswith(("_", "."))
    ][0]
    os.utime(src_part)  # same bytes, new mtime
    t3 = tokcache._ensure_doc_tf(spark, d)
    assert t3 == t2
    sig2 = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    assert sig2 == sig
    assert label_dirs  # sanity: the cache root is where we think


def test_routed_per_doc_folds_are_exchange_free(spark, sf_dir):
    """The point of bucketing the tf projection by doc_id: the per-doc
    rollups in corpus_budget_select's token fold and
    quality_gopher_repetition's word branch must satisfy their groupBy
    distribution from the bucket spec — zero shuffle Exchange between
    the cache scan and the first per-doc aggregate."""
    from duckdb_pipeline_spark.queries.tokcache import doc_tf

    tf = doc_tf(spark, sf_dir)
    fold = tf.where(F.col("token") != "").groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    assert _shuffle_exchanges(plan_text(fold, "simple")) == 0
    fold2 = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_words"), F.max("tf").alias("top_word_n")
    )
    assert _shuffle_exchanges(plan_text(fold2, "simple")) == 0


def test_mg_sketch_bounds_on_adversarial_stream(spark, tmp_path):
    """Misra-Gries guarantee on a stream built to force truncations:
    one token at ~2n/k plus k*3 distinct near-ties. The heavy token
    must survive with est <= exact and exact - est <= n/(k+1); the
    verdict columns must both be TRUE for every audited row."""
    import os

    from duckdb_pipeline_spark.queries.sketches import (
        sketch_mg_heavyhitters_audit,
    )

    d = str(tmp_path / "sfmg")
    os.makedirs(d)
    heavy = " ".join(["hot"] * 400)
    noise_docs = [
        (i + 1, " ".join(f"t{i}_{j}" for j in range(40)), "en", "s", 0)
        for i in range(30)
    ]
    _land(spark, d, [(0, heavy, "en", "s", 0)] + noise_docs)
    rows = {r.token: r for r in sketch_mg_heavyhitters_audit(spark, d).collect()}
    assert "hot" in rows and rows["hot"].exact_n == 400
    for r in rows.values():
        assert r.never_overcounts and r.within_bound, r


def test_append_doc_tf_equals_union_rebuild_then_supersedes(spark, tmp_path):
    """Incremental tf append (round-12 semantics): (a) right after
    append_doc_tf the table content equals the from-scratch (doc,
    token, tf, source) derivation over corpus UNION batch —
    bucket-aligned, no corpus re-tokenize; (b) appends COMPOSE: while
    the source is unchanged, ensure() keeps serving the union and a
    second (disjoint) batch appends on top of the first; (c) a real
    SOURCE CHANGE supersedes — the rebuild derives from the new corpus
    version ALONE and every appended doc is discarded (appends are a
    between-versions optimization, never a substitute for the
    staleness contract)."""
    from duckdb_pipeline_spark.queries import tokcache

    d = str(tmp_path / "sfap")
    os.makedirs(d)
    _land(spark, d, [(1, "a a b", "en", "s0", 5), (2, "b c", "en", "s1", 3)])
    batch = spark.createDataFrame(
        [(10, "a c c", "s9"), (11, "d", "s9")],
        "doc_id long, text string, source string",
    )
    tname = tokcache.append_doc_tf(spark, d, batch)
    got = {
        (r.doc_id, r.token): (r.tf, r.source)
        for r in spark.table(tname).collect()
    }
    assert got == {
        (1, "a"): (2, "s0"), (1, "b"): (1, "s0"),
        (2, "b"): (1, "s1"), (2, "c"): (1, "s1"),
        (10, "a"): (1, "s9"), (10, "c"): (2, "s9"),
        (11, "d"): (1, "s9"),
    }
    # the per-doc fold over the appended table stays Exchange-free
    fold = spark.table(tname).groupBy("doc_id").agg(F.sum("tf").alias("n"))
    assert _shuffle_exchanges(plan_text(fold, "simple")) == 0
    # (b) unchanged source: ensure() serves the union (no rebuild), and
    # the next hourly batch composes on top
    t2 = tokcache._ensure_doc_tf(spark, d)
    assert t2 == tname
    docs_mid = {r.doc_id for r in spark.table(t2).select("doc_id").distinct().collect()}
    assert docs_mid == {1, 2, 10, 11}
    batch2 = spark.createDataFrame(
        [(12, "e e", "s9")], "doc_id long, text string, source string"
    )
    tokcache.append_doc_tf(spark, d, batch2)
    got12 = {
        (r.doc_id, r.token): r.tf
        for r in spark.table(tname).where(F.col("doc_id") == 12).collect()
    }
    assert got12 == {(12, "e"): 2}
    # (c) source rewritten -> stamp miss -> rebuild from the NEW
    # version alone; all appended docs discarded
    _land(spark, d, [(1, "a a b", "en", "s0", 5), (3, "f", "en", "s0", 1)])
    t3 = tokcache._ensure_doc_tf(spark, d)
    assert t3 == tname
    docs_after = {r.doc_id for r in spark.table(t3).select("doc_id").distinct().collect()}
    assert docs_after == {1, 3}


def test_append_doc_tf_duplicate_guard(spark, tmp_path):
    """Round-12 hardening (VERDICT r11 wrong #2): appending a batch
    that shares doc_ids with the table must raise BEFORE any write —
    loud failure, never a silent double-count — and the table content
    must be unchanged after the failed append. Gated callers can skip
    the probe with check_duplicates=False (the documented contract)."""
    import pytest

    from duckdb_pipeline_spark.queries import tokcache

    d = str(tmp_path / "sfdg")
    os.makedirs(d)
    _land(spark, d, [(1, "a a", "en", "s0", 3), (2, "b", "en", "s0", 1)])
    batch = spark.createDataFrame(
        [(10, "c", "s9")], "doc_id long, text string, source string"
    )
    tname = tokcache.append_doc_tf(spark, d, batch)
    before = sorted(
        (r.doc_id, r.token, r.tf) for r in spark.table(tname).collect()
    )
    # second append of the SAME batch: guard trips, nothing written
    with pytest.raises(ValueError, match="already contains batch doc_ids"):
        tokcache.append_doc_tf(spark, d, batch)
    after = sorted(
        (r.doc_id, r.token, r.tf) for r in spark.table(tname).collect()
    )
    assert after == before
    # partial overlap trips too (one new, one existing id)
    mixed = spark.createDataFrame(
        [(11, "d", "s9"), (1, "a", "s0")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match=r"\[1\]"):
        tokcache.append_doc_tf(spark, d, mixed)
    # opt-out is honored (gated-admission callers): the double-count is
    # then the caller's deliberate choice
    tokcache.append_doc_tf(spark, d, batch, check_duplicates=False)
    n10 = spark.table(tname).where(F.col("doc_id") == 10).count()
    assert n10 == 2


def test_normalized_exact_dedup_collapses_case_and_whitespace(spark):
    """Round-12 tier: twins differing only in case / edge+internal
    whitespace share one normalized group (raw hashes differ ->
    n_raw_variants counts them); genuinely different texts do not."""
    from duckdb_pipeline_spark.operators.dedup import normalized_exact_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "  hello world "),   # case + whitespace twin of 1
            (3, "HELLO WORLD"),      # case twin of 1
            (4, "hello words"),      # different content
        ],
        "doc_id long, text string",
    )
    rows = {r.keeper_id: r for r in normalized_exact_dedup(df).collect()}
    assert set(rows) == {1, 4}
    assert rows[1].n_copies == 3 and rows[1].n_raw_variants == 3
    assert rows[4].n_copies == 1 and rows[4].n_raw_variants == 1


def test_toktf_append_query_matches_duckdb_oracle(spark, sf_dir):
    """The declared protocol row, checked locally exactly the way the
    driver checks it (oracle_check.compare) at the pytest scale."""
    import duckdb

    from duckdb_pipeline_spark.queries.tokcache import (
        TOKTF_APPEND_SQL,
        toktf_append_equals_rebuild,
    )
    from tests.oracle_check import compare

    spark_pdf = toktf_append_equals_rebuild(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    duck_pdf = con.execute(TOKTF_APPEND_SQL).df()
    assert compare("toktf_append_equals_rebuild", spark_pdf, duck_pdf) == []
