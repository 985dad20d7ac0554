"""Plan pins for the round-6 queries: the scale-critical properties
each one was designed around, asserted from the physical plan so a
refactor can't silently lose them."""

from duckdb_pipeline_spark.queries import collect_all

from test_plans import plan_text


def test_bm25_term_filter_precedes_every_exchange(spark, sf_dir):
    """The corpus must never shuffle OR broadcast at query time: BM25
    reads the materialized doc_id-bucketed (doc, token, tf) projection
    (round 11, VERDICT r10 #5) — the query-term filter is a pushed
    predicate on the cache read, the corpus-cardinality dl side joins
    as a bucket-co-located SortMergeJoin with NO Exchange on either
    doc_id input (the unhinted planner broadcast dl — the round-10
    audit's 100 TB failure class), and only the bounded relations
    (per-term df, the 1-row stats) broadcast."""
    df = collect_all()["search_docs_bm25"].fn(spark, sf_dir)
    plan = plan_text(df, "formatted")
    assert "BroadcastExchange" in plan  # df/stats, bounded by |query|
    assert "spark" in plan and "hash" in plan  # the term predicate
    # the tf ⋈ dl merge join is Exchange-free off the bucket spec: no
    # hashpartitioning(doc_id...) exchange anywhere in the plan
    assert "SortMergeJoin" in plan
    import re

    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan), plan
    # dl (one row per doc) must NOT be a broadcast build side: the only
    # broadcast-hash join keys are the token ones
    assert not re.search(r"BroadcastExchange.*bigint", plan)


def test_tfidf_single_corpus_window(spark, sf_dir):
    """Ranking is ONE window pass partitioned by doc_id; the df join
    must not introduce a cartesian."""
    df = collect_all()["tfidf_top_terms"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("Window [row_number") == 1
    # rank-3 cutoff is pushed map-side (partial WindowGroupLimit before
    # the doc_id exchange) — the property that bounds the sort input
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_semantic_cells_assignment_is_broadcast(spark, sf_dir):
    """Centroid assignment must be a broadcast nested loop over K rows
    (a scan-side map), never a shuffled join of the corpus against the
    centroids; and no global window runs over all vectors."""
    df = collect_all()["dedup_semantic_cells"].fn(spark, sf_dir)
    plan = plan_text(df, "formatted")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_user_state_totals_one_shuffle(spark, sf_dir):
    """The batch twin of the stateful operator is a single partial ->
    final aggregation: exactly one Exchange."""
    df = collect_all()["stream_user_state_totals"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


# ---- round-6 session-2 additions: bloom probe, span dedup, ADC scan ----


def test_bloom_probe_no_false_negatives_and_broadcast(spark, sf_dir):
    """Bloom soundness: every exact member MUST be flagged maybe (a
    false negative means the bit-position derivation diverged between
    build and probe side); plan (round-9 union-groupBy shape): no
    cartesian anywhere, and the whole gate runs on a bounded number of
    shuffles — corpus and probe meet in union aggregations, never in a
    corpus-sized join."""
    spec = collect_all()["dedup_bloom_probe"]
    rows = spec.fn(spark, sf_dir).collect()
    assert rows, "probe batch is empty"
    assert all(r.bloom_maybe == 1 for r in rows if r.is_member == 1)
    plan = plan_text(spec.fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    from tests.test_plans import _shuffle_exchanges

    assert _shuffle_exchanges(plan) <= 4, plan


def test_span_exact_counts_on_planted_corpus(spark):
    """Two docs sharing one exact 10-token substring: each gets 1 dup
    span covering 10 tokens; the unrelated doc and the short doc get
    zeros (short docs still emit a row — the left join keeps them)."""
    from duckdb_pipeline_spark.queries import dedup as dedup_queries
    from duckdb_pipeline_spark.queries.dedup import dedup_span_exact

    shared = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "alpha " + shared + " beta gamma delta epsilon zeta eta theta"),
            (2, "iota kappa " + shared + " lam mu nu xi omicron pi rho"),
            (3, "one two three four five six seven eight nine ten eleven twelve"),
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    orig = dedup_queries.load
    dedup_queries.load = lambda spark, sf_dir, name: docs
    try:
        out = {r.doc_id: r for r in dedup_span_exact(spark, "unused").collect()}
    finally:
        dedup_queries.load = orig
    assert out[1].dup_spans == 1 and out[1].dup_tokens == 10
    assert out[2].dup_spans == 1 and out[2].dup_tokens == 10
    assert out[3].dup_spans == 0 and out[3].dup_tokens == 0
    assert out[4].dup_spans == 0 and out[4].n_tokens == 2


def test_adc_codes_bounded_and_self_distance_zero(spark, sf_dir):
    """ADC sanity: integer distances are non-negative and bounded by
    dims * 255^2; the scan excludes the query itself; plan: coding is
    a map over the scan (stats row fetched at plan build), top-k is
    TakeOrdered — no SortMergeJoin."""
    spec = collect_all()["similarity_adc_topk_np"]
    df = spec.fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 10
    assert all(0 <= r.adc_dist <= 64 * 255 * 255 for r in rows)
    assert all(r.vec_id != 0 for r in rows)
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    plan = plan_text(df, "simple")
    assert "TakeOrdered" in plan
    assert "SortMergeJoin" not in plan


def test_span_scrub_keeps_first_occurrence_and_rebuilds_text(spark):
    """Keep-first semantics: the doc holding the globally-first copy of
    a duplicated 10-gram keeps its text verbatim; the later doc loses
    exactly the span's 10 tokens; untouched docs round-trip bit-for-bit
    (including a doc with a repeated separator — empty tokens must
    survive split -> rebuild)."""
    from duckdb_pipeline_spark.queries import dedup as dedup_queries
    from duckdb_pipeline_spark.queries.dedup import dedup_span_scrub

    shared = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "alpha " + shared + " beta gamma delta epsilon zeta eta theta"),
            (2, "iota kappa " + shared + " lam mu nu xi omicron pi rho"),
            (3, "one two  three four five six seven eight nine ten eleven"),
        ],
        "doc_id long, text string",
    )
    orig = dedup_queries.load
    dedup_queries.load = lambda spark, sf_dir, name: docs
    try:
        out = {r.doc_id: r for r in dedup_span_scrub(spark, "unused").collect()}
    finally:
        dedup_queries.load = orig
    src = {r.doc_id: r.text for r in docs.collect()}
    assert out[1].clean_text == src[1] and out[1].n_removed_tokens == 0
    assert out[2].n_removed_tokens == 10
    assert out[2].clean_text == "iota kappa lam mu nu xi omicron pi rho"
    assert out[3].clean_text == src[3] and out[3].n_removed_tokens == 0


def test_span_stats_and_scrub_match_python_reference(spark):
    """Randomized equivalence: a seeded 40-doc corpus over a 12-token
    vocabulary (dense in duplicated 10-grams) must produce exactly the
    counts and rebuilt texts of a direct pure-Python implementation of
    the declared semantics — count >= 2 for stats, keep-globally-first
    (min doc_id, pos) for scrub."""
    import random
    from collections import Counter

    from duckdb_pipeline_spark.queries import dedup as dedup_queries
    from duckdb_pipeline_spark.queries.dedup import dedup_span_exact, dedup_span_scrub

    n = 10
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    # boilerplate chunks longer than n recur across docs (the shape the
    # operator exists for); random filler between them stays unique
    chunks = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(n, n + 6)))
        for _ in range(5)
    ]
    rows = []
    for i in range(40):
        parts = []
        for _ in range(rng.randrange(1, 4)):
            parts.append(rng.choice(chunks))
            parts.append(" ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 6))))
        rows.append((i, " ".join(p for p in parts if p)))

    occs = []  # (doc_id, pos, gram) in (doc_id, pos) order
    cnt = Counter()
    for did, text in rows:
        toks = text.split(" ")
        for p in range(len(toks) - n + 1):
            g = " ".join(toks[p : p + n])
            occs.append((did, p + 1, g))
            cnt[g] += 1

    exp_stats, exp_clean = {}, {}
    seen_first = set()
    removed_by_doc = {}
    for did, pos, g in occs:  # already (doc_id, pos)-ordered
        if g in seen_first:
            removed_by_doc.setdefault(did, []).append(pos)
        else:
            seen_first.add(g)
    for did, text in rows:
        toks = text.split(" ")
        spans = [p for (d, p, g) in occs if d == did and cnt[g] >= 2]
        cov = set()
        for p in spans:
            cov.update(range(p, p + n))
        exp_stats[did] = (len(toks), len(spans), len(cov))
        rcov = set()
        for p in removed_by_doc.get(did, []):
            rcov.update(range(p, p + n))
        kept = [t for i, t in enumerate(toks, start=1) if i not in rcov]
        exp_clean[did] = (len(rcov), " ".join(kept))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dedup_queries.load
    dedup_queries.load = lambda spark, sf_dir, name: docs
    try:
        got_stats = {
            r.doc_id: (r.n_tokens, r.dup_spans, r.dup_tokens)
            for r in dedup_span_exact(spark, "unused").collect()
        }
        got_clean = {
            r.doc_id: (r.n_removed_tokens, r.clean_text)
            for r in dedup_span_scrub(spark, "unused").collect()
        }
    finally:
        dedup_queries.load = orig
    assert got_stats == exp_stats
    assert got_clean == exp_clean
    # the corpus must actually exercise the machinery
    assert sum(s[1] for s in exp_stats.values()) > 50
    assert any(c[0] > 0 for c in exp_clean.values())


def test_adc_absent_query_vector_yields_empty(spark):
    """A corpus without vec_id 0 must return the EMPTY set from the
    ADC query (the oracle's join against the missing query row is
    empty) — not k rows of NULL distance."""
    from duckdb_pipeline_spark.queries import similarity as sim_queries
    from duckdb_pipeline_spark.queries.similarity import similarity_adc_topk_np

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(1, 30)],
        "vec_id long, embedding array<float>",
    )
    orig = sim_queries.load
    sim_queries.load = lambda spark, sf_dir, name: emb
    try:
        assert similarity_adc_topk_np(spark, "unused").count() == 0
    finally:
        sim_queries.load = orig


def test_cms_sketch_is_bounded_and_broadcast(spark, sf_dir):
    """The CMS estimate join must broadcast the bounded cell table
    (d*w rows regardless of event volume) — a shuffled join here would
    mean the sketch table was treated as data-sized."""
    df = collect_all()["sketch_cms_user_counts"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 5
    plan = plan_text(df, "simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_span_exact_survives_hot_gram_skew(spark):
    """Boilerplate skew: ONE gram repeated across 2000 docs (every
    occurrence lands in one window partition — the worst case the
    docstring warns about). The query must complete and count exactly:
    every doc's single spans all duplicated, coverage = 10 tokens each
    plus filler overlap zero."""
    from duckdb_pipeline_spark.queries import dedup as dedup_queries
    from duckdb_pipeline_spark.queries.dedup import dedup_span_exact

    hot = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(i, f"u{i}a u{i}b " + hot + f" u{i}c") for i in range(2000)],
        "doc_id long, text string",
    )
    orig = dedup_queries.load
    dedup_queries.load = lambda spark, sf_dir, name: docs
    try:
        out = dedup_span_exact(spark, "unused")
        agg = out.agg(
            {"dup_spans": "sum", "dup_tokens": "sum", "doc_id": "count"}
        ).first()
    finally:
        dedup_queries.load = orig
    assert agg["count(doc_id)"] == 2000
    assert agg["sum(dup_spans)"] == 2000  # exactly the hot-gram position per doc
    assert agg["sum(dup_tokens)"] == 2000 * 10


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (the engine-native
    version of the probe-side gate dedup_bloom_probe hand-builds) must
    inject a might_contain filter on the fact side of a selective
    dim-filtered join once the size thresholds admit it — at 100 TB the
    default thresholds (10 MB creation side) admit exactly this shape.
    Thresholds are lowered for the test corpus and restored after."""
    from pyspark.sql import functions as F

    from duckdb_pipeline_spark.queries.common import load

    creation = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    application = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old_c, old_a = spark.conf.get(creation), spark.conf.get(application)
    old_b = spark.conf.get(bcast)
    spark.conf.set(creation, "100MB")
    spark.conf.set(application, "0")
    # the rule only fires for probable SHUFFLE joins — at the test
    # corpus size the dim would broadcast and no filter is needed; at
    # 100 TB both sides shuffle and the thresholds admit the injection
    spark.conf.set(bcast, "-1")
    try:
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom_filter_agg" in plan, plan[:2000]
    finally:
        spark.conf.set(creation, old_c)
        spark.conf.set(application, old_a)
        spark.conf.set(bcast, old_b)


def test_sessionization_single_exchange(spark, sf_dir):
    """user_sessions_gap30 runs on ONE Exchange: the window's
    hashpartitioning(user_id) satisfies both downstream aggregations
    (ClusteredDistribution on (user_id, ...) accepts a subset
    partitioning), so the lag, the cumsum, the per-session rollup and
    the per-user rollup all share the same shuffle."""
    df = collect_all()["user_sessions_gap30"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_retention_two_exchanges_no_expand(spark, sf_dir):
    """retention_cohorts is the fused two-shuffle shape: one user-keyed
    aggregation (round 8: min/max + bit_or day-mask), one cell-keyed
    count — no distinct Expand pass, no shuffle join (the only join is
    the 64-row offset-table BroadcastNestedLoopJoin that unpacks the
    mask)."""
    df = collect_all()["retention_cohorts"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    shuffles = sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
        and "SinglePartition" not in line
    )
    assert shuffles == 2
    assert "Expand" not in plan
    assert "bit_or" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_fuzzy_match_resolves_planted_corruption(spark, sf_dir):
    """Every corrupted probe must resolve back to its own source row at
    distance exactly 1 (the dropped character) — a wrong blocking key
    or a broken argmin surfaces as mismatched ids or higher distance."""
    df = collect_all()["fuzzy_match_names"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert all(r.matched_id == r.probe_id for r in rows)
    assert all(r.dist == 1 for r in rows)


# ---- round-6 session-3 additions: curation layer + minhash verify ----


def test_dsir_weight_join_is_broadcast(spark, sf_dir):
    """The per-doc scoring join must broadcast the <=4096-row weight
    table (bounded by the hashed feature space at ANY corpus size),
    never sort-merge the occurrence rows against it; and the whole
    query needs exactly its two designed shuffles (bucket counts +
    per-doc fold)."""
    df = collect_all()["dsir_importance"].fn(spark, sf_dir)
    plan = plan_text(df, "formatted")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_matrix_no_shingle_self_join(spark, sf_dir):
    """The pair space must come from exploding the bounded per-shingle
    source list (inverted index), NOT from joining the shingle table
    to itself — a self-join re-shuffles the corpus against itself at
    100 TB. Round 8 removed the last joins entirely: the diagonal
    sizes ride a single-partition window map over the <= n_src^2 pair
    rollup, so the plan has NO join operator of any kind and scans
    documents exactly once."""
    df = collect_all()["corpus_overlap_matrix"].fn(spark, sf_dir)
    plan = plan_text(df, "formatted")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("documents.parquet") == 1


def test_minhash_verify_no_pair_keyed_exchange(spark, sf_dir):
    """The round-6 verify rewrite: both member texts ride joins into
    the pair row and Jaccard computes in one map pass — the shingle
    arrays of the old groupBy-reassembly formulation must never cross
    an Exchange. Detectable: no HashAggregate between the final
    mapInPandas and the output, and no min_by/max_by aggregation."""
    df = collect_all()["dedup_minhash_lsh"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "min_by" not in plan and "max_by" not in plan
    assert "MapInPandas" in plan


def test_bpe_apply_is_pure_map(spark, sf_dir):
    """The application half must be a zero-Exchange plan: scan +
    chained in-row rewrites (the trainer's shuffles happen in its own
    jobs at build time; the corpus-wide rewrite itself never
    shuffles)."""
    df = collect_all()["bpe_apply_tokenize"].fn(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert "Exchange" not in plan
    assert "Join" not in plan
