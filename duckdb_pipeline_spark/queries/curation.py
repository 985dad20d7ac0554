"""Corpus-curation operators a large-scale pretraining pipeline runs
between raw ingestion and tokenization — the selection/audit layer the
reference's medallion flow (data_lake_transformer.py:9-242) would grow
once its silver tables feed model training:

- **DSIR importance weighting** (`dsir_importance`): score every
  document by how target-like its hashed-bigram distribution is
  (log p_target(f) - log p_raw(f) summed over features) — the public
  Data Selection via Importance Resampling recipe (Xie et al., 2023).
- **BPE merge induction** (`bpe_train_merges`): the first R rounds of
  byte-pair-encoding vocabulary training over whitespace symbols —
  count adjacent pairs, take the global argmax, rewrite, repeat. The
  iterative-algorithm pattern (like graph_pagerank) applied to
  tokenizer training.
- **Cross-source overlap matrix** (`corpus_overlap_matrix`): distinct
  5-gram overlap between every pair of sources — the contamination /
  provenance audit that decides which sources double-count.

Cross-engine determinism follows the repo conventions: every
transcendental RESULT is rounded to 6 decimals before further
arithmetic, sums of rounded terms use the decimal-exact idiom
(queries/common.dsum), and all counts/argmaxes are integer with total
tie-break orders.

Measured and rejected (sf0.1, min-of-5, output-identical in all cases):

- dsir via a broadcast weight MAP + in-row decimal HOF fold (zero
  doc-keyed shuffle): 5.1 s vs 1.3 s for the two-shuffle relational
  plan — interpreted per-element decimal lambdas dominate; the clean
  dataflow loses to codegen'd hash aggregation by ~4x here.
- dsir via a (doc, bucket) tf intermediate (the text_unigram_xent
  idiom): 2.3 s — on bigram features per-doc buckets rarely repeat,
  so the extra groupBy shuffles ~the same row count for no
  compression. Kept per-occurrence (1.3 s).
- overlap matrix folding the global distinct into collect_set (one
  fewer corpus shuffle): 1.26 s vs 1.07 s — the combiner's set state
  over non-distinct rows costs more than the saved Exchange.
- overlap matrix shuffling 16-hex md5(shingle) keys instead of the
  raw 5-gram strings: 1.15 s vs 1.19 s — inside noise; not worth the
  distinct-hashed-grams semantics change.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import QuerySpec
from .common import DSUM, dsum_fp, load

# ------------------------------------------------------------------ DSIR

# hashed-bigram feature space: first 3 hex chars of md5 = 4096 buckets.
# Hashing bounds the weight table at 4096 rows AT ANY CORPUS SIZE, which
# is what makes the scoring join a provably safe broadcast.
_DSIR_BUCKETS = 4096
_DSIR_TARGET_LANG = "en"


def dsir_importance(spark, sf_dir):
    """DSIR importance weight per document: sum over hashed-bigram
    features of tf * (ln p_target(b) - ln p_raw(b)), add-one smoothed.
    Target distribution = the `lang = 'en'` slice; raw = whole corpus.
    Documents that resample well into the target domain score high.

    Scale shape: bigrams form map-side (zip_with against the shifted
    array — no positional explode/join); the occurrence table is
    persisted because it feeds two plan branches (bucket counts and
    the scoring join — Spark does not CSE across branches). Raw and
    target counts come from ONE conditional aggregation that collapses
    to <= 4096 rows, so the log-ratio table is broadcast BY
    CONSTRUCTION; per-doc scoring is a map-side join + one
    fixed-point-exact fold. Exactly two corpus-sized shuffles.

    The md5 feature hash is the cross-engine-portable choice and is
    ~40% of the wall time at sf1 (8.2 s; an xxhash64-bucket variant
    measures 4.7 s bitwise-unverifiable — DuckDB has no xxhash64).
    On an engine-only deployment swap the hasher; the plan is
    identical."""
    return dsir_importance_from(load(spark, sf_dir, "documents"))


def dsir_importance_from(docs):
    """DataFrame-level core of `dsir_importance` (docs: doc_id, lang,
    text) — split out so tests can drive planted corpora.

    Round-8 feature extraction: ONE mapInPandas pass emits per-doc
    (bucket, tf) rows with the md5 paid once per DISTINCT bigram per
    Arrow batch (the minhash batch-vocabulary precedent,
    operators/dedup._batch_lane_minhashes). Natural-language bigrams
    are Zipf-distributed, so batch vocabulary is a small fraction of
    occurrences (285x repetition measured on the sf0.1 corpus; the
    md5-per-occurrence JVM path was ~40% of sf1 wall per the round-7
    profile). The tf compression also shrinks the persisted
    intermediate and both downstream aggregations from occurrence
    count to per-doc-distinct count. Buckets and scores are
    bitwise-identical to the per-occurrence formulation (tf * lw is
    exact in the fixed-point fold: lw's scale-9 value n and tf*n both
    round exactly), so the DuckDB oracle is unchanged."""
    import hashlib

    import pandas as pd

    from pyspark import StorageLevel

    from .common import spread

    def extract(batches):
        for pdf in batches:
            cache: dict[str, str] = {}
            o_doc, o_lang, o_bucket, o_tf = [], [], [], []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                tf: dict[str, int] = {}
                for i in range(len(toks) - 1):
                    bg = toks[i] + " " + toks[i + 1]
                    tf[bg] = tf.get(bg, 0) + 1
                for bg, n in tf.items():
                    b = cache.get(bg)
                    if b is None:
                        b = hashlib.md5(bg.encode()).hexdigest()[:3]
                        cache[bg] = b
                    o_doc.append(doc_id)
                    o_lang.append(lang)
                    o_bucket.append(b)
                    o_tf.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(o_doc, dtype="int64"),
                    "lang": pd.Series(o_lang, dtype="object"),
                    "bucket": pd.Series(o_bucket, dtype="object"),
                    "tf": pd.Series(o_tf, dtype="int64"),
                }
            )

    # DISK_ONLY, decided by measurement (VERDICT r6 #6, round-7 A/B):
    # the feature table is corpus-sized (bounded by per-doc distinct
    # bigrams), and default deserialized memory caching melts down
    # under storage-memory eviction + GC churn once it outgrows the
    # executor heap — sf10 cold min: MEMORY_AND_DISK 81.7 s (worst
    # pass 142.9) vs DISK_ONLY 29.4 s. Serialized-to-disk is the only
    # level whose cost stays flat as the corpus outgrows memory — the
    # exact property needed at 100 TB.
    bi = (
        spread(docs.select("doc_id", "lang", "text"), bytes_per_split=256 * 1024)
        .mapInPandas(extract, "doc_id long, lang string, bucket string, tf long")
        .persist(StorageLevel.DISK_ONLY)
    )
    # Raw and target counts come from ONE conditional aggregation that
    # collapses to <= 4096 rows, the totals from one 1-row aggregate
    # over its output.
    is_t = (F.col("lang") == _DSIR_TARGET_LANG).cast("long")
    counts = bi.groupBy("bucket").agg(
        F.sum("tf").alias("cr"),
        F.sum(F.col("tf") * is_t).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cr").cast("double").alias("tr"),
        F.sum("ct").cast("double").alias("tt"),
    )
    B = F.lit(float(_DSIR_BUCKETS))
    lw = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.round(
                F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + B)), 6
            )
            - F.round(
                F.log((F.col("cr") + 1).cast("double") / (F.col("tr") + B)), 6
            )
        ).alias("lw"),
    )
    # dsum_fp, not dsum: lw = round(x, 6) satisfies the fast path's
    # precondition exactly (<= 9 decimal digits, |x| tiny) and tf * lw
    # scales its exact scale-9 integer by an exact long (round(tf * lw
    # * 1e9) absolute error << 0.5 at any corpus-feasible tf), so the
    # long fixed-point sum is bitwise-equal to the per-occurrence
    # decimal-idiom oracle while staying on Spark's long-backed
    # aggregation path
    agg = (
        bi.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id")
        .agg(
            dsum_fp(F.col("lw") * F.col("tf")).alias("s"),
            F.sum("tf").alias("n_bigrams"),
        )
    )
    return agg.select(
        "doc_id", "n_bigrams", F.round("s", 6).alias("log_importance")
    )


DSIR_SQL = f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT doc_id, lang, substr(md5(t[u.i] || ' ' || t[u.i + 1]), 1, 3) AS bucket
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
counts AS (
  SELECT bucket, count(*) AS cr,
         CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM bi GROUP BY 1
),
tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS tr, CAST(SUM(ct) AS DOUBLE) AS tt FROM counts),
lw AS (
  SELECT bucket,
         round(ln(CAST(ct + 1 AS DOUBLE) / (tt + {_DSIR_BUCKETS})), 6)
           - round(ln(CAST(cr + 1 AS DOUBLE) / (tr + {_DSIR_BUCKETS})), 6) AS lw
  FROM counts, tot
),
agg AS (
  SELECT b.doc_id,
         {DSUM('l.lw')} AS s,
         count(*) AS n_bigrams
  FROM bi b JOIN lw l USING (bucket) GROUP BY b.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, round(s, 6) AS log_importance FROM agg
"""


# ------------------------------------------------------------------ BPE

_BPE_ROUNDS = 3


def _apply_merge(df, x: str, y: str):
    """Rewrite the symbol array replacing every adjacent (x, y) with
    the merged symbol 'x y' — map-only (no shuffle at any scale).
    Because training only ever selects pairs with lhs != rhs, matches
    cannot overlap (a match at i+1 would need sym[i+1] = x = y), so
    greedy leftmost-merge == independent per-position rewrite:
    position i merges iff it matches; position i drops iff i-1
    matched."""
    s = F.col("s")
    shifted = F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(1)))
    m = F.zip_with(
        s, shifted, lambda a, b: (a == F.lit(x)) & b.eqNullSafe(F.lit(y))
    )
    df = df.withColumn("m", m)
    tagged = F.transform(s, lambda v, i: F.struct(v.alias("v"), i.alias("i")))
    kept = F.filter(
        tagged,
        lambda st: ~F.when(st["i"] == 0, F.lit(False)).otherwise(
            F.element_at(F.col("m"), st["i"])  # 1-based: m[i-1] = prev matched
        ),
    )
    rewritten = F.transform(
        kept,
        lambda st: F.when(
            F.element_at(F.col("m"), st["i"] + 1), F.lit(f"{x} {y}")
        ).otherwise(st["v"]),
    )
    return df.withColumn("s", rewritten).drop("m")


def bpe_train_merges(spark, sf_dir):
    """First R=3 byte-pair-encoding merge rounds over whitespace
    symbols: per round, count adjacent symbol pairs corpus-wide, adopt
    the most frequent (ties: count DESC, lhs ASC, rhs ASC), rewrite
    every occurrence, recount. Output: (round, lhs, rhs,
    n_occurrences) — the learned merge table.

    Iterative-algorithm shape (the graph_pagerank discipline): each
    round is ONE partial-aggregated groupBy over map-side pair arrays —
    the shuffle carries (pair, count) partials, never positions — plus
    a 1-row driver collect of the argmax (bounded per round, like the
    IVF centroid collect; the merge must become a literal for the next
    round's map-only rewrite to stay in codegen). Restricting
    candidates to lhs != rhs keeps the rewrite overlap-free and
    positionally independent (see _apply_merge); standard BPE permits
    self-pairs, a documented divergence that changes which merge wins
    only on corpora dominated by immediate word repetition."""
    spark_df = load(spark, sf_dir, "documents")
    return spark.createDataFrame(
        bpe_merges_from(spark_df, _BPE_ROUNDS),
        "round int, lhs string, rhs string, n_occurrences long",
    )


def _bpe_count_kernel(batches):
    """Partial adjacent-pair counts for a partition of symbol arrays
    (one Counter per partition, flushed once — the map-side combine).
    Round 8: replaces the zip_with/filter HOF explode, which Catalyst
    evaluates INTERPRETED per element — measured at sf1: HOF
    explode+count 1.9 s vs this kernel 0.85 s, and the shuffle now
    moves per-partition distinct pairs instead of every occurrence."""
    from collections import Counter

    import pandas as pd

    c = Counter()
    for pdf in batches:
        for s in pdf["s"]:
            if s is None:
                continue
            prev = None
            for tok in s:
                if prev is not None and prev != tok:
                    c[(prev, tok)] += 1
                prev = tok
    if c:
        lhs, rhs = zip(*c.keys())
        yield pd.DataFrame(
            {"lhs": list(lhs), "rhs": list(rhs), "n": list(c.values())}
        )


def _bpe_rewrite_mapped(df, x: str, y: str):
    """Greedy leftmost non-overlapping merge of adjacent (x, y) as an
    Arrow kernel — bitwise-identical to `_apply_merge` (equivalence
    asserted by the trainer tests and the unchanged SQL oracle) at
    ~3x its speed (sf1: 1.24 s HOF vs 0.37 s kernel); the trainer
    only ever picks x != y, for which greedy == per-position."""
    import pandas as pd

    merged = x + " " + y

    def rewrite(batches):
        for pdf in batches:
            out = []
            for s in pdf["s"]:
                if s is None:
                    out.append(None)
                    continue
                r = []
                i = 0
                L = len(s)
                while i < L:
                    if i + 1 < L and s[i] == x and s[i + 1] == y:
                        r.append(merged)
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                out.append(r)
            yield pd.DataFrame({"s": out})

    return df.mapInPandas(rewrite, "s array<string>")


def bpe_merges_from(docs, rounds: int) -> list:
    """DataFrame-level core of `bpe_train_merges`: the learned merge
    list [(round, lhs, rhs, n)] for a docs(text) DataFrame.

    Round-8 per-round plan: count-kernel partials → one pair-keyed
    shuffle of per-partition DISTINCT pairs → 1-row argmax collect →
    rewrite-kernel into the next generation (which materializes inside
    the NEXT round's count job — still one job per round). Swapping
    both interpreted HOFs for Arrow kernels cut the sf1 per-round
    constant ~3x (chain storage level itself measured a wash,
    scripts/exp_bpe_r8.py).

    Generations are chained with ``localCheckpoint`` (lineage
    TRUNCATION), not ``persist`` (lineage-preserving cache): with an
    Arrow-kernel chain on a repartitioned base, the persist chain's
    cache lookups stopped hitting past ~12 generations and each round
    re-derived the whole chain — per-round wall DOUBLED round over
    round until the driver OOMed (measured: flat 0.4 s/round to r12,
    then 0.7/1.0/2.3/4.8/6.6/13.3 and heap exhaustion at r19 on
    local[4]/4g; identical loop with localCheckpoint: 0.4 s/round
    flat through r20). Truncation makes each generation's plan
    depth-1 regardless of R — the property an iterative trainer
    actually needs; old checkpoint blocks are released by the
    ContextCleaner as the Python references drop out of the
    two-variable window."""
    from .common import spread

    syms = spread(docs.select(F.split("text", " ").alias("s")), bytes_per_split=256 * 1024)
    # each round's rewritten symbol table is persisted: round r's count
    # job otherwise re-executes the whole merge chain 1..r-1 over the
    # corpus (lazy lineage), turning R rounds into O(R^2) corpus passes
    # — the same localCheckpoint discipline the connected-components
    # iteration uses. Measured at sf1: 10.5 s -> 8.9 s for R=3; the
    # gap widens with R. All intermediates unpersist before returning.
    # Only TWO generations live in the cache at any time. Generation
    # g is read by two jobs — round g+1's count, and the first action
    # that materializes generation g+1 (round g+2's count) — so it can
    # be unpersisted exactly when generation g+1 is known-cached:
    # right after round g+2's collect. The round-6 version kept all R
    # generations cached until the end — at R=20 that is 20 corpus
    # copies of storage pressure for zero reuse. The chain level is a
    # documented decision (scripts/exp_persist_levels_r7.py numbers in
    # BASELINE.md r7 addendum): each generation is written once and
    # read at most twice, so the level trades memory pressure against
    # one cheap re-read; MEMORY_AND_DISK is kept (the two-generation
    # window already bounds footprint — at 100 TB set
    # spark.memory.storageFraction low or switch the chain to
    # DISK_ONLY, same plan).
    merges = []
    for rnd in range(1, rounds + 1):
        counts = (
            syms.mapInPandas(_bpe_count_kernel, "lhs string, rhs string, n long")
            .groupBy("lhs", "rhs")
            .agg(F.sum("n").alias("n"))
        )
        top = counts.orderBy(F.desc("n"), "lhs", "rhs").limit(1).collect()
        if not top:
            break
        x, y, n = top[0]["lhs"], top[0]["rhs"], top[0]["n"]
        merges.append((rnd, x, y, n))
        # eager=False: the checkpoint materializes inside the next
        # round's count job, keeping one job per round
        syms = _bpe_rewrite_mapped(syms, x, y).localCheckpoint(eager=False)
    return merges


def _bpe_round_sql(prev: str, rnd: int) -> str:
    """One unrolled BPE round: count -> argmax -> positional rewrite.
    The rewrite is two window levels (lead to see the next symbol, lag
    of the match flag to drop consumed positions); `pos` keeps original
    order across rounds (gaps are fine — only relative order matters).

    s{r}/m{r} are MATERIALIZED: each round references its predecessor
    twice (the count and the rewrite), so inlined CTEs expand the plan
    2^R-fold — at R=20 that exhausted file handles before it exhausted
    time. Materialization makes the oracle's execution R linear passes,
    the same shape as the Spark trainer's persist chain."""
    return f"""
c{rnd} AS (
  SELECT sym AS lhs, nx AS rhs, count(*) AS n FROM (
    SELECT sym, lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nx
    FROM {prev}
  ) WHERE nx IS NOT NULL AND sym <> nx GROUP BY 1, 2
),
m{rnd} AS MATERIALIZED (SELECT lhs, rhs, n FROM c{rnd} ORDER BY n DESC, lhs, rhs LIMIT 1),
s{rnd} AS MATERIALIZED (
  SELECT doc_id, pos,
         CASE WHEN mtch THEN sym || ' ' || nx ELSE sym END AS sym
  FROM (
    SELECT doc_id, pos, sym, nx, mtch,
           lag(mtch) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_mtch
    FROM (
      SELECT t.doc_id, t.pos, t.sym,
             lead(t.sym) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS nx,
             (t.sym = m{rnd}.lhs
              AND lead(t.sym) OVER (PARTITION BY t.doc_id ORDER BY t.pos) = m{rnd}.rhs) AS mtch
      FROM {prev} t, m{rnd}
    )
  ) WHERE NOT COALESCE(prev_mtch, FALSE)
)"""


def _bpe_sql(rounds: int) -> str:
    return (
        """
WITH s0 AS MATERIALIZED (
  SELECT doc_id, u.i AS pos, t[u.i] AS sym
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(range(1, len(t) + 1)) AS u(i)
),"""
        + ",".join(_bpe_round_sql(f"s{r - 1}", r) for r in range(1, rounds + 1))
        + "\n"
        + "\nUNION ALL\n".join(
            f"SELECT {r} AS round, lhs, rhs, CAST(n AS BIGINT) AS n_occurrences FROM m{r}"
            for r in range(1, rounds + 1)
        )
    )


BPE_SQL = _bpe_sql(_BPE_ROUNDS)

# Non-toy trainer depth (round 7, VERDICT r6 #7). R=20 exercises what
# the R=3 toy cannot: merged symbols joining follow-on merges (chained
# growth), the persist chain's depth behavior, and count decay across
# rounds. The oracle stays the fully-unrolled SQL — at the driver's
# sf0.01 gate DuckDB evaluates all 20 window rounds in a few seconds,
# so no depth cap is needed yet; the Python-reference equivalence test
# (tests/test_curation.py) independently checks the trainer at full
# depth, the fallback pattern if a future depth outgrows the oracle.
_BPE_DEEP_ROUNDS = 20


def bpe_train_merges_deep(spark, sf_dir):
    """`bpe_train_merges` at production-shaped depth R=20 — same
    per-round plan (ONE partial-aggregated pair-count shuffle + a 1-row
    argmax collect + a map-only rewrite), so cost is R linear corpus
    passes with the persist chain pinning lineage flat (without it
    round r re-runs merges 1..r-1: O(R^2) passes)."""
    spark_df = load(spark, sf_dir, "documents")
    return spark.createDataFrame(
        bpe_merges_from(spark_df, _BPE_DEEP_ROUNDS),
        "round int, lhs string, rhs string, n_occurrences long",
    )


BPE_DEEP_SQL = _bpe_sql(_BPE_DEEP_ROUNDS)


def bpe_apply_tokenize(spark, sf_dir):
    """Tokenizer APPLICATION: train the R merges (same trainer as
    `bpe_train_merges`), then rewrite every document and report the
    per-doc compression — (doc_id, n_syms_before, n_syms_after,
    n_merges_applied). The application half is the part that runs over
    the full 100 TB corpus in production, and it is a PURE MAP: R
    chained in-row array rewrites, no shuffle at any scale (the only
    shuffles are the trainer's R pair-count aggregations)."""
    docs = load(spark, sf_dir, "documents")
    merges = bpe_merges_from(docs, _BPE_ROUNDS)
    df = docs.select("doc_id", F.split("text", " ").alias("s")).withColumn(
        "n_before", F.size("s").cast("long")
    )
    for _rnd, x, y, _n in merges:
        df = _apply_merge(df, x, y)
    return df.select(
        "doc_id",
        F.col("n_before").alias("n_syms_before"),
        F.size("s").cast("long").alias("n_syms_after"),
        (F.col("n_before") - F.size("s")).cast("long").alias("n_merges_applied"),
    )


BPE_APPLY_SQL = (
    """
WITH s0 AS (
  SELECT doc_id, u.i AS pos, t[u.i] AS sym
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(range(1, len(t) + 1)) AS u(i)
),"""
    + ",".join(_bpe_round_sql(f"s{r - 1}", r) for r in range(1, _BPE_ROUNDS + 1))
    + f"""
SELECT b.doc_id, b.n AS n_syms_before, a.n AS n_syms_after,
       b.n - a.n AS n_merges_applied
FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s0 GROUP BY 1) b
JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s{_BPE_ROUNDS} GROUP BY 1) a
  USING (doc_id)
"""
)


# ------------------------------------------------- cross-source overlap


def corpus_overlap_matrix(spark, sf_dir):
    """Distinct 5-gram overlap between every pair of sources:
    (source_a, source_b, n_common, n_a, n_b, jaccard) for a < b with
    at least one shared shingle — the provenance/contamination audit
    that tells a corpus curator which feeds are re-crawls of each
    other before mixing weights are chosen.

    Scale shape (round-7 bitmask rewrite): NEVER a shingle-keyed
    self-join, which at 100 TB re-shuffles the corpus against itself.
    Sources are a bounded DIMENSION (like nation/region), so the
    per-shingle source set is a 64-bit BITMASK: ONE corpus shuffle
    (groupBy(shingle) with a codegen'd bit_or — in-doc/in-source
    repeats just re-OR the same bit, so no distinct pass is needed)
    collapses the corpus to distinct shingles; a second,
    partial-aggregated-to-almost-nothing shuffle rolls masks up to
    (mask, n_shingles) — bounded by observed source COMBINATIONS — and
    every downstream op (pair expansion inside the mask, diagonal
    sizes, jaccard assembly) runs on that tiny table. The previous
    collect_set formulation paid an object-aggregation buffer per
    shingle: 7.4 s vs 3.4 s cold at sf1, 0.94 vs 0.57 at sf0.1
    (min-of-3, cache dropped between passes), identical output.

    The source list itself is fetched once at plan build (a bounded
    driver job — in production it is catalog metadata, the IVF
    centroid precedent); >64 sources falls back to
    `overlap_matrix_from_sets`, the collect_set shape with no
    cardinality bound."""
    return overlap_matrix_from(load(spark, sf_dir, "documents"))


def _overlap_assemble(common, za, zb):
    """Final jaccard assembly from (source_a, source_b, n_common) plus
    the two broadcast diagonal slices."""
    return (
        common.join(za, "source_a")
        .join(zb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def overlap_matrix_from(docs):
    """DataFrame-level core of `corpus_overlap_matrix` (docs: source,
    text): bitmask fast path when the source dimension fits 64 bits,
    else the unbounded set-based shape."""
    from ..operators.dedup import word_shingles

    srcs = sorted(r[0] for r in docs.select("source").distinct().collect())
    if len(srcs) > 64:
        return overlap_matrix_from_sets(docs)
    m = F.create_map(*[x for i, s in enumerate(srcs) for x in (F.lit(s), F.lit(i))])
    sh = word_shingles(docs, id_col="source", text_col="text", n=5, distinct=False)
    masks = (
        sh.select(m[F.col("source")].alias("idx"), "shingle")
        .select(F.expr("shiftleft(1L, idx)").alias("bit"), "shingle")
        .groupBy("shingle")
        .agg(F.bit_or("bit").alias("mask"))
    )
    mcnt = masks.groupBy("mask").agg(F.count(F.lit(1)).alias("cnt"))
    idxs = F.expr(f"filter(sequence(0, {len(srcs) - 1}), b -> ((mask >> b) & 1) = 1)")
    # each mask row explodes to its source pairs (a < b) PLUS per-source
    # diagonal structs (a, a): one tiny groupBy then carries both the
    # pair commons and the per-source sizes — no separate sizes branch
    # over corpus-sized data. The mask->count intermediate stage stays:
    # an A/B that exploded pairs straight off the distinct-shingle
    # table (skipping it) lost 0.65 -> 0.85 s at sf0.1 — with 20
    # sources the pair expansion is up to ~200 structs per row, and
    # running it on corpus-sized distinct shingles instead of the
    # handful of distinct masks costs far more than the stage saves.
    pairs_and_diag = F.flatten(
        F.transform(
            idxs,
            lambda a, i: F.concat(
                F.array(F.struct(a.alias("a"), a.alias("b"))),
                F.transform(
                    F.slice(idxs, i + 2, F.size(idxs)),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            ),
        )
    )
    agg = (
        mcnt.select(F.explode(pairs_and_diag).alias("p"), "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("n"))
    )
    # diagonal lookup via ONE single-partition window over the
    # <= n_src^2-row agg instead of persist + two broadcast slices +
    # two joins: a collect_list window builds the (source -> diagonal
    # n) map once, and every pair row reads n_a/n_b out of it. Same
    # rows, one plan chain, one tiny Exchange (round-8 job census: the
    # persist materialization and each broadcast were separate
    # scheduled jobs — pure per-query floor at sf0.1, and two fewer
    # passes over the pair table at any scale). The diagonal row
    # (k, k) always exists because pairs_and_diag emits it for every
    # source in idxs; collect_list skips the NULLs the when() leaves
    # on non-diagonal rows.
    from pyspark.sql import Window

    dmap = F.map_from_entries(
        F.collect_list(
            F.when(F.col("a") == F.col("b"), F.struct("a", "n"))
        ).over(Window.partitionBy())
    )
    names = F.array(*[F.lit(s) for s in srcs])
    return (
        agg.withColumn("_d", dmap)
        .where(F.col("a") != F.col("b"))
        .withColumn("n_a", F.element_at("_d", F.col("a")))
        .withColumn("n_b", F.element_at("_d", F.col("b")))
        .select(
            F.element_at(names, F.col("a") + 1).alias("source_a"),
            F.element_at(names, F.col("b") + 1).alias("source_b"),
            F.col("n").alias("n_common"),
            "n_a",
            "n_b",
            F.round(
                F.col("n").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n")),
                6,
            ).alias("jaccard"),
        )
    )


def overlap_matrix_from_sets(docs):
    """Unbounded-cardinality fallback: per-shingle source SETS via
    collect_set (object aggregation — measured 2.2x the bitmask path;
    see corpus_overlap_matrix docstring), pair expansion inside the
    bounded per-shingle array."""
    from ..operators.dedup import word_shingles

    sh = word_shingles(
        docs, id_col="source", text_col="text", n=5, distinct=True
    ).persist()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inv = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    common = (
        inv.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    zb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    return _overlap_assemble(common, za, zb)


OVERLAP_MATRIX_SQL = """
WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT source, array_to_string(t[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 3, 1))) AS u(i)
),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
       round(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes za ON za.source = common.source_a
JOIN sizes zb ON zb.source = common.source_b
"""


# ----------------------------------------- DSIR selection (resampling)

# DSIR's second half: having SCORED every document, SELECT the k to
# keep. Sampling without replacement with probability ∝ exp(weight) is
# exactly Gumbel-top-k (add an independent Gumbel noise term to each
# weight, take the k largest) — and a DETERMINISTIC Gumbel comes from
# the same engine-portable md5 derivation the Bloom/CMS lanes use:
# u = (48-bit md5 lane + 0.5) / 2^48 is a uniform in (0,1) exactly
# representable in a double, g = -ln(-ln(u)) its Gumbel transform
# (rounded to 6 decimals per the repo's transcendental convention).
# Seeded reruns are reproducible and auditable — the property a
# production data-selection job needs for dataset lineage.

_SELECT_K = 100
_SELECT_SEED = "sel1"


def _u48_sql(hex_col: str) -> str:
    """Uniform-(0,1) SQL text from the leading 48 bits (12 hex chars)
    of an md5-hex column — nibble-lookup text valid and identical in
    Spark SQL and DuckDB (the _bloom_lane_sql idiom); 48 bits keep the
    integer exactly representable in the double division."""
    # each nibble CAST to BIGINT before the scale multiply: Spark under
    # ANSI keeps sub-2^31 literals INT and int*int overflows at scale
    # 16^7 and up
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substr({hex_col}, {c + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (11 - c)}"
        for c in range(12)
    )
    return f"((({terms}) + 0.5) / {float(1 << 48)})"


def dsir_select_topk(spark, sf_dir):
    """Importance RESAMPLING: the k=100 documents selected by
    Gumbel-top-k over the DSIR log-importance weights (sampling
    without replacement ∝ exp(weight), derandomized via the md5
    uniform). Output: (rank, doc_id, log_importance, gumbel,
    sample_key).

    Scale shape: the dsir scoring plan (two corpus shuffles) + a
    map-side Gumbel column + TakeOrdered(k) — selection itself adds no
    wide shuffle at any corpus size; the final rank window runs on k
    rows."""
    from pyspark.sql import Window

    w = dsir_importance_from(load(spark, sf_dir, "documents"))
    scored = w.selectExpr(
        "doc_id",
        "log_importance",
        f"md5(concat('{_SELECT_SEED}:', cast(doc_id as string))) AS h",
    ).selectExpr(
        "doc_id",
        "log_importance",
        f"round(-ln(-ln({_u48_sql('h')})), 6) AS gumbel",
    )
    sel = (
        scored.withColumn(
            "sample_key", F.col("log_importance") + F.col("gumbel")
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_SELECT_K)
    )
    rk = Window.orderBy(F.desc("sample_key"), "doc_id")
    return sel.withColumn("rank", F.row_number().over(rk)).select(
        "rank", "doc_id", "log_importance", "gumbel", "sample_key"
    )


DSIR_SELECT_SQL = f"""
WITH w AS ({DSIR_SQL}),
scored AS (
  SELECT doc_id, log_importance,
         md5('{_SELECT_SEED}:' || cast(doc_id AS VARCHAR)) AS h
  FROM w
),
g AS (
  SELECT doc_id, log_importance,
         round(-ln(-ln({_u48_sql('h')})), 6) AS gumbel
  FROM scored
),
sel AS (
  SELECT doc_id, log_importance, gumbel,
         log_importance + gumbel AS sample_key
  FROM g ORDER BY sample_key DESC, doc_id LIMIT {_SELECT_K}
)
SELECT CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id) AS INTEGER) AS rank,
       doc_id, log_importance, gumbel, sample_key
FROM sel
"""


# ---------------------------------------------------- split & mixing


_SPLIT_SEED = "split1"
_TEMP_T = 2.0  # mixing temperature (1 = proportional, inf = uniform)
_TEMP_BUDGET = 200  # target sample size for the rate computation


def corpus_group_split(spark, sf_dir):
    """Leakage-free train/val/test split: the split is a DETERMINISTIC
    function of the GROUP (source), never the document, so correlated
    documents (same crawl/feed — the unit near-dups cluster within)
    can never straddle splits; re-runs and late-arriving docs land
    identically. Assignment: u = md5-derived uniform of the source
    name; u < .8 train, < .9 val, else test — the standard hash-split
    a training-data pipeline runs before any mixing/packing.

    Scale shape: the per-doc assignment is a map-side expression (hash
    of a row column against two literals); the only shuffle is the
    3-row report aggregation. Output: (split, n_sources, n_docs,
    n_chars)."""
    docs = load(spark, sf_dir, "documents")
    u = _u48_sql("h")
    return (
        docs.selectExpr(
            "source",
            "n_chars",
            f"md5('{_SPLIT_SEED}:' || source) AS h",
        )
        .selectExpr(
            "source",
            "n_chars",
            f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'val' "
            "ELSE 'test' END AS split",
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


GROUP_SPLIT_SQL = f"""
WITH h AS (SELECT source, n_chars, md5('{_SPLIT_SEED}:' || source) AS h FROM documents),
a AS (
  SELECT source, n_chars,
         CASE WHEN {_u48_sql("h")} < 0.8 THEN 'train'
              WHEN {_u48_sql("h")} < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM h
)
SELECT split, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM a GROUP BY split
"""


def corpus_temperature_sample(spark, sf_dir):
    """Temperature-scaled domain mixing (the Gopher/LLaMA data-recipe
    shape): target weight per source ∝ share^(1/T) with T=2,
    flattening the domain distribution toward uniform; each source's
    per-doc keep-rate is min(1, budget * w / n), and per-doc inclusion
    is derandomized through the md5 uniform (reproducible across
    engines and re-runs — no rand()). Output per source: n_docs, the
    rounded raw share, target weight, keep rate, and the number of
    docs the deterministic gate actually selected.

    Scale shape: one tiny per-source count aggregation broadcast back
    onto a map-side inclusion filter; no corpus-wide shuffle at any
    size (the report reduces per source). The same plan at 100 TB
    streams the corpus once against a broadcast rate table."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("nt"))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n",
            "round(CAST(n AS DOUBLE) / nt, 6) AS share",
            f"round(exp(ln(CAST(n AS DOUBLE) / nt) / {_TEMP_T}), 6) AS wraw",
        )
    )
    wsum = rates.agg(F.sum("wraw").alias("ws"))
    rates = rates.crossJoin(F.broadcast(wsum)).selectExpr(
        "source",
        "n",
        "share",
        "round(wraw / ws, 6) AS w",
        f"round(least(1.0, {_TEMP_BUDGET} * (wraw / ws) / n), 6) AS keep_rate",
    )
    # project the md5 hex ONCE before the 12-nibble parse — inlining it
    # into each term is not CSE'd (the _bloom_lane_sql precedent)
    sel = (
        docs.join(F.broadcast(rates), "source")
        .selectExpr(
            "source",
            "n",
            "share",
            "w",
            "keep_rate",
            f"md5('{_SPLIT_SEED}:' || CAST(doc_id AS STRING)) AS h",
        )
        .selectExpr(
            "source",
            "n",
            "share",
            "w",
            "keep_rate",
            f"CASE WHEN {_u48_sql('h')} < keep_rate THEN 1 ELSE 0 END AS sel",
        )
        .groupBy("source", "n", "share", "w", "keep_rate")
        .agg(F.sum("sel").alias("n_selected"))
    )
    return sel.select(
        "source",
        F.col("n").alias("n_docs"),
        "share",
        "w",
        "keep_rate",
        "n_selected",
    )


TEMPERATURE_SAMPLE_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nt FROM counts),
r0 AS (
  SELECT source, n, round(n / nt, 6) AS share,
         round(exp(ln(n / nt) / {_TEMP_T}), 6) AS wraw
  FROM counts, tot
),
ws AS (SELECT SUM(wraw) AS ws FROM r0),
rates AS (
  SELECT source, n, share, round(wraw / ws, 6) AS w,
         round(least(1.0, {_TEMP_BUDGET} * (wraw / ws) / n), 6) AS keep_rate
  FROM r0, ws
),
hx AS (
  SELECT d.source, r.n, r.share, r.w, r.keep_rate,
         md5('{_SPLIT_SEED}:' || CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d JOIN rates r USING (source)
),
sel AS (
  SELECT source, n, share, w, keep_rate,
         CASE WHEN {_u48_sql('h')} < keep_rate THEN 1 ELSE 0 END AS sel
  FROM hx
)
SELECT source, CAST(n AS BIGINT) AS n_docs, share, w, keep_rate,
       CAST(SUM(sel) AS BIGINT) AS n_selected
FROM sel GROUP BY source, n, share, w, keep_rate
"""


_PACK_BUDGET = 256  # tokens per packed training sequence
_PACK_SHARD = 200  # docs per independent packing shard


def corpus_pack_sequences(spark, sf_dir):
    """Context-window sequence packing (concat-and-chunk, the standard
    pretraining layout): documents are concatenated in deterministic
    order and cut at fixed ``_PACK_BUDGET``-token boundaries; the
    output is the per-document placement index a training data loader
    consumes — (shard, doc_id, n_tokens, start_off, bin_first,
    bin_last, offset_in_bin), where a doc spanning bins is split
    across consecutive sequences exactly as GPT-style packing does.

    Scale shape: a GLOBAL running offset would serialize the corpus
    through one ordered partition, so packing is SHARDED — the
    production unit is the input shard/file, here the deterministic
    ``doc_id // _PACK_SHARD`` — and each shard packs independently
    (embarrassingly parallel, bin ids are per-shard). ONE hash
    Exchange on shard + an in-partition sort; the cumulative offset is
    a window running sum, all integer arithmetic (bitwise
    cross-engine, no doubles anywhere)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.expr(f"doc_id div {_PACK_SHARD}").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_off",
        F.expr(f"start_off div {_PACK_BUDGET}").alias("bin_first"),
        F.expr(f"(start_off + n_tokens - 1) div {_PACK_BUDGET}").alias("bin_last"),
        (F.col("start_off") % _PACK_BUDGET).alias("offset_in_bin"),
    )


PACK_SEQUENCES_SQL = f"""
WITH d AS (
  SELECT doc_id // {_PACK_SHARD} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_off
  FROM d
)
SELECT shard, doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS bin_first,
       CAST((start_off + n_tokens - 1) // {_PACK_BUDGET} AS BIGINT) AS bin_last,
       CAST(start_off % {_PACK_BUDGET} AS BIGINT) AS offset_in_bin
FROM c
"""


def split_leakage_audit(spark, sf_dir):
    """Decontamination audit: assign every document to train/val/test
    by a NAIVE per-doc hash split (the split `corpus_group_split`
    exists to avoid), then count verified near-dup pairs by the split
    cell they land in. Off-diagonal cells (split_a <> split_b) are
    LEAKED pairs — evaluation contamination a per-doc split cannot
    prevent because near-dups hash independently. The audit a pipeline
    runs to justify group-keyed splitting.

    Scale shape: the split label is a pure map-side function of the
    pair's own id columns (md5 + threshold CASE — no join back to the
    corpus), so beyond the dedup pipeline itself the audit adds one
    3x3-cell aggregation of the skinny pair list."""
    from ..operators.dedup import minhash_lsh_dedup_mapped
    from .dedup import _dup_corpus

    pairs = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))

    def lab(col):
        h = f"md5('{_SPLIT_SEED}:doc:' || CAST({col} AS STRING))"
        u = _u48_sql(h)
        return (
            f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'val' "
            "ELSE 'test' END"
        )

    return (
        pairs.selectExpr(f"{lab('doc_a')} AS sa", f"{lab('doc_b')} AS sb")
        .selectExpr(
            "least(sa, sb) AS split_a",
            "greatest(sa, sb) AS split_b",
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _leak_lab_sql(col: str) -> str:
    h = f"md5('{_SPLIT_SEED}:doc:' || CAST({col} AS VARCHAR))"
    u = _u48_sql(h)
    return (
        f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'val' "
        "ELSE 'test' END"
    )


def _split_leakage_sql() -> str:
    from .dedup import DEDUP_MINHASH_SQL

    return f"""
WITH pairsq AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z),
lab AS (
  SELECT {_leak_lab_sql('doc_a')} AS sa, {_leak_lab_sql('doc_b')} AS sb
  FROM pairsq
)
SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       count(*) AS n_pairs
FROM lab GROUP BY least(sa, sb), greatest(sa, sb)
"""


# ------------------------------------------------------- source KL audit


def corpus_source_kl(spark, sf_dir):
    """Per-source token-distribution divergence vs the whole corpus:
    KL(p_source || p_corpus) over unigram distributions, plus token /
    type totals — the corpus-mixing diagnostic that flags a source
    whose language is drifting from the blend (the complement of
    `corpus_overlap_matrix`'s exact-content overlap: this measures
    DISTRIBUTIONAL distance).

    Scale shape (round 11): the (source, token) counts fold off the
    SHARED materialized (doc, token, tf, source) projection — sum(tf)
    grouped by (source, token), the only remaining shuffle, over 16M
    pre-counted cache rows instead of the raw token explode — then
    persist for the three consumers (global vocab counts, per-source
    totals, term scoring); the term join is vocab-sized on token (left
    to AQE); per-source totals are a broadcast; the final fold is a
    |sources|-cardinality groupBy. No driver state, no collect.

    Cross-engine determinism: probabilities are IEEE divisions of
    identical long-derived doubles (explicit double casts pin operand
    kinds in both engines); the single transcendental (`ln`) result is
    rounded to 6 decimals before the p-weighted fold (module-doc
    convention), and the fold itself uses the decimal-exact idiom
    (`dsum`) so association order cannot reorder ulps. Counts stay
    long; products of counts are never formed (the p/q ratio divides
    first), so there is no integer-overflow envelope."""
    from pyspark import StorageLevel

    from .common import dsum

    from .tokcache import doc_tf

    st = (
        doc_tf(spark, sf_dir)
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.sum("tf").alias("cnt"))
        .persist(StorageLevel.DISK_ONLY)  # vocab-sized; 3 consumers
    )
    g = st.groupBy("token").agg(F.sum("cnt").alias("gcnt"))
    ns = st.groupBy("source").agg(
        F.sum("cnt").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    tot = st.agg(F.sum("cnt").cast("double").alias("nn"))
    p = F.col("cnt").cast("double") / F.col("n_tokens").cast("double")
    q = F.col("gcnt").cast("double") / F.col("nn")
    terms = (
        st.join(g, "token")
        .join(F.broadcast(ns.select("source", "n_tokens")), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", (p * F.round(F.log(p / q), 6)).alias("c"))
    )
    kl = terms.groupBy("source").agg(
        F.round(dsum("c"), 6).alias("kl_vs_corpus")
    )
    return ns.join(kl, "source").select(
        "source", "n_tokens", "n_types", "kl_vs_corpus"
    )


SOURCE_KL_SQL = f"""
WITH st AS (
  SELECT source, token, count(*) AS cnt
  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY source, token
),
g AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM st GROUP BY token),
ns AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_types
  FROM st GROUP BY source
),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS nn FROM st),
terms AS (
  SELECT s.source,
         (CAST(s.cnt AS DOUBLE) / CAST(n.n_tokens AS DOUBLE))
           * round(ln((CAST(s.cnt AS DOUBLE) / CAST(n.n_tokens AS DOUBLE))
                      / (CAST(g.gcnt AS DOUBLE) / t.nn)), 6) AS c
  FROM st s
  JOIN g USING (token)
  JOIN ns n USING (source), tot t
),
kl AS (
  SELECT source, round({DSUM('c')}, 6) AS kl_vs_corpus
  FROM terms GROUP BY source
)
SELECT source, n_tokens, n_types, kl_vs_corpus
FROM ns JOIN kl USING (source)
"""


# ------------------------------------------------- budgeted selection

_BUDGET_SHARDS = 64  # quality-range shards for the two-phase prefix sum


def corpus_budget_select(spark, sf_dir):
    """Token-budget-constrained corpus selection (the greedy knapsack
    relaxation every "train on the best N tokens" data recipe runs):
    rank documents by quality density (type/token ratio, 6dp), take
    them in order while the cumulative token count stays within a
    budget of 1/4 of the corpus tokens. Output: the selected docs with
    their running total.

    Scale shape — the global ORDER BY + running SUM is the classic
    single-partition WindowExec trap (the ntile_quartiles lesson:
    23 s at sf10), so it runs as the CUSUM two-phase sharded prefix
    sum: quality in [0, 1] buckets into 64 value-range shards (equal
    quality can never straddle shards, so cross-shard order is exact);
    carry-in offsets come from a 64-row shard spine (bounded global
    window); the per-shard running sums are ordinary PARALLEL windows
    partitioned by shard. Budget arithmetic is exact integer
    (shiftright-by-2 == // 4); quality ordering uses the 6dp-rounded
    ratio of exact longs with doc_id ties, so selection is
    engine-independent."""
    from pyspark.sql.window import Window

    from pyspark import StorageLevel

    from .tokcache import doc_tf

    # tf comes from the shared materialized (doc, token, tf) projection
    # (queries/tokcache.py, VERDICT r10 #4 — this query previously paid
    # its own corpus explode + (doc, token) shuffle, the measured 6.3 s
    # floor at sf10); the per-doc fold below is Exchange-free off the
    # doc_id bucket spec. The two-phase tf shape (not countDistinct)
    # stays: the Expand a distinct-agg plans moves 2x the token rows
    # (A/B at sf10: 8.16 vs 6.27 s when this stage was inline).
    tok = (
        doc_tf(spark, sf_dir)
        .where(F.col("token") != "")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )
    q = tok.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("quality"),
    ).withColumn(
        "shard",
        F.least(
            F.floor(F.col("quality") * _BUDGET_SHARDS), F.lit(_BUDGET_SHARDS - 1)
        ).cast("int"),
    ).persist(StorageLevel.DISK_ONLY)
    spine = q.groupBy("shard").agg(F.sum("n_tokens").alias("stok"))
    w_spine = Window.orderBy(F.desc("shard"))  # bounded: <= 64 rows
    offs = spine.select(
        "shard",
        (F.sum("stok").over(w_spine) - F.col("stok")).alias("carry"),
    )
    total = spine.agg(F.sum("stok").alias("t"))
    budget = F.shiftright(F.col("t"), 2)  # exact t // 4 (t >= 0)
    w_shard = Window.partitionBy("shard").orderBy(F.desc("quality"), "doc_id")
    return (
        q.join(F.broadcast(offs), "shard")
        .withColumn(
            "cum_tokens", F.col("carry") + F.sum("n_tokens").over(w_shard)
        )
        .crossJoin(F.broadcast(total))
        .where(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "quality", "cum_tokens")
    )


BUDGET_SELECT_SQL = """
WITH tok AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT token) AS BIGINT) AS n_types
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY doc_id
),
q AS (
  SELECT doc_id, n_tokens,
         round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS quality
  FROM tok
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM q),
c AS (
  SELECT doc_id, n_tokens, quality,
         CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT doc_id, n_tokens, quality, cum_tokens
FROM c, tot WHERE cum_tokens <= t // 4
"""


QUERIES = {
    "split_leakage_audit": QuerySpec(
        split_leakage_audit,
        _split_leakage_sql(),
        "near-dup pairs crossing a naive per-doc hash split (contamination audit)",
    ),
    "corpus_pack_sequences": QuerySpec(
        corpus_pack_sequences,
        PACK_SEQUENCES_SQL,
        "concat-and-chunk context-window packing: per-doc placement index",
    ),
    "corpus_group_split": QuerySpec(
        corpus_group_split,
        GROUP_SPLIT_SQL,
        "leakage-free hash split by source group (train/val/test report)",
    ),
    "corpus_temperature_sample": QuerySpec(
        corpus_temperature_sample,
        TEMPERATURE_SAMPLE_SQL,
        "temperature-scaled domain mixing rates + deterministic per-doc selection",
    ),
    "dsir_importance": QuerySpec(
        dsir_importance,
        DSIR_SQL,
        "DSIR hashed-bigram importance weight vs the en-slice target distribution",
    ),
    "bpe_train_merges": QuerySpec(
        bpe_train_merges,
        BPE_SQL,
        "first 3 BPE merge rounds (global pair argmax + map-only rewrite per round)",
    ),
    "bpe_train_merges_deep": QuerySpec(
        bpe_train_merges_deep,
        BPE_DEEP_SQL,
        "BPE trainer at depth R=20 (chained merges; persist chain keeps lineage flat)",
    ),
    "bpe_apply_tokenize": QuerySpec(
        bpe_apply_tokenize,
        BPE_APPLY_SQL,
        "apply the learned BPE merges corpus-wide: per-doc symbol compression stats",
    ),
    "corpus_overlap_matrix": QuerySpec(
        corpus_overlap_matrix,
        OVERLAP_MATRIX_SQL,
        "pairwise distinct-5-gram overlap between sources (inverted index, no self-join)",
    ),
    "dsir_select_topk": QuerySpec(
        dsir_select_topk,
        DSIR_SELECT_SQL,
        "Gumbel-top-k importance resampling over the DSIR weights (deterministic seed)",
    ),
    "corpus_source_kl": QuerySpec(
        corpus_source_kl,
        SOURCE_KL_SQL,
        "per-source unigram KL divergence vs the corpus blend (mixing drift audit)",
    ),
    "corpus_budget_select": QuerySpec(
        corpus_budget_select,
        BUDGET_SELECT_SQL,
        "token-budget greedy selection by quality density (two-phase sharded prefix sum)",
    ),
}
