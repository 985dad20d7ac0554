"""Deduplication queries (north-star ops) over `documents`, each with a
full DuckDB oracle.

The exact/minhash queries run over a *duplicated corpus* (documents
UNION ALL documents with shifted ids) so the dedup operators have real
duplicates to find — every doc has exactly one known twin, plus any
organic near-dups the data contains.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_dedup_mapped,
    ngram_jaccard_blocked,
    prefix_filter_jaccard_join,
    simhash_fingerprints_mapped,
)
from .. import layouts
from . import QuerySpec
from .common import load, twin_shift

ID_SHIFT = 1_000_000


def _shift(spark, sf_dir) -> int:
    """Planted-twin id offset for this module's corpora: exactly
    ID_SHIFT at every oracle scale (sf<=0.1 — the static oracle SQL
    embeds the literal), derived collision-free above it
    (common.twin_shift; ADVICE r13)."""
    return twin_shift(spark, sf_dir, floor=ID_SHIFT)

# Shared oracle CTE fragments ------------------------------------------------

CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""


# Round-8 minhash scheme shared by every minhash oracle: per shingle
# ONE md5; a/b = the LE-u32 halves of digest bytes [0,8) (DuckDB's
# md5_number_upper % / // 2^32 — byte mapping verified vs hashlib);
# hash k = (a + k*b) mod 2^32 (Carter-Wegman), min per (doc, k).
# Mirrors operators.dedup._batch_lane_minhashes / minhash_signatures.
def _mh_min_sql(shingle_src: str) -> str:
    # ONE md5 per shingle (the sub-select materializes the u64 before
    # the 16-way k fan-out; inlining md5_number_upper into the k rows
    # would hash each shingle 32x), and ALL-BIGINT lane arithmetic —
    # a/b < 2^32 and k <= 15 keep every term under 2^36, and letting
    # the UBIGINT/HUGEINT coercion reach the min() aggregate measured
    # 2x on the full sf0.1 oracle (0.61 -> 0.29 s). The oracle twin
    # must stay at the engine's best — its wall is the bench
    # denominator.
    return f"""
  SELECT doc_id, k,
         min((CAST(u % 4294967296 AS BIGINT) + k * CAST(u // 4294967296 AS BIGINT)) % 4294967296) AS h
  FROM (SELECT doc_id, md5_number_upper(shingle) AS u FROM {shingle_src}) ab,
       (SELECT unnest(range(0, 16)) AS k) ks
  GROUP BY doc_id, k
"""


def _shingle_cte(src: str) -> str:
    """Distinct 3-gram word shingles per doc (mirrors
    operators.dedup.word_shingles)."""
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
)
"""


def _dup_corpus(spark, sf_dir):
    """documents + a 10% duplicated slice (shifted ids) — a corpus with
    known twins for the dedup operators to find."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _shift(spark, sf_dir)).alias("doc_id"), "text"
    )
    return docs.unionByName(shifted)


# ---------------------------------------------------------------- queries


def dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groupBy, keeper = min id."""
    return exact_dedup(_dup_corpus(spark, sf_dir))


DEDUP_EXACT_SQL = f"""
WITH {CORPUS_CTE}
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text)
"""


def dedup_exact_normalized(spark, sf_dir):
    """Normalization-keyed exact dedup (round 12): the standard tier
    between raw byte-hash dedup and MinHash — casefold + trim +
    whitespace-collapse, then content-hash groupBy (one shuffle, same
    100 TB cost as `dedup_exact`). The test corpus plants twins raw
    hashing CANNOT catch: an uppercased slice (doc_id % 10 == 0) and a
    whitespace-mangled slice (doc_id % 10 == 5, doubled internal +
    padded edge spaces); `n_raw_variants` > 1 marks exactly the groups
    this tier collapses that raw exact dedup misses."""
    from ..operators.dedup import normalized_exact_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _shift(spark, sf_dir)
    upper_twin = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + sh).alias("doc_id"), F.upper("text").alias("text")
    )
    ws_twin = docs.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2 * sh).alias("doc_id"),
        F.concat(
            F.lit("  "), F.replace(F.col("text"), F.lit(" "), F.lit("  ")), F.lit(" ")
        ).alias("text"),
    )
    return normalized_exact_dedup(docs.unionByName(upper_twin).unionByName(ws_twin))


DEDUP_EXACT_NORM_SQL = f"""
WITH ncorpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_SHIFT} AS doc_id, upper(text) AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * ID_SHIFT} AS doc_id,
         '  ' || replace(text, ' ', '  ') || ' ' AS text
  FROM documents WHERE doc_id % 10 = 5
)
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g'))) AS norm_hash,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies,
       count(DISTINCT md5(text)) AS n_raw_variants
FROM ncorpus
GROUP BY 1
"""

_FW_UPPER = "".join(chr(0xFF21 + i) for i in range(26))  # ＡＢ…Ｚ


def dedup_exact_unicode(spark, sf_dir):
    """Normalization-keyed exact dedup on the UNICODE tier (round 14,
    VERDICT r13 #7 — the locale-robust tier above `dedup_exact_
    normalized`'s ASCII casefold): keys are NFKC -> full casefold ->
    NFKC + whitespace-collapse (`operators.dedup.normalize_key_
    unicode`, Arrow kernel — the JVM has no NFKC/casefold built-in).
    The corpus plants twin classes the ASCII tier CANNOT collapse:
    a FULLWIDTH-UPPERCASE slice (doc_id % 10 == 3, ASCII letters
    translated to Ａ-Ｚ — JVM lower() leaves fullwidth capitals as
    fullwidth smalls, so the ASCII key differs; NFKC maps them back)
    and an uppercased LIGATURE slice (% 10 == 6, 'FI' runs re-encoded
    as ﬁ U+FB01 — invisible to lower(), decomposed by NFKC). Output
    is the induced GROUPING — (keeper_id, n_copies, n_raw_variants),
    no key bytes — because the two engines legitimately differ in
    normalization primitives: DuckDB has nfc_normalize (canonical,
    not compatibility) and lower (not casefold), so the ORACLE
    derives each group from the planted twins' KNOWN base text (the
    decoration is constructed in SQL, so its undecorated form rides
    along as the canonical grouping key, ASCII-tier-normalized). A
    kernel that failed to collapse either twin class — or spuriously
    merged distinct docs — changes the grouping and hash-mismatches.
    The U+0130 caveat this tier closes out is pinned separately in
    tests/test_round14_ops.py (İ casefolds to i+U+0307 by design —
    correct Unicode, not an ASCII round-trip).

    Scale shape: identical to `dedup_exact` — one Arrow map pass
    computing the key, one groupBy on a 32-byte hash; nothing wider
    than (id, two hashes) ever shuffles."""
    from ..operators.dedup import normalized_exact_dedup_unicode

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _shift(spark, sf_dir)
    ascii_lower = "abcdefghijklmnopqrstuvwxyz"
    fw_twin = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 3 * sh).alias("doc_id"),
        F.translate(F.col("text"), ascii_lower, _FW_UPPER).alias("text"),
    )
    lig_twin = docs.where(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 4 * sh).alias("doc_id"),
        F.replace(F.upper("text"), F.lit("FI"), F.lit("ﬁ")).alias("text"),
    )
    return normalized_exact_dedup_unicode(
        docs.unionByName(fw_twin).unionByName(lig_twin)
    )


DEDUP_EXACT_UNICODE_SQL = f"""
WITH ucorpus AS (
  SELECT doc_id, text, text AS canon FROM documents
  UNION ALL
  SELECT doc_id + {3 * ID_SHIFT} AS doc_id,
         translate(text, 'abcdefghijklmnopqrstuvwxyz', '{_FW_UPPER}') AS text,
         text AS canon
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + {4 * ID_SHIFT} AS doc_id,
         replace(upper(text), 'FI', 'ﬁ') AS text,
         text AS canon
  FROM documents WHERE doc_id % 10 = 6
)
SELECT min(doc_id) AS keeper_id,
       count(*) AS n_copies,
       count(DISTINCT md5(text)) AS n_raw_variants
FROM ucorpus
GROUP BY md5(trim(regexp_replace(lower(canon), '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g')))
"""


def dedup_minhash(spark, sf_dir):
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, verified
    with exact shingle Jaccard >= 0.5 (shuffle-minimal mapInPandas
    signature plan; bitwise-equal to the relational formulation)."""
    return minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))


DEDUP_MINHASH_SQL = f"""
WITH {CORPUS_CTE},
{_shingle_cte('corpus').strip().lstrip()}
,
mh AS ({_mh_min_sql('sh')}),
bands AS (
  SELECT doc_id, k // 4 AS band, string_agg(CAST(h AS VARCHAR), '|' ORDER BY k) AS sig
  FROM mh GROUP BY doc_id, k // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5
"""


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup on the DOCUMENTS table — semantic
    dedup (catches paraphrases that shingle methods miss): documents
    join their embedding rows (doc_id == vec_id for the embedded
    subset), then blocked pairwise cosine >= threshold flags the
    duplicate-candidate doc pairs. Blocking (label = coarse cluster)
    bounds the pair space exactly as IVF cells bound ANN; the
    vectorized per-block numpy kernel is the scale path
    (operators.similarity.cosine_pairs_blocked_vectorized). Output:
    (doc_a, doc_b, cosine, n_chars_a, n_chars_b) — the char lengths
    are what a keeper-selection policy ranks on."""
    from ..operators.similarity import cosine_pairs_blocked_vectorized

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = load(spark, sf_dir, "embeddings")
    doc_emb = docs.join(
        emb, docs.doc_id == emb.vec_id
    ).select("doc_id", "embedding", "label")
    pairs = cosine_pairs_blocked_vectorized(
        doc_emb, block_col="label", threshold=0.3, id_col="doc_id"
    ).withColumnsRenamed({"vec_a": "doc_a", "vec_b": "doc_b"})
    na = docs.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("n_chars_a"))
    nb = docs.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("n_chars_b"))
    return pairs.join(na, "doc_a").join(nb, "doc_b").select(
        "doc_a", "doc_b", "cosine", "n_chars_a", "n_chars_b"
    )


_S9 = 1_000_000_000

DEDUP_EMBEDDING_SQL = f"""
WITH de AS (
  SELECT d.doc_id, d.n_chars, e.embedding, e.label
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.embedding AS ea, b.embedding AS eb
  FROM de a JOIN de b ON a.label = b.label AND a.doc_id < b.doc_id
),
terms AS (
  SELECT doc_a, doc_b,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS dt,
         CAST(floor(CAST(ea[u.i] AS DOUBLE) * CAST(ea[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS at2,
         CAST(floor(CAST(eb[u.i] AS DOUBLE) * CAST(eb[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS bt2
  FROM pairs, UNNEST(range(1, len(ea) + 1)) AS u(i)
),
sums AS (
  SELECT doc_a, doc_b, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM terms GROUP BY doc_a, doc_b
),
cos AS (
  SELECT doc_a, doc_b,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) AS cosine
  FROM sums
  WHERE CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) >= 0.3
)
SELECT c.doc_a, c.doc_b, c.cosine,
       da.n_chars AS n_chars_a, db.n_chars AS n_chars_b
FROM cos c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
"""


def dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per document (portable bit
    extraction from md5 hex; map-only plan, zero shuffles)."""
    return simhash_fingerprints_mapped(load(spark, sf_dir, "documents"))


DEDUP_SIMHASH_SQL = f"""
WITH {_shingle_cte('documents').strip()},
hx AS (SELECT doc_id, md5(shingle) AS h FROM sh),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (((strpos('0123456789abcdef', substr(h, (b // 4) + 1, 1)) - 1) >> (b % 4)) & 1) = 1
              THEN 1 ELSE -1 END AS v
  FROM hx, (SELECT unnest(range(0, 32)) AS b) bs
),
bitsum AS (SELECT doc_id, b, SUM(v) AS s FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id
"""


def dedup_ngram(spark, sf_dir):
    """Blocked all-pairs 3-gram Jaccard (blocking key: source)."""
    return ngram_jaccard_blocked(load(spark, sf_dir, "documents"), threshold=0.05)


DEDUP_NGRAM_SQL = f"""
WITH {_shingle_cte('documents').strip()},
shs AS (
  SELECT sh.doc_id, d.source, sh.shingle
  FROM sh JOIN documents d ON sh.doc_id = d.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
  FROM shs a JOIN shs b ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.05
"""


def dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard >= 3/5 self-join over the duplicated corpus via
    prefix filtering (AllPairs/PPJoin) — the no-false-negative
    counterpart to the MinHash-LSH family. Candidates come only from
    shared PREFIX shingles (rarest-first global order), so the pair
    space is bounded by rare-token collisions; output is bitwise-equal
    to brute force. The oracle IS the brute-force join — any missed or
    spurious pair hash-mismatches."""
    return prefix_filter_jaccard_join(
        _dup_corpus(spark, sf_dir), threshold_num=3, threshold_den=5
    )


DEDUP_PREFIX_SQL = f"""
WITH {CORPUS_CTE},
{_shingle_cte('corpus').strip().lstrip()}
,
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, CAST(ni AS DOUBLE) / (za.n + zb.n - ni) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE 5 * ni >= 3 * (za.n + zb.n - ni)
"""


def dedup_components(spark, sf_dir):
    """Near-dup PAIRS -> duplicate GROUPS: connected components over
    the verified MinHash-LSH pair graph; component id = min member id
    (the canonical keeper), plus the group size. The step a real dedup
    pipeline runs after LSH — keep one doc per component. Iterative
    min-label propagation (rounds = component diameter); if a
    pathological high-diameter component trips the round budget, the
    operator auto-falls-back to star contraction (identical labeling,
    diameter-independent budget), so this query never errors at scale.
    The DuckDB oracle computes the same fixpoint with a recursive CTE."""
    pairs = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return cc.join(sizes, "component").select("doc_id", "component", "component_size")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE
pairsq AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairsq UNION SELECT doc_b, doc_a FROM pairsq),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
SELECT c.doc_id, c.component, s.component_size
FROM comp c
JOIN (SELECT component, CAST(count(*) AS BIGINT) AS component_size
      FROM comp GROUP BY component) s USING (component)
"""


def dedup_components_star(spark, sf_dir):
    """Same pairs -> groups contract as `dedup_components`, computed by
    large-star/small-star contraction (Kiveris et al.) instead of
    min-label propagation: round budget O(log^2 n) independent of
    component diameter -- the variant to run at 100 TB where a chain of
    incrementally-edited boilerplate can make a component's diameter
    arbitrary. Identical labeling (component id = min member), same
    recursive-CTE oracle."""
    from ..operators.dedup import connected_components_star

    pairs = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
    cc = connected_components_star(pairs)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return cc.join(sizes, "component").select("doc_id", "component", "component_size")


def _ensure_component_labels(spark, sf_dir: str) -> str:
    """Persisted component labels of the OLD corpus slice (doc_id % 10
    != 0) — `dedup_components_incremental`'s prior state, computed once
    per corpus version. LSH collisions and pair verification are
    strictly pairwise, so components over the old slice alone equal the
    old-old restriction of the full-corpus pair graph."""
    from ..operators.dedup import connected_components_star

    def build(out: str) -> None:
        old_docs = _dup_corpus(spark, sf_dir).where(
            F.pmod(F.col("doc_id"), F.lit(10)) != 0
        )
        connected_components_star(minhash_lsh_dedup_mapped(old_docs)).write.mode(
            "overwrite"
        ).parquet(out)

    return layouts.ensure(
        spark, "cclabels", sf_dir, ["documents"], {"scheme": "cw-md5le-v2-star"}, build
    )


def dedup_components_incremental(spark, sf_dir):
    """INCREMENTAL connected-components maintenance — the operational
    shape for dedup state at 100 TB (the dedup_incremental_probe
    precedent, applied to the component labels instead of the band
    index): the corpus is split into the already-labeled OLD state
    (doc_id % 10 != 0; labels persisted once per corpus version via
    `_ensure_component_labels`) and an arriving NEW batch. Instead of
    recomputing components
    over the full graph, new edges are CONTRACTED onto the old
    component labels (an old endpoint is replaced by its label via one
    left join; an unlabeled old endpoint stands for itself),
    star-contraction components run only on this delta graph — sized
    by the batch and the components it touches, independent of total
    corpus size — and untouched components keep their labels with zero
    recompute. Star contraction (not min-label propagation) because
    the scaled corpus really does produce long chains: at sf10 the
    perturbed near-dup graph holds a component of diameter > 25 and
    min-label failed its convergence guard there (measured this
    round); the star variant's round budget is O(log^2 n) regardless.

    Label algebra: an old component's label is its min member id, so
    min-label over the contracted graph yields the global min member
    — the final labels are IDENTICAL to a full batch recompute, and
    the ORACLE IS the full recompute (DEDUP_COMPONENTS_SQL, shared
    with dedup_components): incrementality itself is hash-checked.

    Output contract matches dedup_components: (doc_id, component,
    component_size) over every node of the full pair graph — the
    union of (a) relabeled old members, (b) new-batch nodes, (c) old
    nodes first touched by a new edge."""
    from ..operators.dedup import connected_components_star

    pairs = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir)).persist()

    def _new(c):
        return F.pmod(F.col(c), F.lit(10)) == 0

    new_pairs = pairs.where(_new("doc_a") | _new("doc_b"))
    # the old-state labels are PERSISTED (the _ensure_band_index
    # precedent): production computes them once at ingest; rebuilding
    # them inline per query was the sf10 sweep's worst row (42.9 s, of
    # which the old-graph star contraction alone was over half)
    old_cc = spark.read.parquet(_ensure_component_labels(spark, sf_dir))

    lab = old_cc.select(F.col("doc_id").alias("id"), F.col("component").alias("lb"))
    contracted = new_pairs
    for side in ("doc_a", "doc_b"):
        contracted = (
            contracted.join(
                lab.withColumnRenamed("id", side).withColumnRenamed("lb", f"lb_{side}"),
                side,
                "left",
            )
            .withColumn(side, F.coalesce(f"lb_{side}", side))
            .drop(f"lb_{side}")
        )
    delta = connected_components_star(contracted).select(
        F.col("doc_id").alias("node"), F.col("component").alias("new_lb")
    ).persist()

    old_final = (
        old_cc.join(delta, old_cc.component == delta.node, "left")
        .select("doc_id", F.coalesce("new_lb", "component").alias("component"))
    )
    new_nodes = delta.where(F.pmod(F.col("node"), F.lit(10)) == 0).select(
        F.col("node").alias("doc_id"), F.col("new_lb").alias("component")
    )
    touched_old = (
        delta.where(F.pmod(F.col("node"), F.lit(10)) != 0)
        .join(old_cc.select(F.col("doc_id").alias("node")), "node", "left_anti")
        .select(F.col("node").alias("doc_id"), F.col("new_lb").alias("component"))
    )
    cc = old_final.unionByName(new_nodes).unionByName(touched_old)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return cc.join(sizes, "component").select("doc_id", "component", "component_size")


def graph_pagerank(spark, sf_dir):
    """PageRank (3 fixed iterations, damping 0.85) over the verified
    near-dup pair graph -- the keeper-selection signal a dedup pipeline
    uses when clusters are large (rank the most-connected doc highest
    instead of min-id). Iterative DataFrame algorithm, exactly
    deterministic cross-engine: each per-node contribution r/deg is ONE
    IEEE divide on identical operands, incoming contributions are
    summed with the decimal-exact idiom (queries/common.dsum), and the
    damping update is two IEEE ops on identical doubles -- so three
    iterations stay bitwise-identical to the oracle's chained-CTE
    formulation. Per iteration: one join (edges x ranks, rank side
    tiny-broadcast at this scale, shuffled at corpus scale) + one
    groupBy -- the standard distributed PageRank shape with a fixed
    round budget."""
    from pyspark import StorageLevel

    from .common import dsum

    # edges feeds ONE join per iteration and deg two consumers; without
    # the persists the whole minhash pipeline re-executes per plan
    # reference (Spark does not CSE across branches) — the sf10 sweep
    # measured 43.1 s, dominated by repeated signature passes
    pairs = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).distinct().persist(StorageLevel.DISK_ONLY)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    ranks = deg.select("src", F.lit(1.0).alias("r"))
    for _ in range(3):
        contrib = (
            edges.join(ranks, "src")
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg((F.lit(0.15) + F.lit(0.85) * dsum("c")).alias("r"))
            .select(F.col("dst").alias("src"), "r")
        )
    return ranks.select(F.col("src").alias("doc_id"), F.col("r").alias("pagerank"))


def _pr_iter_sql(prev: str, out: str) -> str:
    from .common import DSUM

    return f"""{out} AS (
  SELECT e.dst AS id, 0.15 + 0.85 * {DSUM('p.r / d.deg')} AS r
  FROM edges e JOIN {prev} p ON p.id = e.src JOIN deg d ON d.id = e.src
  GROUP BY e.dst
)"""


def _pagerank_sql() -> str:
    return f"""
WITH {CORPUS_CTE},
{_shingle_cte('corpus').strip().lstrip()}
,
mh AS ({_mh_min_sql('sh')}),
bands AS (
  SELECT doc_id, k // 4 AS band, string_agg(CAST(h AS VARCHAR), '|' ORDER BY k) AS sig
  FROM mh GROUP BY doc_id, k // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
pairsq AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(ni AS DOUBLE) / (za.n + zb.n - ni) >= 0.5
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairsq UNION SELECT doc_b, doc_a FROM pairsq),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM deg),
{_pr_iter_sql('r0', 'r1')},
{_pr_iter_sql('r1', 'r2')},
{_pr_iter_sql('r2', 'r3')}
SELECT id AS doc_id, r AS pagerank FROM r3
"""


def graph_triangles(spark, sf_dir):
    """Triangle enumeration over the verified near-dup pair graph —
    the clustering-coefficient signal a dedup pipeline uses to tell
    tight duplicate CLIQUES (template families, mirror sets — dense,
    triangle-rich) from chain-shaped false-positive runs (shingle
    collisions — triangle-free). Output: every triangle as an ordered
    (a, b, c) triple, a < b < c.

    Scale shape: the input is the DERIVED pair graph (bounded by the
    LSH banding, orders of magnitude smaller than the corpus), and the
    triple-join is the standard two-hop enumeration — each edge list
    keyed on its join column, partial-size joins only; the pair list
    is persisted once for its three consumers (tiny by construction —
    the same bounded-derived-table pattern as the overlap matrix's
    pair rollup). For billion-edge graphs the classical refinement
    (orient edges by degree before joining) drops worst-case work to
    O(m^1.5); the near-dup graph here is nowhere near that regime."""
    pairs = (
        minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
        .select("doc_a", "doc_b")
        .persist()  # tiny: the verified near-dup pair list, 3 consumers
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


GRAPH_TRIANGLES_SQL = f"""
WITH p AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z)
SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
FROM p e1
JOIN p e2 ON e2.doc_a = e1.doc_b
JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
"""


def graph_link_prediction(spark, sf_dir):
    """Common-neighbor Jaccard LINK PREDICTION over the near-dup pair
    graph: every 2-hop pair (u, w) scored by
    |N(u) n N(w)| / |N(u) u N(w)| with an ``is_edge`` flag — the
    "these two docs are probably also duplicates" signal a dedup
    pipeline uses to patch LSH misses: a high-Jaccard NON-edge is a
    candidate missed pair. (On this synthetic corpus the planted dup
    families are cliques, so the audit's finding is that every
    high-Jaccard wedge is already an edge — zero missed pairs, which
    is itself the verdict.) Output: (u, w, common, deg_u, deg_w,
    is_edge, jaccard), u < w.

    Scale shape: everything lives on the DERIVED pair graph (bounded
    by banding): symmetric edges self-join once on the shared middle
    (the standard 2-hop wedge enumeration), degrees are one edge-sized
    aggregation broadcast back, the existing-edge anti-join removes
    known pairs, and jaccard = common / (deg_u + deg_w - common) is
    one IEEE tree on exact integer counts."""
    pairs = (
        minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
        .select("doc_a", "doc_b")
        .persist()
    )
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    wedge = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(edges.select(F.col("a").alias("v"), F.col("b").alias("w")), "v")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    flagged = wedge.join(
        pairs.select(
            F.col("doc_a").alias("u"),
            F.col("doc_b").alias("w"),
            F.lit(True).alias("is_edge"),
        ),
        ["u", "w"],
        "left",
    ).withColumn("is_edge", F.coalesce("is_edge", F.lit(False)))
    out = (
        flagged.join(F.broadcast(deg.withColumnRenamed("a", "u")
                                 .withColumnRenamed("deg", "deg_u")), "u")
        .join(F.broadcast(deg.withColumnRenamed("a", "w")
                          .withColumnRenamed("deg", "deg_w")), "w")
    )
    jac = F.col("common").cast("double") / (
        F.col("deg_u") + F.col("deg_w") - F.col("common")
    ).cast("double")
    return out.select(
        "u", "w", "common", "deg_u", "deg_w", "is_edge", jac.alias("jaccard")
    )


LINK_PREDICTION_SQL = f"""
WITH p AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION ALL SELECT doc_b, doc_a FROM p
),
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
wedge AS (
  SELECT e1.a AS u, e2.b AS w, count(*) AS common
  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
  WHERE e1.a < e2.b
  GROUP BY 1, 2
),
flagged AS (
  SELECT wdg.*, (p.doc_a IS NOT NULL) AS is_edge
  FROM wedge wdg
  LEFT JOIN p ON p.doc_a = wdg.u AND p.doc_b = wdg.w
)
SELECT n.u, n.w, CAST(n.common AS BIGINT) AS common,
       CAST(du.deg AS BIGINT) AS deg_u, CAST(dw.deg AS BIGINT) AS deg_w,
       n.is_edge,
       CAST(n.common AS DOUBLE)
         / CAST(du.deg + dw.deg - n.common AS DOUBLE) AS jaccard
FROM flagged n
JOIN deg du ON du.a = n.u
JOIN deg dw ON dw.a = n.w
"""


def graph_label_propagation(spark, sf_dir):
    """Semi-supervised LABEL PROPAGATION over the near-dup pair graph:
    a small trusted-seed set (doc_id % 7 == 0, label = doc_id % 3 —
    stand-in for curated quality ratings) propagates to unlabeled
    neighbors for R=2 synchronous rounds by MAJORITY VOTE of labeled
    neighbors, ties broken toward the smaller label; seeds are frozen
    (clamped), and a node keeps the round it was first labeled in —
    the standard way a curation pipeline extends sparse human labels
    across a duplicate/similarity graph. Distinct from the
    components/min-label family: the vote aggregates COUNTS per
    (node, label), not a global min.

    Scale shape: R bounded rounds, each one edge-sized join of the
    symmetric edge list against the current frontier, one
    (node, label) groupBy, and one struct-max argmax — all on the
    DERIVED pair graph (bounded by banding), never the corpus. The
    argmax is exact integer (majority count, then min label), so the
    fixed point is engine-independent."""
    pairs = (
        minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir))
        .select("doc_a", "doc_b")
        .persist()
    )
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    nodes = edges.select(F.col("a").alias("doc_id")).distinct()
    cur = nodes.where(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.col("doc_id") % 3).alias("label"),
        F.lit(0).cast("long").alias("labeled_round"),
    )
    for r in (1, 2):
        cur = cur.persist()
        votes = (
            edges.join(
                cur.select(F.col("doc_id").alias("b"), "label"), "b"
            )
            .select(F.col("a").alias("doc_id"), "label")
            .join(cur.select("doc_id"), "doc_id", "left_anti")
            .groupBy("doc_id", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        new = votes.groupBy("doc_id").agg(
            F.max(
                F.struct(
                    F.col("n"), (-F.col("label")).alias("neg"), F.col("label")
                )
            ).alias("m")
        ).select(
            "doc_id",
            F.col("m.label").alias("label"),
            F.lit(r).cast("long").alias("labeled_round"),
        )
        cur = cur.unionByName(new)
    return cur


_LP_ROUND_SQL = """
v{r} AS (
  SELECT e.a AS doc_id, l.label, count(*) AS n
  FROM edges e JOIN l{p} l ON l.doc_id = e.b
  WHERE e.a NOT IN (SELECT doc_id FROM l{p})
  GROUP BY e.a, l.label
),
n{r} AS (
  SELECT doc_id, label, CAST({r} AS BIGINT) AS labeled_round
  FROM (
    SELECT doc_id, label,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, label) AS rn
    FROM v{r}
  ) WHERE rn = 1
),
l{r} AS (SELECT * FROM l{p} UNION ALL SELECT * FROM n{r})
"""

LABEL_PROPAGATION_SQL = f"""
WITH p AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION ALL SELECT doc_b, doc_a FROM p
),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
l0 AS (
  SELECT doc_id, doc_id % 3 AS label, CAST(0 AS BIGINT) AS labeled_round
  FROM nodes WHERE doc_id % 7 = 0
),
{_LP_ROUND_SQL.format(r=1, p=0).strip()},
{_LP_ROUND_SQL.format(r=2, p=1).strip()}
SELECT doc_id, label, labeled_round FROM l2
"""


def dedup_containment(spark, sf_dir):
    """Decontamination check: n-gram CONTAINMENT of held-out docs in
    training docs — containment(A in B) = |A∩B| / |A|, the asymmetric
    overlap measure used to find benchmark/eval text inside a training
    corpus (Jaccard under-reports when |B| >> |A|). Held-out set =
    source 'src0'; candidate pairs come from an inverted-index join on
    shared shingles (the standard decontamination shape: pair space is
    bounded by shingle collisions, never all-pairs), then the exact
    containment filter. Shingles occurring in more than ``max_df`` docs
    are dropped before the join — the boilerplate/stop-shingle cap
    every production decontamination run applies, and the thing that
    keeps the inverted-index join linear-ish at corpus scale: without
    it one hot shingle ("terms of service") contributes
    |held x shingle| * |train x shingle| join rows. All built-in ops —
    explode + joins + groupBy, no Python."""
    from ..operators.dedup import word_shingles

    max_df = 50
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # Structure notes (scale + stage-count) — round-6 shape:
    # - THE key asymmetry of decontamination: the held-out side is small
    #   by construction (eval benchmarks are KBs-to-GBs against a
    #   multi-TB training corpus; here src0 = 5% of docs). So broadcast
    #   the ENTIRE capped eval postings list (shingle, eval_id) and turn
    #   every training-side operation into a map-side broadcast-hash
    #   lookup. The training shingle table — the 95%+ giant — is never
    #   shuffled at all; it is scanned once, filtered by the broadcast,
    #   and only MATCHED rows (bounded by eval-postings collisions)
    #   reach the single remaining shuffle, the (eval_id, train_id) pair
    #   aggregation, which partial-aggregates map-side.
    # - the global df cap (drop shingles in > max_df docs — the
    #   boilerplate/stop-shingle cap) only matters for shingles that
    #   can match, i.e. shingles present in the eval set: training-only
    #   shingles never pair and never count toward n_eval. So df is
    #   counted ONLY for the broadcast eval-shingle vocabulary — the
    #   full-corpus scan is map-side filtered by that broadcast before
    #   its (small) count shuffle, replacing round-5's full
    #   all-shingles groupBy, the dominant cost at sf1.
    # - shuffles on the giant side: ZERO (was: df-count groupBy + join
    #   h x t). Remaining shuffles are eval-sized (distinct vocab, df
    #   count of eval vocab, n_eval) or match-sized (pair agg).
    # - scale guard: if the held-out set ever outgrows the broadcast
    #   budget (~10s of GB executor memory), shard the eval postings
    #   and union the per-shard outputs — containment is per
    #   (eval_id, train_id), so eval-side sharding is embarrassingly
    #   parallel. Round-5's shuffle-join shape (git history) is the
    #   fallback.
    # - round-5 negative results (shuffle-join shape, kept for the
    #   record): persist +35%, localCheckpoint -8%, countDistinct
    #   folding mixed, collect_set postings +25% at sf1, xxhash64 keys
    #   rejected (breaks bitwise oracle guarantee).
    # The giant (full-corpus / training) side is exploded WITHOUT any
    # per-doc distinct — the explode stays in whole-stage codegen and is
    # map-only. Per-doc dedup is pushed into countDistinct aggregations
    # that run AFTER the broadcast filters, so they only ever see
    # eval-vocabulary collisions, never the corpus. Only the small eval
    # side (5% here; KBs-to-GBs in a real decontamination run) pays a
    # DISTINCT shuffle. (Measured alternates at sf1: round-5 per-branch
    # global DISTINCT 4.6 s; map-side array_distinct via interpreted
    # transform() lambda 6.9 s — the lambda's per-row interpretation
    # costs more than the exchange it saves.)
    # spread: the docs scan is a single parquet split at test scales
    # (one row-group), which would serialize BOTH corpus-wide
    # explode+probe branches on one core; a round-robin exchange of the
    # raw (pre-explode, ~100x smaller) rows buys full-width map stages.
    # No-op on well-split real-scale input.
    from .common import spread

    # Cache level REVISITED round 8 (A/B in scripts/exp_containment_r8
    # .py, min-of-4 interleaved at sf0.1: shingle DISK_ONLY 0.84 s,
    # +eval fusion 0.80 s, raw-docs cache 0.75 s): persist only the
    # RAW (pre-explode, ~8x smaller) doc rows and re-run the codegen
    # explode per consumer. The corpus-shingle disk write + two disk
    # re-reads cost more than two extra in-memory explodes — and at
    # 100 TB, spilling an 8x-expanded shingle table to scratch disk is
    # exactly the kind of materialization a scan-cheap/spill-expensive
    # cluster avoids. The raw cache is default-level (deserialized,
    # memory-first): it is the compressed corpus projection, not the
    # expanded shingles, so the corpus-sized-cache DISK_ONLY policy
    # (queries/curation.py dsir note) does not apply.
    # LIFECYCLE (ADVICE r7): these persists cannot be unpersisted here —
    # the function returns a lazy plan and the caches must live until
    # the caller's action runs. Long-lived sessions that invoke this
    # repeatedly MUST release them afterwards (bench.py's srun calls
    # spark.catalog.clearCache() after every query; interactive users
    # should do the same or unpersist via df.sparkSession.catalog).
    # SIZE-ADAPTIVE (round 8, second pass): the cache trades two extra
    # raw scans for two persist-materialization barriers. Below ~32 MB
    # of raw input the barriers cost more than the scans they save
    # (measured sf0.1, min-of-5 interleaved: both persists 1.76 s, no
    # persists 1.33 s — the sf10 ordering is the reverse, 0.65x with
    # the cache); unknown input size (non-local FS) is treated as real
    # scale and keeps the cache.
    from .common import input_bytes

    nbytes = input_bytes(docs)
    big = nbytes is None or nbytes >= 32 * 1024 * 1024
    raw = spread(docs, bytes_per_split=256 * 1024)
    if big:
        raw = raw.persist()
    sh_d = word_shingles(raw, n=3, distinct=False, extra_cols=["source"])
    # n_eval rides the postings broadcast (window count over the tiny
    # eval-post table) instead of being its own broadcast + final
    # join: one fewer broadcast-materialization job and one fewer
    # join in the chain — n_eval is functionally dependent on
    # eval_id, so the pair aggregation recovers it with min()
    from pyspark.sql import Window

    if big:
        # AT SCALE: eval postings first (ONE eval-side aggregation —
        # per-shingle postings with set semantics giving the per-doc
        # distinct for free), PERSISTED so the vocab broadcast and the
        # postings consumer share the src0 explode; then the df count
        # over the full corpus as its own expand-free single-distinct
        # aggregation. A round-8 fusion experiment (scripts/
        # exp_containment_r8b.py) merged df + postings into one corpus
        # pass, but countDistinct + collect_set in one agg plans an
        # Expand that doubles corpus-matched rows through the shuffle:
        # sf10 11.6 -> 14.5 s. Rejected at scale, adopted below the
        # size threshold where the job-count floor dominates instead.
        ep = (
            sh_d.where(F.col("source") == "src0")
            .groupBy("shingle")
            .agg(F.collect_set("doc_id").alias("evs"))
            .persist()
        )
        dfc = (
            sh_d.join(F.broadcast(ep.select("shingle")), "shingle")
            .groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("df"))
        )
        rare_ev = dfc.where(F.col("df") <= max_df).select("shingle")
        eval_post = (
            ep.join(F.broadcast(rare_ev), "shingle")
            .select("shingle", F.explode("evs").alias("eval_id"))
            .withColumn(
                "n_eval", F.count(F.lit(1)).over(Window.partitionBy("eval_id"))
            )
        )
    else:
        # BELOW THE THRESHOLD: the whole input is sub-cache-line scale
        # for the cluster (sf0.1 documents = ~0.6 MB) and wall clock is
        # the per-job scheduling floor, so minimize scheduled JOBS, not
        # data movement. Round-9 rewrite (VERDICT r8 #1a — this query
        # launched 12 jobs for 0.6 MB): drop ALL broadcasts and fold
        # the whole decontamination into one shuffle chain — ONE corpus
        # aggregation per shingle with two DISJOINT collect_sets (eval
        # docs, train docs). df needs no countDistinct (which would
        # plan an Expand next to collect_set): the sets are disjoint
        # and distinct, so df == size(evs) + size(tns), and because
        # both sets are per-doc distinct the later pair count needs no
        # countDistinct either — each shingle contributes each
        # (eval, train) pair at most once. 12 jobs / 31 stages ->
        # 3 shuffles, no broadcast-materialization jobs at all.
        # (Previous best: vocab-broadcast shape, 1.03 s min-of-6.)
        g = sh_d.groupBy("shingle").agg(
            F.collect_set(
                F.when(F.col("source") == "src0", F.col("doc_id"))
            ).alias("evs"),
            F.collect_set(
                F.when(F.col("source") != "src0", F.col("doc_id"))
            ).alias("tns"),
        )
        eval_post = (
            g.where(
                (F.size("evs") > 0)
                & (F.size("evs") + F.size("tns") <= max_df)
            )
            .select(F.explode("evs").alias("eval_id"), "tns")
            .withColumn(
                "n_eval", F.count(F.lit(1)).over(Window.partitionBy("eval_id"))
            )
        )
        inter = (
            eval_post.select(
                "eval_id", "n_eval", F.explode("tns").alias("train_id")
            )
            .groupBy("eval_id", "train_id")
            .agg(
                F.count(F.lit(1)).alias("ni"),
                F.min("n_eval").alias("n_eval"),
            )
        )
        cont = inter.select(
            "eval_id",
            "train_id",
            (F.col("ni").cast("double") / F.col("n_eval")).alias("containment"),
        )
        return cont.where(F.col("containment") >= 0.2)
    matches = (
        sh_d.where(F.col("source") != "src0")
        .select(F.col("doc_id").alias("train_id"), "shingle")
        .join(F.broadcast(eval_post), "shingle")
    )
    # eval_post is per-doc distinct, so duplicate (eval, train, shingle)
    # rows come only from train-side in-doc repeats — countDistinct
    # restores exact |A ∩ B|
    inter = matches.groupBy("eval_id", "train_id").agg(
        F.countDistinct("shingle").alias("ni"),
        F.min("n_eval").alias("n_eval"),
    )
    cont = inter.select(
        "eval_id",
        "train_id",
        (F.col("ni").cast("double") / F.col("n_eval")).alias("containment"),
    )
    return cont.where(F.col("containment") >= 0.2)


DEDUP_CONTAINMENT_SQL = f"""
WITH {_shingle_cte('documents').strip()},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sh_h AS (
  SELECT s.doc_id AS eval_id, s.shingle
  FROM shr s JOIN documents d ON d.doc_id = s.doc_id AND d.source = 'src0'
),
sh_t AS (
  SELECT s.doc_id AS train_id, s.shingle
  FROM shr s JOIN documents d ON d.doc_id = s.doc_id AND d.source <> 'src0'
),
sizes AS (SELECT eval_id, count(*) AS n_eval FROM sh_h GROUP BY eval_id),
inter AS (
  SELECT h.eval_id, t.train_id, count(*) AS ni
  FROM sh_h h JOIN sh_t t ON h.shingle = t.shingle
  GROUP BY h.eval_id, t.train_id
)
SELECT i.eval_id, i.train_id, CAST(ni AS DOUBLE) / z.n_eval AS containment
FROM inter i JOIN sizes z ON z.eval_id = i.eval_id
WHERE CAST(ni AS DOUBLE) / z.n_eval >= 0.2
"""


def _ensure_band_index(spark, sf_dir: str) -> str:
    """Build (once per corpus version) the persisted MinHash band index
    over the 'already-ingested' batch (doc_id % 4 != 0); location and
    staleness: `layouts.py`. "scheme" versions the signature family so
    a hash-scheme change rebuilds the index instead of silently probing
    stale signatures."""
    from ..operators.dedup import minhash_band_index_write

    return layouts.ensure(
        spark, "bandidx", sf_dir, ["documents"], {"scheme": "cw-md5le-v2"},
        lambda out: minhash_band_index_write(
            load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .where(F.col("doc_id") % 4 != 0),
            out,
        ),
    )


def dedup_incremental_probe(spark, sf_dir):
    """Incremental near-dup dedup — the operational 100 TB shape, and
    the reference's own cadence (hourly batches via cron,
    run_serialise_raw_data.py, README.md:30-37): the already-ingested
    corpus (here: doc_id % 4 != 0) is signed ONCE into a persisted
    MinHash band index partitioned by (band, bucket) with duplicate-
    component labels attached; each NEW batch (doc_id % 4 == 0, plus
    re-uploaded copies of indexed docs — ids shifted, text identical)
    is then probed against the index by band-signature equality. The
    probe reads only the index cells the batch's signatures hash into
    (partition-pruned; plan-test-pinned) and NEVER rescans indexed
    text. Output: (doc_id, dup_of, component) — each new doc's
    cross-batch candidate duplicate and the existing cluster it
    resolves into."""
    from ..operators.dedup import minhash_band_index_probe

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    fresh = docs.where(F.col("doc_id") % 4 == 0)
    reupload = docs.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + _shift(spark, sf_dir)).alias("doc_id"), "text"
    )
    batch = fresh.unionByName(reupload)
    idx = _ensure_band_index(spark, sf_dir)
    return minhash_band_index_probe(spark, idx, batch)


def _mh_band_cte(src: str, p: str) -> str:
    """Prefixed shingle -> minhash -> band CTE chain (mirrors
    operators.dedup word_shingles/minhash_signatures/lsh_bands)."""
    return f"""
{p}t AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
{p}s AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM {p}t, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
{p}m AS ({_mh_min_sql(p + 's')}),
{p}g AS (
  SELECT doc_id, k // 4 AS band, string_agg(CAST(h AS VARCHAR), '|' ORDER BY k) AS sig
  FROM {p}m GROUP BY doc_id, k // 4
)
"""


DEDUP_INCREMENTAL_SQL = f"""
WITH RECURSIVE
b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
b2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + {ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 10 = 1
),
{_mh_band_cte('b1', 'o').strip()},
{_mh_band_cte('b2', 'n').strip()},
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
  FROM ng n JOIN og o ON n.band = o.band AND n.sig = o.sig
),
cpair AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM og a JOIN og b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
csz AS (SELECT doc_id, count(*) AS nsz FROM os GROUP BY doc_id),
cinter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cpair c
  JOIN os sa ON sa.doc_id = c.doc_a
  JOIN os sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
vp AS (
  SELECT i.doc_a, i.doc_b
  FROM cinter i
  JOIN csz za ON za.doc_id = i.doc_a
  JOIN csz zb ON zb.doc_id = i.doc_b
  WHERE CAST(ni AS DOUBLE) / (za.nsz + zb.nsz - ni) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM vp UNION SELECT doc_b, doc_a FROM vp),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
SELECT c.doc_id, c.dup_of, coalesce(cp.component, c.dup_of) AS component
FROM cand c LEFT JOIN comp cp ON cp.doc_id = c.dup_of
"""


def band_index_append_equals_rebuild(spark, sf_dir):
    """Oracle-checked protocol row for the HOURLY BAND-INDEX loop
    (round 14, VERDICT r13 #2 — the `toktf_append_equals_rebuild` /
    `dedup_components_incremental` incremental-equals-recompute
    protocol, applied to the near-dup index): a base corpus slice
    (doc_id % 4 != 0) is indexed once with `minhash_band_index_write`,
    then TWO batches are appended with `minhash_band_index_append`
    (verified anchors + within-batch delta components), and the query
    returns the final index rolled up per doc — (doc_id, component,
    n_bands, sigs). The DuckDB oracle REBUILDS the whole thing from
    raw text: replays the banding for every doc of the full corpus and
    labels components over the exact-Jaccard-verified pair graph with
    a recursive CTE — so a hash match proves append(base, b1, b2) ==
    rebuild(base ∪ b1 ∪ b2) bitwise, labels included.

    Batch composition exercises every labeling path, with batch ids
    REMAPPED ABOVE all indexed ids (the operational norm — ids grow
    with ingest time — and the precondition for label equality: an
    append can never relabel already-written rows downward):
      b1 = fresh uploads (doc_id % 8 == 0, ids +10·shift)
           + re-uploads of base docs (% 10 == 1, +11·shift);
      b2 = fresh uploads (% 8 == 4, +12·shift)
           + re-uploads of B1'S fresh uploads (% 16 == 8, +13·shift)
           — the loop-closure class: their only certain duplicate
           entered via batch 1's APPEND, so a skipped or unprobed
           append hash-mismatches here —
           + second re-uploads of base docs (% 10 == 1, +14·shift).
    Natural near-dups inside one batch are covered by the append's
    within-batch delta clustering; false-positive band collisions by
    its exact-Jaccard anchor verification (``verify_docs`` = the
    docs indexed so far). The two residual append-vs-rebuild
    divergences (component bridging, min-id inversion — operator
    docstring) are structurally absent: batch ids exceed indexed ids
    by construction, and the fresh-upload slices were verified
    wedge-free at both oracle scales (no new doc adjacent to two
    distinct indexed components; rechecked empirically this round).

    Scale shape: the base build is the standard banded pipeline; each
    append costs probe (partition-pruned to the batch's cells) +
    batch-sized LSH + candidate-bounded verification — never a corpus
    rescan. The final read-back rollup is one groupBy over the index
    (query-only; production reads the index by cell)."""
    import shutil

    from ..operators.dedup import (
        minhash_band_index_append,
        minhash_band_index_write,
    )

    sh_ = _shift(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 4 != 0)

    def slice_shifted(mod: int, val: int, k: int):
        return docs.where(F.col("doc_id") % mod == val).select(
            (F.col("doc_id") + k * sh_).alias("doc_id"), "text"
        )

    b1 = slice_shifted(8, 0, 10).unionByName(slice_shifted(10, 1, 11))
    b2 = (
        slice_shifted(8, 4, 12)
        .unionByName(slice_shifted(16, 8, 13))
        .unionByName(slice_shifted(10, 1, 14))
    )
    idx = layouts.location("bandidx_append_q", sf_dir)
    # fresh epoch per run: the protocol is build + append + append
    shutil.rmtree(idx, ignore_errors=True)
    minhash_band_index_write(base, idx)
    minhash_band_index_append(spark, idx, b1, verify_docs=base)
    minhash_band_index_append(
        spark, idx, b2, verify_docs=base.unionByName(b1)
    )
    return spark.read.parquet(idx).groupBy("doc_id").agg(
        F.min("component").alias("component"),
        F.count(F.lit(1)).alias("n_bands"),
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat_ws(":", F.col("band").cast("string"), F.col("sig"))
                )
            ),
            "|",
        ).alias("sigs"),
    )


# the oracle sees ONE corpus (base ∪ b1 ∪ b2) and rebuilds the index
# from scratch: banding for every doc + components over the verified
# pair graph (recursive CTE), rolled up per doc like the Spark side
BAND_APPEND_SQL = f"""
WITH RECURSIVE
acorpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
  UNION ALL
  SELECT doc_id + {10 * ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 8 = 0
  UNION ALL
  SELECT doc_id + {11 * ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + {12 * ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 8 = 4
  UNION ALL
  SELECT doc_id + {13 * ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 16 = 8
  UNION ALL
  SELECT doc_id + {14 * ID_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 10 = 1
),
{_mh_band_cte('acorpus', 'x').strip()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM xg a JOIN xg b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
xsz AS (SELECT doc_id, count(*) AS nsz FROM xs GROUP BY doc_id),
xinter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN xs sa ON sa.doc_id = c.doc_a
  JOIN xs sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
vp AS (
  SELECT i.doc_a, i.doc_b
  FROM xinter i
  JOIN xsz za ON za.doc_id = i.doc_a
  JOIN xsz zb ON zb.doc_id = i.doc_b
  WHERE CAST(ni AS DOUBLE) / (za.nsz + zb.nsz - ni) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM vp UNION SELECT doc_b, doc_a FROM vp),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
SELECT g.doc_id,
       COALESCE(c.component, g.doc_id) AS component,
       count(*) AS n_bands,
       string_agg(CAST(g.band AS VARCHAR) || ':' || g.sig, '|'
                  ORDER BY CAST(g.band AS VARCHAR) || ':' || g.sig) AS sigs
FROM xg g
LEFT JOIN comp c USING (doc_id)
GROUP BY g.doc_id, COALESCE(c.component, g.doc_id)
"""


def dedup_cluster_canonical(spark, sf_dir):
    """Keeper selection per near-dup cluster — the step that turns
    duplicate GROUPS into a dedup decision: for every connected
    component of the verified MinHash-LSH pair graph, keep the longest
    member (most content preserved), ties to the smallest doc_id.
    Output: (component, keeper_id, component_size, max_chars).

    Scale shape: pairs and components are the existing bucketed /
    star-contraction plans (`dedup_components_star` — O(log^2 n)
    rounds); keeper selection adds ONE join (members x lengths, both
    keyed by doc_id) and one groupBy whose argmax folds as a struct
    max — exact, association-order-free (integer fields only), so no
    second pass over members is needed."""
    from ..operators.dedup import connected_components_star

    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_lsh_dedup_mapped(corpus)
    cc = connected_components_star(pairs)
    lens = corpus.select("doc_id", F.length("text").cast("long").alias("n_chars"))
    m = cc.join(lens, "doc_id")
    agg = m.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size"),
        F.max("n_chars").alias("max_chars"),
        (
            -F.max(
                F.struct(
                    F.col("n_chars").alias("l"), (-F.col("doc_id")).alias("nid")
                )
            ).getField("nid")
        ).alias("keeper_id"),
    )
    return agg.select("component", "keeper_id", "component_size", "max_chars")


DEDUP_CANONICAL_SQL = f"""
WITH RECURSIVE
{CORPUS_CTE.strip()},
pairsq AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL}) z),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairsq UNION SELECT doc_b, doc_a FROM pairsq),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
m AS (
  SELECT c.doc_id, c.component, CAST(length(t.text) AS BIGINT) AS n_chars
  FROM comp c JOIN corpus t USING (doc_id)
),
mx AS (
  SELECT component, CAST(count(*) AS BIGINT) AS component_size,
         max(n_chars) AS max_chars
  FROM m GROUP BY component
),
keep AS (
  SELECT m.component, min(m.doc_id) AS keeper_id
  FROM m JOIN mx ON m.component = mx.component AND m.n_chars = mx.max_chars
  GROUP BY m.component
)
SELECT mx.component, k.keeper_id, mx.component_size, mx.max_chars
FROM mx JOIN keep k USING (component)
"""


_SEM_K = 8  # MINIMUM cell count; K = max(_SEM_K, n // _SEM_CELL_ROWS)
_SEM_TAU = 0.3
# target within-cell population: fixes per-vector comparison work at
# ~_SEM_CELL_ROWS * d regardless of corpus size (SemDeDup's fixed-cell-
# size regime); small sfs (n < 8 * 2500) keep the historical K = 8
_SEM_CELL_ROWS = 2500


def dedup_semantic_cells(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al., 2023 — public
    paper): cluster embeddings into cells, then drop near-duplicate
    members WITHIN each cell (cosine >= tau keeps the lower vec_id).
    Unlike `dedup_embedding_cosine` (blocks on a GIVEN label), the
    cells here are LEARNED from the data: nearest of K deterministic
    centroids (the first K stored vectors — the same seeding
    `similarity_topk_ivf` uses). Output: per-cell (n_total, n_dropped,
    n_kept) — the dedup yield report per semantic bucket.

    Round-10 scale rewrite (the sf10 hazard-sweep find): K was FIXED
    at 8, so within-cell pair work grew O(n²/8) — the ONLY inventory
    query still grinding at sf10 (25+ min over 200k vectors; every
    other dedup query finishes in seconds). SemDeDup's design point is
    a fixed CELL SIZE, not a fixed cell COUNT (the paper uses 50k
    clusters for LAION-440M), so K now scales: K = max(8, n // 2500).
    Per-vector comparison work is then constant (~2500 * d) and the
    within-cell stage is LINEAR in the corpus; sf10 drops 25 min ->
    ~8 s. Small-sf outputs are unchanged (n < 8 * 2500 keeps K = 8),
    and the oracle computes the same K from the same scalar subquery.

    Scale shape: centroids are collected once at plan build (bounded —
    the IVF-centroid precedent; past broadcastable K the hierarchical
    assignment swap is the documented production path) and a
    mapInPandas argmax assigns cells with ZERO shuffle — the previous
    crossJoin x groupBy formulation pushed an n x K intermediate
    CARRYING THE EMBEDDING ARRAY through the shuffle. Cosines stay
    bitwise cross-engine: floor(x*y*S) int sums, dot/(sqrt*sqrt), ties
    to the lowest cid (numpy argmax first-max == the oracle window's
    cos DESC, cid ASC). The assigned table persists DISK_ONLY because
    it feeds two branches (pair kernel + yield report)."""
    import numpy as np

    from pyspark import StorageLevel

    from ..operators.similarity import (
        _fp_dots_f64,
        cosine_pairs_blocked_vectorized,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    k_cells = max(_SEM_K, n // _SEM_CELL_ROWS)
    crows = emb.where(F.col("vec_id") < k_cells).orderBy("vec_id").collect()
    if not crows:
        return spark.createDataFrame(
            [], "cell int, n_total long, n_dropped long, n_kept long"
        )
    cids = np.array([r["vec_id"] for r in crows], dtype="int64")
    C = np.stack([np.asarray(r["embedding"], dtype="float64") for r in crows])
    cn = _fp_dots_f64(C, C)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            # float64 sums of floor() terms are exact under the
            # d * SCALE * max|x|^2 < 2^53 envelope (_fp_dots_f64 doc;
            # cosine_pairs_blocked_vectorized asserts it for this
            # embedding family downstream of the same rows)
            vn = _fp_dots_f64(V, V)
            cells = np.empty(len(pdf), dtype="int32")
            for lo in range(0, len(pdf), 1024):  # bound the B x K x d temp
                hi = min(lo + 1024, len(pdf))
                dots = _fp_dots_f64(V[lo:hi, None, :], C[None, :, :])
                cos = dots / (np.sqrt(vn[lo:hi, None]) * np.sqrt(cn[None, :]))
                cells[lo:hi] = cids[np.argmax(cos, axis=1)].astype("int32")
            out = pdf.copy()
            out["cell"] = cells
            yield out

    # spread: the driver's single-row-group parquet yields ~1 input
    # split per 128k rows — without a re-split the argmax kernel runs
    # on 2 tasks at sf10 (embedding vectors are ~256 B/row; 512 KB
    # splits keep task count proportional to data)
    from .common import spread

    assigned = spread(emb, bytes_per_split=512 * 1024).mapInPandas(
        assign, "vec_id long, embedding array<float>, cell int"
    ).persist(StorageLevel.DISK_ONLY)
    pairs = cosine_pairs_blocked_vectorized(
        assigned, block_col="cell", threshold=_SEM_TAU, id_col="vec_id"
    )
    dropped = (
        pairs.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("d", F.lit(1))
    )
    marked = assigned.select("vec_id", "cell").join(dropped, "vec_id", "left")
    return (
        marked.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).cast("long").alias("n_dropped"),
        )
        .withColumn("n_kept", (F.col("n_total") - F.col("n_dropped")).cast("long"))
    )


DEDUP_SEMANTIC_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < (SELECT GREATEST({_SEM_K}, COUNT(*) // {_SEM_CELL_ROWS}) FROM e)
),
vterm AS (
  SELECT e.vec_id, c.cid,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(c.cv[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS dt,
         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * CAST(e.embedding[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS vt,
         CAST(floor(CAST(c.cv[u.i] AS DOUBLE) * CAST(c.cv[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS ct
  FROM e, cents c, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
),
sums AS (
  SELECT vec_id, cid, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(vt) AS BIGINT) AS vn_i, CAST(SUM(ct) AS BIGINT) AS cn_i
  FROM vterm GROUP BY vec_id, cid
),
cosx AS (
  SELECT vec_id, cid,
         CAST(dot_i AS DOUBLE) / (sqrt(CAST(vn_i AS DOUBLE)) * sqrt(CAST(cn_i AS DOUBLE))) AS cos
  FROM sums
),
asg AS (
  SELECT vec_id, cid AS cell
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        FROM cosx)
  WHERE rn = 1
),
ae AS (SELECT a.vec_id, a.cell, e.embedding FROM asg a JOIN e USING (vec_id)),
pterm AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(floor(CAST(a.embedding[u.i] AS DOUBLE) * CAST(b.embedding[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS dt,
         CAST(floor(CAST(a.embedding[u.i] AS DOUBLE) * CAST(a.embedding[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS at2,
         CAST(floor(CAST(b.embedding[u.i] AS DOUBLE) * CAST(b.embedding[u.i] AS DOUBLE) * {_S9}) AS BIGINT) AS bt2
  FROM ae a JOIN ae b ON a.cell = b.cell AND a.vec_id < b.vec_id,
       UNNEST(range(1, len(a.embedding) + 1)) AS u(i)
),
psums AS (
  SELECT vec_a, vec_b, CAST(SUM(dt) AS BIGINT) AS dot_i,
         CAST(SUM(at2) AS BIGINT) AS na_i, CAST(SUM(bt2) AS BIGINT) AS nb_i
  FROM pterm GROUP BY vec_a, vec_b
),
dup AS (
  SELECT DISTINCT vec_b AS vec_id FROM psums
  WHERE CAST(dot_i AS DOUBLE) / (sqrt(CAST(na_i AS DOUBLE)) * sqrt(CAST(nb_i AS DOUBLE))) >= {_SEM_TAU}
)
SELECT a.cell,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(count(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM asg a LEFT JOIN dup d USING (vec_id)
GROUP BY a.cell
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership probe: the cheap "have we ingested this content
# before?" gate that runs BEFORE any expensive dedup at 100 TB. The filter
# over the already-ingested corpus is tiny (<= 2^16 distinct bit positions
# here; a few GB of bits even at 10^11 docs with a larger m) and broadcast
# to every probe task, so a new batch is classified with ONE map-side
# broadcast join — the full exact-membership join this avoids is included
# in the output as the verification column (is_member), which also makes
# the Bloom false-positive behavior visible (bloom_maybe=1, is_member=0).
#
# Hash family: the four leading 16-bit lanes of md5(text), parsed from the
# hex digest with an instr('0123456789abcdef', ...) nibble lookup — an
# expression whose TEXT is valid and identical in both Spark SQL and
# DuckDB SQL, so the oracle recomputes bit positions bit-for-bit.
# Reference analogue: the reference dedups bronze uploads by remote path
# presence (data_lake_ingester.py); this is the content-level equivalent
# an LLM-corpus pipeline needs.
# ---------------------------------------------------------------------------

_BLOOM_K = 4  # lanes (hash functions); m = 2^16 bit positions per lane value


def _bloom_lane_sql(hex_col: str = "h") -> list[str]:
    """k 16-bit bit positions from an md5-HEX column as engine-portable
    SQL text: lane j = int(hex chars [8j+1 .. 8j+4]) via nibble lookup
    (the same string compiles in Spark and DuckDB; both render md5 as
    lowercase hex). Callers project ``md5(col) AS <hex_col>`` FIRST and
    pass the projected column: inlining md5 into each of the 16 nibble
    terms is NOT common-subexpression-eliminated by Spark codegen —
    measured 2x slower on the CMS build at sf10 (3.19 vs 1.59 s)."""
    lanes = []
    for j in range(_BLOOM_K):
        terms = " + ".join(
            f"(instr('0123456789abcdef', substr({hex_col}, {8 * j + c + 1}, 1)) - 1)"
            f" * {16 ** (3 - c)}"
            for c in range(4)
        )
        lanes.append(f"CAST({terms} AS BIGINT)")
    return lanes


def dedup_bloom_probe(spark, sf_dir):
    """Bloom membership gate for an incoming batch: build the bit-position
    set over the ingested corpus (doc_id % 10 != 0), probe a new batch
    (doc_id % 3 == 0), and report per probe doc whether the filter says
    "maybe seen" (all k bits present) alongside exact membership.

    Scale shape (round-9 union-groupBy rewrite, VERDICT r8 #1
    job-floor work — was: distinct + explicit broadcast + semi-join
    + a separate text semi-join + two assembly joins, 7 jobs at
    sf0.1): corpus and probe rows meet in ONE union keyed by the
    bloom BIT POSITION — per pos, a bool-or says whether the corpus
    set the bit and a collect_list carries the probe docs testing it
    (bounded: k probes per doc). A doc is "maybe seen" iff all
    ``_BLOOM_K`` of its positions are set. Exact membership rides the
    SAME union pipeline keyed by md5(text) (128-bit — the key
    equality IS text equality) instead of its own text-keyed
    semi-join chain. Three small shuffles, zero broadcasts, zero
    assembly joins; the bit-position aggregation stays bounded by
    m = 65536 rows at any corpus scale, and the md5 grouping moves
    32-char keys, never the text."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    probe = docs.where(F.col("doc_id") % 3 == 0)
    pos_arr = "array(" + ", ".join(_bloom_lane_sql("h")) + ")"
    # (key, probe_doc NULL for corpus rows) union; key = bit pos for
    # the bloom lanes, md5 hex for exact membership — disjoint key
    # spaces via a kind tag
    cp = corpus.selectExpr("md5(text) AS h").selectExpr(
        f"explode({pos_arr}) AS pos", "CAST(NULL AS BIGINT) AS pdoc"
    )
    pp = probe.selectExpr("doc_id", "md5(text) AS h").selectExpr(
        f"explode({pos_arr}) AS pos", "doc_id AS pdoc"
    )
    bits = (
        cp.unionByName(pp)
        .groupBy("pos")
        .agg(
            F.max(F.col("pdoc").isNull()).alias("set_"),
            F.collect_list("pdoc").alias("pdocs"),
        )
        .where(F.size("pdocs") > 0)
        .select(F.explode("pdocs").alias("doc_id"), "set_")
        .groupBy("doc_id")
        .agg(F.sum(F.col("set_").cast("int")).alias("nhit"))
    )
    cm = corpus.selectExpr("md5(text) AS h", "CAST(NULL AS BIGINT) AS pdoc")
    pm = probe.selectExpr("md5(text) AS h", "doc_id AS pdoc")
    member = (
        cm.unionByName(pm)
        .groupBy("h")
        .agg(
            F.max(F.col("pdoc").isNull()).alias("in_corpus"),
            F.collect_list("pdoc").alias("pdocs"),
        )
        .where(F.size("pdocs") > 0)
        .select(F.explode("pdocs").alias("doc_id"), "in_corpus")
    )
    return (
        bits.join(member, "doc_id")
        .select(
            "doc_id",
            (F.col("nhit") == _BLOOM_K).cast("int").alias("bloom_maybe"),
            F.col("in_corpus").cast("int").alias("is_member"),
        )
    )


def _bloom_sql() -> str:
    lanes = ", ".join(_bloom_lane_sql("h"))
    return f"""
WITH corpus AS (SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
probe AS (SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
bloom AS (
  SELECT DISTINCT pos FROM (SELECT unnest([{lanes}]) AS pos FROM corpus)
),
ppos AS (SELECT doc_id, unnest([{lanes}]) AS pos FROM probe),
hits AS (
  SELECT doc_id, count(*) AS nhit FROM ppos
  WHERE pos IN (SELECT pos FROM bloom) GROUP BY doc_id
),
member AS (SELECT doc_id FROM probe WHERE text IN (SELECT text FROM corpus))
SELECT p.doc_id,
       CAST(CASE WHEN coalesce(h.nhit, 0) = {_BLOOM_K} THEN 1 ELSE 0 END AS INTEGER) AS bloom_maybe,
       CAST(CASE WHEN p.doc_id IN (SELECT doc_id FROM member) THEN 1 ELSE 0 END AS INTEGER) AS is_member
FROM probe p LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Exact repeated-substring spans (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): find token 10-grams occurring >= 2
# times across the corpus and report, per document, how many of its n-gram
# positions are duplicated and how many of its token positions fall inside
# at least one duplicated span. The suffix-array construction of the paper
# is replaced by the hash-relational shape that distributes: explode the
# position sequence and build each positioned n-gram per row (JVM
# concat_ws/slice — no Python), count duplicates with ONE gram-keyed
# window (hash-first sort key), and fold both per-doc statistics in one
# array aggregation.
# ---------------------------------------------------------------------------

_SPAN_N = 10


def dedup_span_exact(spark, sf_dir):
    """Per-doc duplicated-substring statistics: (doc_id, n_tokens,
    dup_spans, dup_tokens) where dup_spans counts positions whose 10-gram
    occurs >= 2 times corpus-wide and dup_tokens counts distinct token
    indices covered by such spans.

    Scale shape (two Exchanges total): ONE shuffle of the positioned
    grams feeds a window count partitioned by gram (the first cut of
    this plan counted via groupBy + semi-join back — a second full
    shuffle of the same rows plus a join; the window does it in one),
    then ONE per-doc aggregation computes both statistics: a plain span
    count plus the covered-index union built as arrays inside the
    aggregate (bounded by doc length). The final join with the per-doc
    base is an AQE broadcast. A gram hotter than one
    partition (boilerplate at 100 TB) would make the window partition
    skewed — at that scale pre-filter grams by a frequency sketch or
    cap per-gram occurrences; noted rather than implemented."""
    from pyspark.sql import Window

    n = _SPAN_N
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    base = toks.select("doc_id", F.size("t").alias("n_tokens"))
    # explode the POSITION sequence first and build each gram per row:
    # 8x cheaper than transform() materializing the whole per-doc
    # gram-string array before posexplode (0.43 vs 3.6 s generation at
    # sf1 — the array holds every gram string live at once)
    grams = (
        toks.where(F.size("t") >= n)
        .select("doc_id", "t", F.explode(F.expr(f"sequence(1, size(t) - {n} + 1)")).alias("pos"))
        .select("doc_id", "pos", F.expr(f"concat_ws(' ', slice(t, pos, {n}))").alias("gram"))
    )
    # the window key leads with xxhash64(gram) so the partition sort
    # compares a long before it ever touches the string; gram stays in
    # the key, so equal-hash different-gram rows (collisions) still
    # count separately — exactness is unconditional (−11% at sf1)
    spans = (
        grams.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy(F.xxhash64("gram"), "gram"))
        )
        .where(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    # (doc_id, pos) is unique by construction, so dup_spans is a plain
    # count; coverage unions the per-span index ranges as ARRAYS inside
    # the same aggregation (bounded by doc length) — measured 0.92 s vs
    # 1.22 s for the two-countDistinct Expand form and 2.09 s for a
    # broadcast-semi-join form at sf0.1
    per = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_spans"),
        F.size(
            F.array_distinct(
                F.flatten(F.collect_list(F.expr(f"sequence(pos, pos + {n} - 1)")))
            )
        )
        .cast("long")
        .alias("dup_tokens"),
    )
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
    )


DEDUP_SPAN_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_N - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {_SPAN_N} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_N}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
spans AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
span_cnt AS (SELECT doc_id, count(*) AS dup_spans FROM spans GROUP BY doc_id),
cov AS (
  SELECT doc_id, count(DISTINCT ti) AS dup_tokens
  FROM spans, UNNEST(range(pos, pos + {_SPAN_N})) AS v(ti)
  GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
       CAST(coalesce(s.dup_spans, 0) AS BIGINT) AS dup_spans,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens
FROM toks t
LEFT JOIN span_cnt s USING (doc_id)
LEFT JOIN cov c USING (doc_id)
"""


def dedup_span_scrub(spark, sf_dir):
    """The REWRITE half of exact substring dedup (Lee et al. 2021):
    every non-first occurrence of a duplicated 10-gram is removed —
    "first" is the globally minimal (doc_id, pos) for that gram — and
    each document's text is rebuilt from its surviving tokens.

    Plan shape: the same single gram-keyed window shuffle as
    dedup_span_exact, with row_number replacing the count (rn >= 2 IS
    the non-first-duplicate predicate — no second pass to find firsts);
    covered indices aggregate per doc into one set column; the rebuild
    is a map-only array filter + join over the token array. Token
    order, including empty tokens from repeated separators, survives
    split -> filter-by-index -> concat_ws in both engines."""
    from pyspark.sql import Window

    n = _SPAN_N
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = (
        toks.where(F.size("t") >= n)
        .select(
            "doc_id", "t", F.explode(F.expr(f"sequence(1, size(t) - {n} + 1)")).alias("pos")
        )
        .select("doc_id", "pos", F.expr(f"concat_ws(' ', slice(t, pos, {n}))").alias("gram"))
    )
    w = Window.partitionBy(F.xxhash64("gram"), "gram").orderBy("doc_id", "pos")
    removed = (
        grams.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    cov = (
        removed.select(
            "doc_id", F.explode(F.expr(f"sequence(pos, pos + {n} - 1)")).alias("ti")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("ti").alias("cov"))
    )
    joined = toks.join(cov, "doc_id", "left").withColumn(
        "cov", F.coalesce("cov", F.expr("array()"))
    )
    return joined.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size("cov").alias("n_removed_tokens"),
        F.expr(
            "concat_ws(' ', transform(filter(sequence(1, size(t)),"
            " i -> NOT array_contains(cov, i)), i -> element_at(t, i)))"
        ).alias("clean_text"),
    )


DEDUP_SPAN_SCRUB_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_N - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {_SPAN_N} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_N}
),
removed AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
    FROM g
  ) WHERE rn >= 2
),
cov AS (
  SELECT doc_id, list(DISTINCT ti) AS cov
  FROM removed, UNNEST(range(pos, pos + {_SPAN_N})) AS v(ti)
  GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS INTEGER) AS n_tokens,
       CAST(coalesce(len(c.cov), 0) AS INTEGER) AS n_removed_tokens,
       -- DuckDB's array_to_string([]) is NULL where Spark's concat_ws
       -- of an empty array is '' (fully-scrubbed docs hit this)
       coalesce(array_to_string(
         list_transform(
           list_filter(range(1, len(tk.t) + 1),
                       i -> NOT list_contains(coalesce(c.cov, []), i)),
           i -> tk.t[i]), ' '), '') AS clean_text
FROM toks tk LEFT JOIN cov c USING (doc_id)
"""



def dedup_recall_report(spark, sf_dir):
    """Dedup-quality AUDIT: recall of the MinHash-LSH pipeline against
    the planted ground truth (_dup_corpus plants an identical twin for
    every doc_id % 10 == 0, so every shingle-able planted doc MUST be
    found — its twin pair has Jaccard 1.0, far above the 0.5 gate).
    One summary row: (n_planted, n_found_total, n_planted_found,
    recall_pct). n_found_total > n_planted_found is not error — those
    are genuine near-dups inside the base corpus.

    This is the acceptance gate a production dedup deployment runs on
    every config change (bands x rows trade recall for candidate
    volume); planted-twin auditing catches a broken banding the same
    run that deploys it. Cost: the dedup run itself + a broadcast-sized
    join of the planted list; aggregates to one row."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.where(
        (F.col("doc_id") % 10 == 0) & (F.size(F.split("text", " ")) >= 3)
    ).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + _shift(spark, sf_dir)).alias("doc_b"),
        F.lit(1).alias("p"),
    )
    found = minhash_lsh_dedup_mapped(_dup_corpus(spark, sf_dir)).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    # ONE full-outer pass: planted-only rows count toward n_planted,
    # found-only rows toward n_found_total, matches toward both — the
    # dedup pipeline (the expensive side) executes exactly once; a
    # left-join + separate totals branch would run it twice (Spark
    # does not CSE across plan branches)
    joined = planted.join(found, ["doc_a", "doc_b"], "full")
    return joined.agg(
        F.sum(F.coalesce(F.col("p"), F.lit(0))).cast("long").alias("n_planted"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_found_total"),
        F.sum(F.coalesce(F.col("p") * F.col("hit"), F.lit(0)))
        .cast("long")
        .alias("n_planted_found"),
    ).select(
        "n_planted",
        "n_found_total",
        "n_planted_found",
        F.round(
            100.0 * F.col("n_planted_found") / F.col("n_planted"), 6
        ).alias("recall_pct"),
    )


DEDUP_RECALL_SQL = f"""
WITH found AS ({DEDUP_MINHASH_SQL}),
planted AS (
  SELECT doc_id AS doc_a, doc_id + {ID_SHIFT} AS doc_b, 1 AS p
  FROM documents
  WHERE doc_id % 10 = 0 AND len(string_split(text, ' ')) >= 3
),
joined AS (
  SELECT p.p, CASE WHEN f.doc_a IS NOT NULL THEN 1 END AS hit
  FROM planted p FULL OUTER JOIN found f USING (doc_a, doc_b)
)
SELECT CAST(SUM(COALESCE(p, 0)) AS BIGINT) AS n_planted,
       CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_found_total,
       CAST(SUM(COALESCE(p * hit, 0)) AS BIGINT) AS n_planted_found,
       round(100.0 * SUM(COALESCE(p * hit, 0)) / SUM(COALESCE(p, 0)), 6) AS recall_pct
FROM joined
"""


QUERIES = {
    "dedup_recall_report": QuerySpec(
        dedup_recall_report,
        DEDUP_RECALL_SQL,
        "planted-twin recall audit of the MinHash-LSH dedup pipeline",
    ),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL, "exact content-hash dedup"),
    "dedup_exact_normalized": QuerySpec(
        dedup_exact_normalized,
        DEDUP_EXACT_NORM_SQL,
        "normalization-keyed exact dedup (casefold+whitespace tier before MinHash)",
    ),
    "dedup_span_scrub": QuerySpec(
        dedup_span_scrub,
        DEDUP_SPAN_SCRUB_SQL,
        "remove non-first duplicated 10-gram spans and rebuild text",
    ),
    "dedup_bloom_probe": QuerySpec(
        dedup_bloom_probe,
        _bloom_sql(),
        "Bloom-filter membership gate for an incoming batch (broadcast bits)",
    ),
    "dedup_span_exact": QuerySpec(
        dedup_span_exact,
        DEDUP_SPAN_SQL,
        "exact repeated-substring span statistics (hash-relational Lee et al.)",
    ),
    "dedup_cluster_canonical": QuerySpec(
        dedup_cluster_canonical,
        DEDUP_CANONICAL_SQL,
        "keeper selection per near-dup component (longest member, tie min id)",
    ),
    "dedup_semantic_cells": QuerySpec(
        dedup_semantic_cells,
        DEDUP_SEMANTIC_SQL,
        "SemDeDup-style within-cell embedding dedup with learned cells",
    ),
    "dedup_containment": QuerySpec(
        dedup_containment, DEDUP_CONTAINMENT_SQL, "n-gram containment decontamination"
    ),
    "dedup_incremental_probe": QuerySpec(
        dedup_incremental_probe,
        DEDUP_INCREMENTAL_SQL,
        "incremental near-dup probe against a persisted band index",
    ),
    "band_index_append_equals_rebuild": QuerySpec(
        band_index_append_equals_rebuild,
        BAND_APPEND_SQL,
        "hourly band-index append x2 == from-scratch rebuild (protocol row)",
    ),
    "dedup_exact_unicode": QuerySpec(
        dedup_exact_unicode,
        DEDUP_EXACT_UNICODE_SQL,
        "NFKC+casefold normalization-keyed exact dedup (unicode tier)",
    ),
    "dedup_components": QuerySpec(
        dedup_components, DEDUP_COMPONENTS_SQL, "near-dup connected components"
    ),
    "graph_pagerank": QuerySpec(
        graph_pagerank,
        _pagerank_sql(),
        "3-iteration exact-deterministic PageRank over the near-dup graph",
    ),
    "graph_triangles": QuerySpec(
        graph_triangles,
        GRAPH_TRIANGLES_SQL,
        "triangle enumeration over the near-dup graph (clique vs chain signal)",
    ),
    "dedup_components_star": QuerySpec(
        dedup_components_star,
        DEDUP_COMPONENTS_SQL,
        "near-dup components via star contraction (diameter-independent rounds)",
    ),
    "graph_link_prediction": QuerySpec(
        graph_link_prediction,
        LINK_PREDICTION_SQL,
        "common-neighbor Jaccard link prediction over the near-dup graph (LSH-miss patching)",
    ),
    "graph_label_propagation": QuerySpec(
        graph_label_propagation,
        LABEL_PROPAGATION_SQL,
        "2-round majority-vote label propagation from frozen seeds over the near-dup graph",
    ),
    "dedup_components_incremental": QuerySpec(
        dedup_components_incremental,
        DEDUP_COMPONENTS_SQL,
        "incremental component maintenance (delta graph contracted onto old labels); oracle = full recompute",
    ),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash, DEDUP_MINHASH_SQL, "MinHash+LSH near-dup pairs"),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL, "SimHash fingerprints"),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram, DEDUP_NGRAM_SQL, "blocked n-gram Jaccard"),
    "dedup_jaccard_prefix": QuerySpec(
        dedup_jaccard_prefix,
        DEDUP_PREFIX_SQL,
        "exact Jaccard join via prefix filtering (AllPairs/PPJoin, no false negatives)",
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup_embedding_cosine, DEDUP_EMBEDDING_SQL, "embedding-cosine near-dup on documents"
    ),
}
