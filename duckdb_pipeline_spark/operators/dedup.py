"""Deduplication operators for large text corpora (north-star ops,
BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard.

All deterministic and engine-portable by construction: the only hash
used is MD5 over explicit strings (identical in Spark and the DuckDB
oracle), "minimum" is the lexicographic min over fixed-width hex
strings — a valid uniform min-hash.

Scale design (100 TB corpus):
- everything is expressed as joins/groupBys on (doc_id, shingle) and
  (band, signature) keys — no pairwise O(n^2) stage ever materializes;
  LSH banding bounds candidate generation to true near-duplicates.
- the shingle explosion is the widest stage; it flows through a single
  map-side transform (split → slice → explode) with no shuffle until
  the minhash groupBy on doc_id.
- band-bucket self-join: bucket sizes follow collision probability;
  skewed buckets (boilerplate docs) are handled by AQE skew-join
  splitting.

Measured and rejected: a per-bucket ``groupBy(band_sig).applyInPandas``
plan (pairs + Jaccard inside each LSH bucket, 2 shuffles total) ran
~2x SLOWER than the mapped plan at sf0.1 — LSH produces tens of
thousands of near-singleton buckets and per-group pandas overhead
dominates. Tiny-group applyInPandas is an anti-pattern; reserve it for
few-large-group shapes (see similarity.cosine_pairs_blocked_vectorized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def word_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
    extra_cols: list[str] | None = None,
    local_distinct: bool = False,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle[, extra_cols]).

    Docs with fewer than ``n`` tokens produce no shingles (mirrors the
    DuckDB ``range`` formulation). ``distinct=False`` skips the dedup
    shuffle — correct for consumers like min-hash where duplicates
    cannot change the result. ``extra_cols`` are carried through
    unchanged (they ride the explode; with ``distinct`` they join the
    dedup key, which is safe because they are constant per document).

    ``local_distinct=True`` computes the per-document dedup MAP-SIDE
    (``array_distinct`` on the per-doc shingle array before explode) —
    zero shuffles, identical output set, because shingle uniqueness is
    a per-document property: one doc's shingles live in one row's
    array, so a global DISTINCT shuffle moves data only to rediscover
    locality it already had. The trade: the lambda-based ``transform``
    is interpreted (not codegen), so the map stage is slower per row —
    a win whenever the DISTINCT exchange dominates (any plan where the
    shingle table is branch-recomputed or corpus-sized; measured at
    sf1: containment 4.6 s -> shuffle-free variant, see
    queries/dedup.py notes).
    """
    extra = [F.col(c) for c in (extra_cols or [])]
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"), *extra)
    if local_distinct:
        parts_sql = ", ".join(f"element_at(t, i + {j})" for j in range(n))
        arr = F.expr(
            f"CASE WHEN size(t) >= {n} THEN array_distinct(transform("
            f"sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {parts_sql})"
            f")) ELSE array() END"
        )
        return toks.select(
            F.col(id_col), F.explode(arr).alias("shingle"), *extra
        )
    # explode an index sequence, then element_at + concat_ws — every
    # expression stays in whole-stage codegen (a transform() lambda
    # would drop the widest stage of the pipeline to interpreted eval;
    # measured ~3x slower per row — see local_distinct above for when
    # that trade reverses)
    ex = toks.select(
        F.col(id_col),
        F.col("t"),
        *extra,
        F.explode(F.expr(f"sequence(1, greatest(size(t) - {n - 1}, 1))")).alias("i"),
    ).where(F.col("i") <= F.size("t") - (n - 1))
    parts = [F.element_at("t", F.col("i") + j) for j in range(n)]
    out = ex.select(F.col(id_col), F.concat_ws(" ", *parts).alias("shingle"), *extra)
    return out.distinct() if distinct else out


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 16) -> DataFrame:
    """(id, h0..h{K-1}): per document, K independent min-hashes as
    LONG columns.

    Round-8 Carter-Wegman scheme (ONE md5 per shingle, 4x fewer
    digests than the old prefixed-lane family): a/b = little-endian
    u32 of md5 digest bytes [0,4)/[4,8), hash k = (a + k*b) mod 2^32,
    min over the doc's shingles. (a + k*b) mod 2^32 over uniform
    (a, b) is the standard 2-universal construction — adequate for LSH
    candidate generation, which is exact-Jaccard verified downstream.
    Engine-portable: DuckDB computes a/b as md5_number_upper % / //
    2^32 (== the same LE u64 of digest bytes [0,8)); the Python kernel
    (`_batch_lane_minhashes`) reads the same u32s via np.frombuffer.

    Plan shape: ONE shuffle — the md5 and the nibble-parsed a/b are
    plain column expressions (whole-stage codegen; a `transform`
    lambda would drop to interpreted evaluation), and the groupBy
    carries K min() aggregates with map-side partials. (The naive
    formulation — explode ×K then groupBy(id, k) — shuffles K× the
    data.)
    """

    def _le_u32(h: str, byte0: int) -> str:
        # little-endian u32 from md5 HEX chars [2*byte0+1 ..]: byte i
        # contributes nibble-pair value * 256^(i-byte0); instr nibble
        # lookup compiles identically in Spark SQL and DuckDB (the
        # Bloom-filter precedent, queries/dedup._bloom_lane_sql)
        terms = []
        for i in range(4):
            p = 2 * (byte0 + i) + 1
            hi = f"(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
            lo = f"(instr('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1)"
            # CAST the multiplier, not the product: the nibble pair is
            # INT and 255 * 256^3 overflows int32 under ANSI mode
            terms.append(f"({hi} * 16 + {lo}) * CAST({256 ** i} AS BIGINT)")
        return "(" + " + ".join(terms) + ")"

    per = shingles.select(F.col(id_col), F.md5(F.col("shingle")).alias("hx"))
    per = per.select(
        F.col(id_col),
        F.expr(_le_u32("hx", 0)).alias("a"),
        F.expr(_le_u32("hx", 4)).alias("b"),
    )
    lane_cols = [
        ((F.col("a") + F.lit(k) * F.col("b")) % F.lit(1 << 32)).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    per = per.select(F.col(id_col), *lane_cols)
    aggs = [F.min(F.col(f"mh{k}")).alias(f"h{k}") for k in range(num_hashes)]
    return per.groupBy(id_col).agg(*aggs)


def lsh_bands(
    minhashes: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, sig): concatenate each band's minhash columns."""
    n_bands = num_hashes // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    return minhashes.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", broadcast_self_join: bool = False
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band signature.

    ``broadcast_self_join=True``: hint one side broadcast — right when
    the band table is known-small (it is #docs × #bands rows, and a
    Python-map source has no stats, so Catalyst would otherwise plan a
    sort-merge join with two full shuffles). Leave False when the
    corpus is large: the shuffled hash join + AQE skew splitting is the
    scalable plan."""
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "sig")
    if broadcast_self_join:
        b = F.broadcast(b)
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(shingles: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    |A∩B| / (|A| + |B| - |A∩B|).

    The candidate set is tiny relative to the shingle table (that's the
    point of LSH) — broadcast it so the intersection count is two
    broadcast joins over one shingle scan each, not a repartition of
    the full shingle table."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        F.broadcast(pairs).join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs with exact-Jaccard
    verification: (doc_a, doc_b, jaccard >= threshold)."""
    # the shingle table feeds four plan branches (minhash + pair sides
    # + sizes); Spark doesn't CSE across branches, so persist it once
    sh = word_shingles(df, id_col, text_col, n).persist(
        StorageLevel.DISK_ONLY  # corpus-sized shingle cache; see queries/curation.py dsir note
    )
    mh = minhash_signatures(sh, id_col, num_hashes)
    bands = lsh_bands(mh, id_col, num_hashes, rows_per_band)
    cands = lsh_candidate_pairs(bands, id_col)
    return jaccard_verify(sh, cands, id_col).where(F.col("jaccard") >= threshold)


def _py_shingles(text, n: int) -> set:
    """Shingle set of one document; NULL text → empty set (the SQL
    formulations drop NULL-text docs the same way: string_split(NULL)
    is NULL and produces no rows)."""
    if text is None:
        return set()
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_lane_minhashes(sh: set, num_hashes: int) -> list[int]:
    """K Carter-Wegman min-hashes of one shingle set — the Python twin
    of `minhash_signatures` (round 8 scheme): per shingle ONE md5,
    a/b = little-endian u32 of digest bytes [0,4)/[4,8), hash k =
    (a + k*b) mod 2^32; min over shingles. One md5 per shingle instead
    of the old four prefixed digests — same family quality for LSH
    candidate generation ((a + k*b) mod 2^32 over uniform (a, b) is the
    standard 2-universal construction), and every downstream candidate
    is still exact-Jaccard verified. Engine-portable: DuckDB computes
    a/b as md5_number_upper(s) % / // 2^32 (its md5_number_upper IS the
    LE u64 of digest bytes [0,8) — verified against hashlib)."""
    import hashlib

    mask = (1 << 32) - 1
    ab = [
        (int.from_bytes(d[:4], "little"), int.from_bytes(d[4:8], "little"))
        for d in (hashlib.md5(s.encode()).digest() for s in sh)
    ]
    return [min((a + k * b) & mask for a, b in ab) for k in range(num_hashes)]


def _batch_lane_minhashes(shingle_sets: list, num_hashes: int):
    """(n_docs, num_hashes) int64 Carter-Wegman lane minima for a
    BATCH of shingle sets, hashing each distinct shingle of the batch
    ONCE — boilerplate-heavy corpora repeat shingles across documents,
    so the md5 count drops from sum(|doc|) to |batch vocabulary| (and
    round 8 cut it a further 4x vs the prefixed-lane scheme: one digest
    yields all K hashes via (a + k*b) mod 2^32). Bitwise-identical to
    stacking `_py_lane_minhashes` per doc; the per-doc min runs as one
    `np.minimum.reduceat` over the concatenated index list."""
    import hashlib

    import numpy as np

    vocab: dict = {}
    flat: list[int] = []
    bounds: list[int] = [0]
    for sh in shingle_sets:
        for s in sh:
            k = vocab.get(s)
            if k is None:
                k = len(vocab)
                vocab[s] = k
            flat.append(k)
        bounds.append(len(flat))
    if not flat:
        return np.empty((0, num_hashes), dtype=np.int64)
    assert 0 not in np.diff(bounds), "empty shingle set in batch (filter first)"
    idx = np.asarray(flat, dtype=np.int64)
    starts = np.asarray(bounds[:-1], dtype=np.int64)
    md5 = hashlib.md5
    # one contiguous digest buffer -> (vocab, 4) LE u32; cols 0/1 are
    # a/b (digest bytes [0,4)/[4,8) little-endian == DuckDB's
    # md5_number_upper % / // 2^32)
    buf = b"".join(md5(s.encode()).digest() for s in vocab)
    ab = np.frombuffer(buf, dtype="<u4").reshape(-1, 4)[:, :2].astype(np.uint64)
    ks = np.arange(num_hashes, dtype=np.uint64)
    lanes = (ab[:, :1] + ks[None, :] * ab[:, 1:2]) & np.uint64(0xFFFFFFFF)
    return np.minimum.reduceat(lanes[idx], starts, axis=0).astype(np.int64)


def minhash_signatures_mapped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Minhash in one map pass: the signature is a pure per-document
    function (shingle → K/4 md5 → K lane mins), so compute it in one
    mapInPandas pass — no explode, no groupBy. Identical output to
    `minhash_signatures(word_shingles(df))`.

    On well-split input this is shuffle-free, the 100 TB shape:
    signature extraction scales with input partitions only, the corpus
    is scanned once and nothing wider than (id, K×8-char hex) ever
    moves. An under-split local scan is first round-robin re-split by
    `queries.common.spread`."""
    import pandas as pd

    from ..queries.common import spread

    def sign(batches):
        for pdf in batches:
            ids, sets = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                ids.append(doc_id)
                sets.append(sh)
            mins = _batch_lane_minhashes(sets, num_hashes)
            out = {id_col: pd.Series(ids, dtype="int64")}
            for k in range(num_hashes):
                out[f"h{k}"] = mins[:, k]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(f"h{k} long" for k in range(num_hashes))
    return spread(df.select(id_col, text_col)).mapInPandas(sign, schema)


def minhash_bands_mapped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, sig) directly from one mapInPandas pass — the
    signature map and the band projection fused, so the LSH pipeline
    never materializes the K hash columns at all. Bitwise-identical to
    `lsh_bands(minhash_signatures_mapped(df))`."""
    import pandas as pd

    from ..queries.common import spread

    n_bands = num_hashes // rows_per_band

    def sign(batches):
        for pdf in batches:
            doc_ids, sets = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                doc_ids.append(doc_id)
                sets.append(sh)
            mins = _batch_lane_minhashes(sets, num_hashes)
            ids, bandix, sigs = [], [], []
            for i, doc_id in enumerate(doc_ids):
                hs = mins[i]
                for b in range(n_bands):
                    ids.append(doc_id)
                    bandix.append(b)
                    sigs.append(
                        "|".join(
                            str(v)
                            for v in hs[b * rows_per_band : (b + 1) * rows_per_band]
                        )
                    )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "band": pd.Series(bandix, dtype="int32"),
                    "sig": pd.Series(sigs, dtype="object"),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        sign, f"{id_col} long, band int, sig string"
    )


def shingle_sets_mapped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, shingles array<string> sorted distinct) in one map pass —
    the per-doc set representation for exact Jaccard verification."""
    import pandas as pd

    from ..queries.common import spread

    def to_sets(batches):
        for pdf in batches:
            rows = [
                (doc_id, sorted(_py_shingles(text, n)))
                for doc_id, text in zip(pdf[id_col], pdf[text_col])
            ]
            rows = [(i, s) for i, s in rows if s]
            yield pd.DataFrame(
                {
                    id_col: pd.Series([r[0] for r in rows], dtype="int64"),
                    # explicit object dtype: an all-dropped batch would
                    # otherwise yield a float64 empty column that Arrow
                    # can't convert to list<string>
                    "shingles": pd.Series([r[1] for r in rows], dtype="object"),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        to_sets, f"{id_col} long, shingles array<string>"
    )


def minhash_lsh_dedup_mapped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    bands: DataFrame | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH with the shuffle- and job-minimal plan:

    1. band signatures: ONE mapInPandas pass emits (id, band, sig)
       directly (corpus scan #1) — no hash columns, no explode stage;
    2. self-join on (band, sig) → distinct pairs — the only wide
       shuffles, all over tiny signature-sized data;
    3. verification with NO pair-keyed shuffle: each pair picks up
       both member texts via two joins against the corpus (scans #2
       and #3 — AQE broadcasts the pair side when it is small), then
       one mapInPandas computes both shingle sets and the exact
       Jaccard per pair row. The earlier formulation (explode pairs
       into membership rows, build shingle ARRAYS in a map pass,
       min_by/max_by-reassemble under a groupBy) moved the ~8x-larger
       shingle arrays through an extra Exchange and measured ~40%
       slower at sf0.1 (1.25 s vs 0.91 s min-of-5); here nothing wider
       than raw text ever shuffles, and only when AQE demotes the
       broadcast.

    Broadcast decisions are left to AQE's RUNTIME statistics, not to
    driver-side counts and not to unconditional hints: mapInPandas
    outputs have no compile-time stats (a naive hint here was the
    round-1 OOM risk — a boilerplate-heavy corpus can produce candidate
    sets far beyond driver memory), and AQE converts a shuffled join to
    broadcast exactly when the materialized side is actually small,
    with skew-join splitting on the fallback path. Doing the gate with
    explicit ``persist().count()`` barriers (the round-1 fix) was
    measured ~2x slower at sf0.1: each count is a full job barrier, and
    the engine's own post-shuffle gate makes the same decision for
    free. ``bands`` is still persisted — both sides of the self-join
    read it, and without the cache the signature map would run twice.

    A hub doc (member of m pairs) has its shingle set built m times;
    verification work is O(total pair memberships), the same bound as
    the verify join itself. Bitwise-identical to `minhash_lsh_dedup`
    (same hashes, same set arithmetic; the only float op is one final
    division on identical integers)."""
    # REPARTITION BY THE JOIN KEY BEFORE CACHING (round 7): the cached
    # InMemoryRelation preserves its outputPartitioning, so a
    # (band, sig)-partitioned cache satisfies BOTH sides of the
    # self-join's distribution requirement — the join plans with ZERO
    # exchanges instead of shuffling the cached table twice. One
    # exchange paid once into the cache replaces two paid per action:
    # measured 1.02-1.12 -> 0.72-0.89 s at sf0.1 (min-of-4 A/B,
    # identical pairs). The classic reuse-a-partitioning-across-stages
    # pattern; at corpus scale it also co-locates the skewed hot
    # signatures once instead of twice.
    # ``bands``: a caller-supplied precomputed (id, band, sig) relation
    # for the SAME (n, num_hashes, rows_per_band) — the band-index
    # write/append paths sign their corpus once and feed every
    # consumer (round 14); the caller owns its partitioning/persist.
    if bands is None:
        bands = (
            minhash_bands_mapped(df, id_col, text_col, n, num_hashes, rows_per_band)
            .repartition(F.col("band"), F.col("sig"))
            .persist()
        )
    pairs = lsh_candidate_pairs(bands, id_col, broadcast_self_join=False)

    # attach both member texts to each pair (a hub doc in m pairs is
    # duplicated m times — the same O(total pair memberships) bound as
    # any verify formulation; LSH banding is what keeps it small)
    ta = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("text_a"))
    tb = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("text_b"))
    both = ta.join(pairs, "doc_a").join(tb, "doc_b")

    import pandas as pd

    def jac_batch(batches):
        for pdf in batches:
            rows = []
            for a, b, xa, xb in zip(
                pdf["doc_a"], pdf["doc_b"], pdf["text_a"], pdf["text_b"]
            ):
                sa = _py_shingles(xa, n)
                sb = _py_shingles(xb, n)
                # a shingle-less side cannot verify (matches the
                # relational twin: no sh rows -> the pair drops out)
                if not sa or not sb:
                    continue
                ni = len(sa & sb)
                rows.append((a, b, ni / (len(sa) + len(sb) - ni)))
            yield pd.DataFrame(
                {
                    "doc_a": pd.Series([r[0] for r in rows], dtype="int64"),
                    "doc_b": pd.Series([r[1] for r in rows], dtype="int64"),
                    "jaccard": pd.Series([r[2] for r in rows], dtype="float64"),
                }
            )

    return (
        both.mapInPandas(jac_batch, "doc_a long, doc_b long, jaccard double")
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints_mapped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = 32,
) -> DataFrame:
    """SimHash in one map pass: the fingerprint is a pure per-document
    function — one mapInPandas pass, no explode, no groupBy. Identical
    bit extraction to `simhash_fingerprints` (hex nibble b//4, bit
    b%4), so outputs match bitwise. On well-split input this is
    shuffle-free, the ideal 100 TB shape: a map-only stage that scales
    with input splits. An under-split local scan is first round-robin
    re-split by `queries.common.spread`."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..queries.common import spread

    # bit b of a shingle = bit (b % 4) of the VALUE of hex char (b // 4)
    # of its md5 (hex char c = md5 bits [4c, 4c+4) big-endian) — the
    # same extraction as the relational formulation, done here on the
    # digest bytes: hex char 2i is the high nibble of byte i, 2i+1 the
    # low nibble. Vectorized: the per-shingle × per-bit Python loop was
    # the hot path (measured ~2.5x of this op's wall time).
    n_hex = (bits + 3) // 4
    n_bytes = (n_hex + 1) // 2
    bit_hex = np.arange(bits) // 4  # hex-char index per output bit
    bit_shift = np.arange(bits) % 4
    powers = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def fingerprint(batches):
        for pdf in batches:
            ids, all_digs, counts = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                ids.append(doc_id)
                all_digs.append(
                    b"".join(hashlib.md5(s.encode()).digest()[:n_bytes] for s in sh)
                )
                counts.append(len(sh))
            if not ids:
                continue
            # one numpy pass over the whole Arrow batch: per-doc ±1 bit
            # sums via reduceat at the doc boundaries
            A = np.frombuffer(b"".join(all_digs), dtype=np.uint8).reshape(-1, n_bytes)
            nibs = np.empty((A.shape[0], n_bytes * 2), dtype=np.uint8)
            nibs[:, 0::2] = A >> 4
            nibs[:, 1::2] = A & 0x0F
            pm = (2 * ((nibs[:, bit_hex] >> bit_shift) & 1).astype(np.int64)) - 1
            offsets = np.concatenate(
                ([0], np.cumsum(counts[:-1], dtype=np.int64))
            ).astype(np.int64)
            sums = np.add.reduceat(pm, offsets, axis=0)  # (n_docs, bits)
            fps = ((sums > 0).astype(np.int64) * powers[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        fingerprint, f"{id_col} long, simhash long"
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text
    with the keeper id (min) and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# The whitespace class is EXPLICIT (not \s) because the two engines'
# regex dialects disagree at the edges: Java \s includes \x0B vertical
# tab, RE2 (DuckDB) \s does not — a text containing \x0B would hash
# differently per engine and break oracle parity (ADVICE r12). This
# class is the intersection both dialects spell identically.
NORM_WS_CLASS = r"[ \t\r\n\f\x0B]+"


def normalize_text(col: Column) -> Column:
    """Casefold + collapse whitespace + trim — the standard
    normalization applied before exact dedup in web-corpus pipelines
    (the CCNet/Dolma "exact dedup after normalization" tier between raw
    byte-hash dedup and MinHash: catches trivially re-encoded twins at
    exact-dedup cost). Expressed with built-ins only so both engines
    compute the identical key: the explicit NORM_WS_CLASS (see above)
    replaces \\s, and the collapse runs BEFORE trim so edge tabs /
    newlines reduce to ' ' and are then trimmed by both engines' plain
    space-trim identically. Residual caveat (documented, not fixed):
    JVM lower() and DuckDB lower() can diverge on exotic Unicode
    casefold edge cases (e.g. U+0130 İ) — the corpus contract here is
    ASCII-cased text; the locale-robust tier EXISTS as
    `normalize_key_unicode`/`normalized_exact_dedup_unicode` (round
    14: NFKC + full casefold via an Arrow kernel; declared consumer
    `dedup_exact_unicode`)."""
    return F.trim(F.regexp_replace(F.lower(col), NORM_WS_CLASS, " "))


def normalized_exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on the NORMALIZED content key. Same single-shuffle
    shape as `exact_dedup` (normalization is a map-side expression, so
    the 100 TB cost is identical: one groupBy on a 32-byte hash);
    `n_raw_variants` counts how many distinct RAW hashes each
    normalized group collapses — the rows this tier catches that raw
    exact dedup misses."""
    norm = normalize_text(F.col(text_col))
    return (
        df.select(
            F.col(id_col),
            F.md5(norm).alias("norm_hash"),
            F.md5(F.col(text_col)).alias("raw_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
    )


def normalize_key_unicode(text: str) -> str:
    """The unicode-tier normalization key for one string (round 14,
    VERDICT r13 #7 — the locale-robust close-out of `normalize_text`'s
    documented U+0130 caveat): NFKC -> full Unicode casefold -> NFKC
    again (composes combining sequences the casefold can introduce),
    then the SAME explicit whitespace collapse + trim as the ASCII
    tier. NFKC first maps compatibility forms to canonical ones
    (fullwidth letters -> ASCII, ligatures ﬁ -> fi, NBSP -> space,
    superscripts -> digits); `str.casefold` applies the full Unicode
    case folding (ß -> ss, Σ/ς -> σ) with no locale dependence.

    Approximate compatibility-caseless matching, not the full UAX #21
    ladder: a handful of exotic points still do not round-trip to
    their ASCII look-alikes — U+0130 İ casefolds to 'i' + combining
    dot (U+0307), which is CORRECT Unicode behavior (the dot is real
    outside Turkish locale rules) and pinned in the differential
    test. For pure-ASCII input the key equals the ASCII tier's
    (property-pinned)."""
    import re
    import unicodedata

    folded = unicodedata.normalize(
        "NFKC", unicodedata.normalize("NFKC", text).casefold()
    )
    return re.sub(r"[ \t\r\n\f\x0B]+", " ", folded).strip()


def normalized_exact_dedup_unicode(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup keyed on the UNICODE normalization tier
    (`normalize_key_unicode`), same single-shuffle shape as
    `normalized_exact_dedup`: the key is computed map-side (one Arrow
    batch pass — the JVM has no NFKC/casefold built-in, so this is a
    legitimate Python stage, amortized like every other Arrow kernel
    here), then one groupBy on the 32-byte key hash. Output drops the
    key bytes themselves — (keeper_id, n_copies, n_raw_variants) — so
    consumers (and the cross-engine oracle) assert the GROUPING the
    tier induces, not engine-specific key encodings."""
    import hashlib as _hl

    import pandas as pd

    def kern(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "norm_hash": [
                        _hl.md5(
                            normalize_key_unicode(t).encode("utf-8")
                        ).hexdigest()
                        for t in pdf[text_col]
                    ],
                    "raw_hash": [
                        _hl.md5(t.encode("utf-8")).hexdigest()
                        for t in pdf[text_col]
                    ],
                }
            )

    keyed = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kern, "id long, norm_hash string, raw_hash string"
    )
    return (
        keyed.groupBy("norm_hash")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
        .select("keeper_id", "n_copies", "n_raw_variants")
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, bits: int = 32
) -> DataFrame:
    """Per-document SimHash fingerprint over word n-gram shingles.

    Bit b of md5(shingle) is extracted portably from the hex string
    (char index b//4, bit b%4); bit of the fingerprint = sign of the
    sum of (2*bit-1) over shingles. Returns (id, simhash BIGINT).
    """
    sh = word_shingles(df, id_col, text_col, n).select(
        F.col(id_col), F.md5(F.col("shingle")).alias("h")
    )
    # one ±1 expression per bit, all evaluated per shingle row inside
    # codegen; ONE shuffle with `bits` map-side partial sums (the
    # explode-×bits formulation shuffles bits× the data)
    bit_exprs = [
        F.expr(
            f"CASE WHEN (shiftright(instr('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1, {b % 4}) & 1) = 1 "
            "THEN 1 ELSE -1 END"
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    sums = sh.select(F.col(id_col), *bit_exprs).groupBy(id_col).agg(
        *[F.sum(f"v{b}").alias(f"s{b}") for b in range(bits)]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


def ngram_jaccard_blocked(
    docs: DataFrame,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """All-pairs n-gram Jaccard within blocking-key groups.

    Blocking bounds the pair space (classic blocked dedup); within a
    block, candidate pairs are generated by the shingle join itself —
    only docs sharing at least one shingle ever pair up.
    """
    sh = word_shingles(docs, id_col, text_col, n).join(
        docs.select(id_col, block_col), id_col
    ).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("doc_a"), F.col(block_col).alias("blk"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col(block_col).alias("blk"), "shingle")
    inter = (
        a.join(b, ["blk", "shingle"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_join(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs with shingle-Jaccard
    >= threshold_num/threshold_den, via prefix filtering (the
    AllPairs/PPJoin candidate bound — Bayardo et al. WWW'07, Xiao et
    al. WWW'08; public algorithms).

    Unlike MinHash-LSH this has NO false negatives: the output is
    bitwise-identical to the brute-force all-pairs join, but the pair
    space never materializes. For Jaccard(a,b) >= t, the overlap obeys
    ni >= t*max(na, nb) (ni >= t*(na+nb-ni) and nb >= ni). Order all
    shingles by a global total order (document frequency asc, shingle
    asc — rarest first); keeping each doc's first p = n - ceil(t*n) + 1
    shingles, any qualifying pair MUST share a prefix shingle
    (pigeonhole: a's non-prefix tail has ceil(t*na) - 1 < ni shingles).
    Candidates therefore come from a self-join on PREFIX shingles only
    — bounded by rare-token collisions, not corpus size — then are
    verified with the exact intersection count.

    All threshold comparisons are integer (den*ni >= num*(na+nb-ni),
    den*nb >= num*na): no float rounding can disagree with the oracle.
    ceil(t*n) = (num*n + den - 1) div den, integer on both engines.

    Scale shape (100 TB): df computation is one groupBy(shingle);
    prefix selection one window on doc_id; the candidate join keys on
    rare shingles (high-df shingles fall outside every prefix), so
    bucket sizes stay small by construction — the property that makes
    AllPairs viable where a naive shingle self-join explodes. Skewed
    residual buckets are split by AQE skew-join.
    """
    from pyspark.sql import Window

    t_num, t_den = threshold_num, threshold_den
    sh = word_shingles(docs, id_col, text_col, n).persist()
    # every relation below (shingles, per-doc sizes, vocab df) is
    # CORPUS-derived: none is broadcastable at scale, but the static
    # planner's post-aggregation size estimates are optimistic enough
    # that it tried to broadcast ALL of them — at sf10 the full shingle
    # table became a BroadcastHashJoin build side and the query died
    # with "Not enough memory to build and broadcast" (found by the
    # sweep). Pin every such join to sort-merge with merge hints.
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")).hint("merge")
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).hint("merge")
    ranked = (
        sh.join(df_tbl, "shingle")
        .join(sizes, id_col)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "shingle")
            ),
        )
    )
    # prefix length p = n - ceil(t*n) + 1, integer-exact
    pref = ranked.where(
        F.col("rn")
        <= F.col("n") - F.expr(f"({t_num} * n + {t_den - 1}) div {t_den}") + 1
    ).select(F.col(id_col), "shingle", "n")
    a = pref.select(
        F.col(id_col).alias("doc_a"), F.col("n").alias("na"), "shingle"
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"), F.col("n").alias("nb"), "shingle"
    )
    cand = (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (t_den * F.col("nb") >= t_num * F.col("na"))
            & (t_den * F.col("na") >= t_num * F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle").hint("merge")
    sb = sh.select(F.col(id_col).alias("doc_b"), "shingle").hint("merge")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(za.hint("merge"), "doc_a")
        .join(zb.hint("merge"), "doc_b")
        .where(
            t_den * F.col("ni") >= t_num * (F.col("na") + F.col("nb") - F.col("ni"))
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jaccard"),
        )
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 8,
    on_budget: str = "star",
) -> DataFrame:
    """Cluster near-dup PAIRS into duplicate GROUPS: connected
    components over the pair graph, component id = min member id (the
    canonical keeper a dedup pipeline retains).

    Algorithm: min-label propagation — every node starts labeled with
    its own id; each round a node takes the min of its label and its
    neighbors' labels; converged when a round changes nothing.
    Per round: one join (edges x labels) + one groupBy min — both on
    edge-sized data, which LSH has already bounded to true near-dups
    (orders of magnitude smaller than the corpus). Rounds needed =
    component diameter; near-dup clusters are tiny cliques-of-cliques
    (diameter 2-4), so this beats the O(log n) star-contraction
    alternative (Kiveris et al., "Connected Components in MapReduce")
    in practice. If the budget trips anyway (a component's diameter
    exceeds max_iter — chains of incrementally-edited boilerplate do
    this at corpus scale), `on_budget="star"` (default) falls back to
    `connected_components_star`, whose O(log^2 n) round budget is
    diameter-independent and whose labeling is identical — so the
    operator never errors at scale and callers need not know the
    escape hatch. The default budget is 8, not larger: real near-dup
    cliques converge in 2-4 rounds, and past ~8 rounds the star
    restart is cheaper than continuing propagation (sf10 measurement:
    a 25-round budget burned ~40 s of propagation before the fallback
    on the diameter-25 component; 8 rounds trip in a third of that).
    `on_budget="raise"` keeps the old fail-fast guard for callers that
    want to detect pathological graphs.
    `localCheckpoint` truncates the growing lineage each round (the
    standard iterative-DataFrame hazard); the driver-side loop is
    bounded and each round is one distributed action."""
    edges = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    edges = edges.distinct().localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.a, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        if on_budget == "star":
            # Diameter > max_iter: restart with star contraction, whose
            # round budget is diameter-independent. Restarting (rather
            # than resuming from the partial labels) keeps the fallback
            # a pure function of `pairs`; the propagation rounds already
            # spent are edge-sized work, negligible next to the LSH that
            # produced the pairs.
            return connected_components_star(pairs, src=src, dst=dst)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): a component's diameter "
            "exceeds max_iter; raise max_iter or switch to star-contraction"
        )

    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the documented upgrade path from min-label
    propagation (`connected_components`): propagation needs
    diameter-many rounds, star contraction converges in O(log^2 n)
    rounds INDEPENDENT of diameter, so a pathological chain component
    (doc A near-dups B near-dups C ... — common in incrementally-edited
    boilerplate) cannot blow the round budget at 100 TB.

    Per round each phase is one groupBy-min + one join on edge-sized
    data; edges only ever point toward smaller ids, and at the joint
    fixpoint every edge is (node -> component minimum), which is
    exactly the (doc_id, component) labeling `connected_components`
    produces — outputs are identical (pytest-asserted, including a
    50-node path where propagation's default budget fails).

    localCheckpoint truncates per-round lineage (same hazard note as
    the propagation variant).
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(edges: DataFrame) -> DataFrame:
        d = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = d.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            d.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        d = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        joined = d.join(mins, "u")
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
            joined.select("u", F.col("m").alias("v"))
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iter):
        e2 = small_star(large_star(e)).localCheckpoint(eager=True)
        same = (
            e2.count() == e.count()
            and e2.exceptAll(e).limit(1).count() == 0
        )
        e = e2
        if same:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )

    # fixpoint edges are (node -> component min); minima label themselves
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    minima = nodes.join(
        e.select(F.col("u").alias("id")).distinct(), "id", "left_anti"
    ).select(F.col("id").alias("doc_id"), F.col("id").alias("component"))
    return labels.unionByName(minima)


# --------------------------------------------------------------- incremental


def minhash_band_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n_buckets: int = 8,
) -> None:
    """Persist the near-dup index for a corpus batch: one parquet row
    per (doc, band) holding the band signature and the doc's duplicate-
    component label, partitioned by ``(band, bucket)`` where bucket =
    pmod(hash(sig), n_buckets).

    This is the operational shape of incremental dedup at corpus scale
    (the reference's whole character is incremental hourly batches —
    scripts/run_serialise_raw_data.py, README.md:30-37): the corpus is
    signed ONCE at ingest; each new batch then probes the index by
    signature without ever rescanning indexed text. Labels come from
    jaccard-verified LSH pairs -> large-star/small-star components (the
    O(log^2 n) variant), so a probe hit immediately resolves to the
    existing duplicate cluster. The bucket partition key exists for the
    probe's partition pruning: a small batch only touches the
    (band, bucket) cells its own signatures hash into, so the probe
    scan reads a bounded fraction of the index regardless of corpus
    size (same layout idea as similarity.ivf_write_index).
    """
    # ONE signature pass (round 14): the banded signatures feed both
    # the index rows and the pair generation (previously the corpus
    # was signed twice — once relational for the rows, once in the
    # mapped dedup; outputs are bitwise-identical, pytest-pinned)
    bands = (
        minhash_bands_mapped(docs, id_col, text_col, n, num_hashes, rows_per_band)
        .repartition(F.col("band"), F.col("sig"))
        .persist()
    )
    pairs = minhash_lsh_dedup_mapped(
        docs, id_col, text_col, n, num_hashes, rows_per_band, bands=bands
    )
    labels = connected_components_star(pairs).withColumnsRenamed(
        {"doc_id": id_col} if id_col != "doc_id" else {}
    )
    out = (
        bands.join(labels, id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("bucket", F.pmod(F.hash(F.col("sig")), F.lit(n_buckets)))
    )
    out.write.mode("overwrite").partitionBy("band", "bucket").parquet(path)


def minhash_band_index_append(
    spark,
    index_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n_buckets: int = 8,
    verify_docs: DataFrame | None = None,
    threshold: float = 0.5,
) -> None:
    """Append an admitted batch to the persisted band index — the write
    half of the hourly trickle (probe gates admission, append indexes
    what was admitted, so the NEXT batch's probe sees this one).

    Labeling (round 14 — closes both r13 gaps: ADVICE's unverified
    inheritance and the within-batch-singleton caveat): the batch's
    duplicate-cluster labels come from star-contraction components
    over the DELTA graph — verified within-batch LSH pairs plus one
    anchor edge per verified probe hit (new doc -> the indexed doc's
    existing component label), the same label-contraction algebra as
    `queries.dedup.dedup_components_incremental`. So duplicate pairs
    arriving inside ONE batch now share a component even when nothing
    indexed matches them, and with ``verify_docs`` (the indexed corpus
    (id, text) — candidate-bounded: only colliding docs' text is
    fetched, via a semi-join a bucketed corpus table prunes) a probe
    hit must pass exact shingle-Jaccard >= ``threshold`` before its
    component is inherited — the SAME verification the rebuild path
    applies, so a false-positive band collision can no longer mislabel
    a new doc. Without ``verify_docs`` anchor hits are UNVERIFIED
    candidates (signature equality only; documented trade for callers
    with no corpus handle — e.g. a gate appending only collision-free
    admitted docs, whose anchor set is empty by construction).

    Residual divergence from a full rebuild, both inherent to
    append-only labeling (a rebuild clears them): (a) a batch doc
    bridging two existing components labels itself min(anchors) but
    cannot relabel the indexed rows of the other component; (b) a
    batch doc with an id SMALLER than its component's existing min
    cannot pull the indexed rows down to it. Ids that grow with ingest
    time (the operational norm) never trigger (b). The oracle-checked
    protocol row `band_index_append_equals_rebuild` pins everything
    else bitwise.

    Self-collisions (``dup_of == doc_id``) are dropped so a REPLAYED
    batch (checkpoint recovery re-running a foreachBatch append)
    re-derives identical labels against an index that already contains
    its own rows; the replay's duplicate index rows are harmless to
    probes (candidate set is DISTINCT) and fold away at the next
    `sinks.compact_partitioned`.

    The append writes one file per touched (band, bucket) cell per
    batch; after many batches the per-cell file count is the classic
    small-files problem — run `sinks.compact_partitioned(spark, path,
    ["band", "bucket"])` periodically (round 13; equality and preserved
    pruning pinned in tests/test_round13_ops.py)."""
    # persisted for its three consumers (probe join, within-batch
    # self-join, output rows) and RELEASED after the write: a gate
    # stream calls this once per micro-batch, and un-released batch
    # caches would accumulate for the stream's whole lifetime
    batch_bands = (
        minhash_bands_mapped(new_docs, id_col, text_col, n, num_hashes, rows_per_band)
        .repartition(F.col("band"), F.col("sig"))
        .persist()
    )
    hits = minhash_band_index_probe(
        spark, index_path, new_docs, id_col, text_col, n, num_hashes,
        rows_per_band, n_buckets, probe_bands=batch_bands,
    ).where(F.col(id_col) != F.col("dup_of"))
    if verify_docs is not None:
        cand = hits.select(
            F.col(id_col).alias("doc_a"), F.col("dup_of").alias("doc_b")
        ).distinct()
        cand_docs = verify_docs.select(F.col(id_col), F.col(text_col)).join(
            cand.select(F.col("doc_b").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        sh = word_shingles(
            new_docs.select(F.col(id_col), F.col(text_col)).unionByName(cand_docs),
            id_col,
            text_col,
            n,
        )
        ok = (
            jaccard_verify(sh, cand, id_col)
            .where(F.col("jaccard") >= threshold)
            .select(
                F.col("doc_a").alias(id_col), F.col("doc_b").alias("dup_of")
            )
        )
        hits = hits.join(ok, [id_col, "dup_of"], "left_semi")
    wb = minhash_lsh_dedup_mapped(
        new_docs, id_col, text_col, n, num_hashes, rows_per_band, threshold,
        bands=batch_bands,
    ).select("doc_a", "doc_b")
    anchors = hits.select(
        F.col(id_col).alias("doc_a"), F.col("component").alias("doc_b")
    )
    comp = connected_components_star(wb.unionByName(anchors)).select(
        F.col("doc_id").alias(id_col) if id_col != "doc_id" else F.col("doc_id"),
        "component",
    )
    out = (
        batch_bands.join(comp, id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("bucket", F.pmod(F.hash(F.col("sig")), F.lit(n_buckets)))
    )
    try:
        out.write.mode("append").partitionBy("band", "bucket").parquet(index_path)
    finally:
        batch_bands.unpersist()


def minhash_band_index_probe(
    spark,
    index_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n_buckets: int = 8,
    probe_bands: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted band index with a new batch: returns one row
    per cross-batch candidate duplicate, ``(doc_id, dup_of,
    component)`` — the new doc, the indexed doc whose band signature it
    collides with, and that doc's existing duplicate-cluster label.

    The index scan is PARTITION-PRUNED to the (band, bucket) cells the
    probe batch's own signatures occupy: the batch's cell set is
    collected driver-side (bounded by n_bands * n_buckets regardless of
    batch size) and pushed as a partition filter, so probing an
    hourly batch against a 100 TB corpus index reads only the matching
    cells, never the whole index. Indexed TEXT is never read at all —
    signature equality is the candidate test (in-batch dedup and any
    exact-Jaccard confirmation over the candidate pairs are separate,
    candidate-bounded stages).
    """
    if probe_bands is None:
        sh = word_shingles(new_docs, id_col, text_col, n, distinct=False)
        probe_bands = lsh_bands(
            minhash_signatures(sh, id_col, num_hashes),
            id_col, num_hashes, rows_per_band,
        )
    probe = probe_bands.withColumn(
        "bucket", F.pmod(F.hash(F.col("sig")), F.lit(n_buckets))
    )
    cells = probe.select("band", "bucket").distinct().collect()
    by_band: dict[int, list[int]] = {}
    for r in cells:
        by_band.setdefault(int(r["band"]), []).append(int(r["bucket"]))
    if not by_band:  # empty batch: no cells, no matches
        return spark.createDataFrame(
            [], f"{id_col} long, dup_of long, component long"
        )
    cond = None
    for band, buckets in sorted(by_band.items()):
        c = (F.col("band") == band) & F.col("bucket").isin(buckets)
        cond = c if cond is None else (cond | c)
    idx = (
        spark.read.parquet(index_path)
        .where(cond)
        .select(
            F.col(id_col).alias("dup_of"), "band", "sig", "component"
        )
    )
    return (
        probe.join(idx, ["band", "sig"])
        .select(F.col(id_col), "dup_of", "component")
        .distinct()
    )
