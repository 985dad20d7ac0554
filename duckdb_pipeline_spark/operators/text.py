"""Text-analysis operators (north-star ops): token statistics, quality
scoring, language-ID heuristic, document fingerprinting.

All pure JVM-side column expressions (whole-stage codegen, no UDFs):
at 100 TB these run at parquet-scan speed. Ratios are single IEEE
divisions of integer counts — bitwise-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small english stopword list used by the language-ID heuristic.
STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "it", "that", "for"]

# BPE-ish token pattern: letter runs | digit runs | single punctuation.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace-token statistics per document."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        (
            (F.length(F.col(text_col)) - F.size(toks) + 1).cast("double") / F.size(toks)
        ).alias("avg_token_len"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_PATTERN)).alias("n_bpe_tokens"),
    )


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality score from length / stopword / uniqueness
    ratios (the standard LLM-corpus filtering features). ``keep``
    carries extra input columns through the projection (e.g. a dup
    flag for calibration reports)."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        (
            F.lit(0.4) * len_score + F.lit(0.3) * stop_ratio + F.lit(0.3) * uniq_ratio
        ).alias("quality_score"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language-ID heuristic: 'en' when common english
    function words exceed 2% of tokens, else 'unk'."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double") / F.size(toks)
    )
    return df.select(
        F.col(id_col),
        stop_ratio.alias("en_score"),
        F.when(stop_ratio > 0.02, "en").otherwise("unk").alias("lang_pred"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set (bag-of-words fingerprint; catches shuffled /
    re-ordered near-duplicates that exact hashing misses)."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("bow_fingerprint"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
URL_RE = "https?://[^ ]+"
LONG_DIGITS_RE = "[0-9]{6,}"


def scrub_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Training-corpus PII scrub: mask emails, URLs, and long digit
    runs (ids, phone numbers); report the redaction count per doc.
    Pure regexp column expressions — scan-speed at 100 TB."""
    c = F.col(text_col)
    n_red = (
        F.regexp_count(c, F.lit(EMAIL_RE))
        + F.regexp_count(c, F.lit(URL_RE))
        + F.regexp_count(c, F.lit(LONG_DIGITS_RE))
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ),
        LONG_DIGITS_RE,
        "<NUM>",
    )
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_red.cast("long").alias("n_redactions"),
    )


def scrub_pii_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """`scrub_pii` with the regex engine swapped: pyarrow.compute's
    RE2-backed kernels (`count_substring_regex`,
    `replace_substring_regex`) run vectorized C++ over the Arrow
    batches that mapInPandas already transports — no per-row Python.

    Why it exists: Java's backtracking regex is the one hot loop where
    the JVM path loses to RE2-based engines at scale (measured ~7x at
    sf1 on this op). The patterns here are regular (no backrefs or
    lookarounds), so RE2 and java.util.regex agree exactly; a pytest
    asserts bitwise-identical output to `scrub_pii` and the DuckDB
    oracle (itself RE2) stays unchanged."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def scrub(batches):
        for pdf in batches:
            arr = pa.array(pdf[text_col], type=pa.string())
            n = pc.add(
                pc.add(
                    pc.count_substring_regex(arr, EMAIL_RE),
                    pc.count_substring_regex(arr, URL_RE),
                ),
                pc.count_substring_regex(arr, LONG_DIGITS_RE),
            )
            clean = pc.replace_substring_regex(
                pc.replace_substring_regex(
                    pc.replace_substring_regex(arr, EMAIL_RE, "<EMAIL>"),
                    URL_RE,
                    "<URL>",
                ),
                LONG_DIGITS_RE,
                "<NUM>",
            )
            import pandas as pd

            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "clean_text": clean.to_pandas(),
                    "n_redactions": pd.Series(
                        n.cast(pa.int64()).to_pandas(), index=pdf.index
                    ),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        scrub, f"{id_col} long, clean_text string, n_redactions long"
    )


def chunk_tokens(
    df: DataFrame,
    chunk: int = 50,
    stride: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (the context-window prep step
    for LLM training): chunk of ``chunk`` tokens every ``stride``
    tokens. One explode over the stride positions — no shuffle, output
    size = n_tokens/stride chunks per doc."""
    toks = F.split(F.col(text_col), " ")
    ex = df.select(
        F.col(id_col),
        toks.alias("t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
        ).alias("start"),
    ).where(F.col("start") <= F.size("t"))
    piece = F.slice(F.col("t"), F.col("start"), chunk)
    return ex.select(
        F.col(id_col),
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


# Rabin-Karp rolling-hash fingerprint parameters: base/modulus chosen so
# every intermediate fits int64 (codepoint < 2^21, B^j mod M < 2^31,
# 8-term dot < 2^55) — exact in numpy int64 AND DuckDB BIGINT.
RK_K = 8
RK_B = 257
RK_M = (1 << 31) - 1
RK_POWS = [pow(RK_B, RK_K - 1 - j, RK_M) for j in range(RK_K)]


def rolling_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document fingerprint from Rabin-Karp rolling hashes of character
    ``RK_K``-grams: h(i) = sum_j code(c_{i+j}) * B^(K-1-j) mod M — the
    hash a rolling scanner maintains incrementally (winnowing / MOSS
    family). Per doc: k-gram count, min/max hash (the bottom/top of the
    fingerprint sketch), and the mod-M hash sum (an order-insensitive
    content signature).

    Vectorized per Arrow batch: codepoints via utf-32 decode, k-gram
    windows as a stride view, one (n_grams, K) @ (K,) int64 matmul per
    doc — no per-char Python. Docs shorter than K characters drop (no
    k-gram exists), matching the SQL range() semantics.

    An under-split local scan is first re-split by
    `queries.common.spread` (a single-row-group corpus file would
    otherwise serialize the whole kernel on one core — measured 2.7 s
    -> 0.5 s at sf1); on a well-split real-scale table the op is a pure
    map stage."""
    import numpy as np
    import pandas as pd

    from ..queries.common import spread

    pows = np.array(RK_POWS, dtype="int64")

    def fp(batches):
        for pdf in batches:
            ids, n, mn, mx, ms = [], [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or len(text) < RK_K:
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype="<u4"
                ).astype("int64")
                wins = np.lib.stride_tricks.sliding_window_view(codes, RK_K)
                h = (wins @ pows) % RK_M
                ids.append(doc_id)
                n.append(len(h))
                mn.append(int(h.min()))
                mx.append(int(h.max()))
                ms.append(int(h.sum() % RK_M))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_kgrams": pd.Series(n, dtype="int64"),
                    "fp_min": pd.Series(mn, dtype="int64"),
                    "fp_max": pd.Series(mx, dtype="int64"),
                    "fp_modsum": pd.Series(ms, dtype="int64"),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        fp,
        f"{id_col} long, n_kgrams long, fp_min long, fp_max long, fp_modsum long",
    )
