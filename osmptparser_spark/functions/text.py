"""Text-analysis functions for training-data pipelines: language-ID,
quality scoring, token counting, document fingerprinting.

All of these are pure Catalyst column expressions (whole-stage codegen,
no Python) except the winnowing fingerprint, which is vectorized numpy
inside an Arrow batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny stopword marker sets for the n-gram-free heuristic; counts of
# bounded markers are cheap length arithmetic, no regex in the hot path
_EN_MARKERS = ("the", "and", "of", "is", "to")
_ES_MARKERS = ("de", "la", "el", "que", "los")


def _marker_count(text: Column, word: str) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    token = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(token), F.lit(""))))
        / len(token)
    ).cast("long")


def lang_score(text: Column, markers) -> Column:
    s = F.lit(0).cast("long")
    for w in markers:
        s = s + _marker_count(text, w)
    return s


def lang_id(text: Column) -> Column:
    """'en' / 'es' / 'und' by stopword-marker voting."""
    en = lang_score(text, _EN_MARKERS)
    es = lang_score(text, _ES_MARKERS)
    return (
        F.when(en > es, F.lit("en")).when(es > en, F.lit("es")).otherwise(F.lit("und"))
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def punct_ratio(text: Column) -> Column:
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[\.,;:!\?]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    stops = lang_score(text, _EN_MARKERS + _ES_MARKERS)
    return stops / F.greatest(token_count_ws(text), F.lit(1))


def mean_word_len(text: Column) -> Column:
    t = F.trim(text)
    return F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(
        token_count_ws(t), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """[0,1] quality heuristic: length band + stopword presence + sane
    mean word length + punctuation sanity. Deterministic, expression-only."""
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 100_000), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(text) >= 0.01, 1.0).otherwise(0.0)
    mwl = mean_word_len(text)
    word_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.0)
    return (len_ok + stop_ok + word_ok + punct_ok) / 4.0


def fingerprint_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    k: int = 8,
) -> DataFrame:
    """Winnowing document fingerprint: rolling polynomial hash over
    byte k-shingles (the same sliding-window uint64 hash + splitmix64
    finalizer the dedup family uses — fully vectorized, no per-position
    Python loop; round-2 used crc32 in a Python comprehension), then
    per-window minima (robust local sketch). Output: id -> sorted
    distinct fingerprint array (int64, sign-folded from uint64).

    The hash is DuckDB-recomputable (HUGEINT mulmod machinery shared
    with the simhash oracle), so the ``text_fingerprint`` driver query
    verifies these exact values against independent SQL."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..operators.dedup import _positional_shingle_hashes

        for pdf in batches:
            fps = []
            for t in pdf[text_col]:
                hs = _positional_shingle_hashes(t, k).astype(np.int64)
                if len(hs) <= window:
                    fps.append([int(hs.min())])
                    continue
                sw = np.lib.stride_tricks.sliding_window_view(hs, window)
                fps.append(sorted(set(int(x) for x in sw.min(axis=1))))
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"), "fingerprints": fps})

    return df.mapInPandas(gen, "doc_id BIGINT, fingerprints ARRAY<BIGINT>")


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, exact-integer outputs:

    * ``dup_token_frac_x1e4`` — fraction of tokens that are repeats of
      an earlier token, ``(n - n_distinct) * 10^4 div n`` (fixed-point
      so the DuckDB twin matches bit-for-bit; float division rounds
      differently across engines);
    * ``top_bigram_frac_x1e4`` — share of the most frequent bigram
      among all ``n - 1`` bigrams (0 for single-token docs).

    Boilerplate-heavy or degenerate machine text scores high on both;
    a typical filter drops docs above ~3000 (30%). Tokenization is a
    literal single-space split, identical in Spark and DuckDB by
    construction (no regex-dialect divergence).

    Plan shape: tokens/distinct are per-row Catalyst expressions; the
    bigram mode needs one explode + two hash aggregations keyed by
    (id, bigram) then (id) — map-side partial agg on both, no window,
    no skew beyond a single document's own bigram count.
    """
    t = F.col(text_col)
    toks = F.split(t, " ")
    n = F.size(toks).cast("long")
    d = F.size(F.array_distinct(toks)).cast("long")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        d.alias("n_distinct"),
        F.expr(
            f"(size(split({text_col}, ' ')) - "
            f"size(array_distinct(split({text_col}, ' ')))) * 10000L "
            f"div size(split({text_col}, ' '))"
        ).alias("dup_token_frac_x1e4"),
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.lit(0), F.size(toks) - 1)),
            F.slice(toks, 2, F.greatest(F.lit(0), F.size(toks) - 1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ).alias("_bigrams"),
    )
    counts = (
        base.select("doc_id", F.explode_outer("_bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.when(F.col("bg").isNotNull(), 1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_m"))
    )
    return (
        base.drop("_bigrams")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "dup_token_frac_x1e4",
            F.when(
                F.col("n_tokens") >= 2,
                F.expr("coalesce(_m, 0) * 10000L div (n_tokens - 1)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("top_bigram_frac_x1e4"),
        )
    )


def vocab_topk(
    df: DataFrame, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide token vocabulary: top ``k`` tokens by count, ties
    broken by token string. One explode + one hash aggregation with
    map-side partials; the final top-k is a TakeOrderedAndProject
    (per-partition heap + driver merge of k rows), never a global
    sort of the vocabulary.
    """
    return (
        df.select(F.explode(F.split(text_col, " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


# PII patterns shared verbatim with the DuckDB oracle: only constructs
# with identical semantics in Java regex and RE2 (character classes,
# counted quantifiers, groups — no lookaround, no \b, no \s shorthand,
# which differ across dialects).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails, dashed/dotted phone numbers, and IPv4 literals
    with typed placeholder tokens. Order matters and is part of the
    contract: emails first (an email's domain would otherwise feed the
    IP rule a false prefix), phones before IPs (a dotted phone is not
    three octets). Pure Catalyst ``regexp_replace`` chain — runs in
    whole-stage codegen, no Python."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
