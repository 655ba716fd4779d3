"""Text-analysis operators for the training-data pipeline surface.

Language-ID (stopword heuristic), repetition features, token counting
(whitespace + BPE-ish regex), and document fingerprinting (md5, rolling
gram fingerprints, winnowing). Pure Column expressions apart from the Arrow
winnowing path — at 100 TB these run inside whole-stage codegen over the
parquet scan with zero Python cost.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language — enough signal for a
# word-salad heuristic; swap in real lists (broadcast) for production use.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for", "with", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "den", "ein", "mit", "ist", "im"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "也"),
}

WORD_SPLIT_RE = r"\s+"
# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
# (the GPT-2 pre-tokenizer shape, minus byte-level details).
BPE_TOKEN_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty-string-safe)."""
    return F.filter(F.split(F.trim(col), WORD_SPLIT_RE), lambda t: F.length(t) > 0)


def word_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under a BPE-style pre-tokenizer regex — a cheap, stable
    proxy for LLM token budgets (regexp_count is JVM-side)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def stopword_hits(col: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def detect_language(col: Column) -> Column:
    """Heuristic language-ID: the language whose stopword list hits most.

    Expressed as a greatest-of struct comparison (Spark orders structs
    lexicographically, so (hits, lang) picks max hits with a deterministic
    lexicographic tiebreak). Returns NULL when no list hits at all.
    """
    scored = [
        F.struct(
            stopword_hits(col, lang).alias("hits"), F.lit(lang).alias("lang")
        )
        for lang in STOPWORDS
    ]
    best = F.greatest(*scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(None))


def word_ngrams(col: Column, n: int) -> Column:
    """Sliding word ``n``-grams as space-joined strings (1-based slices;
    empty array for documents shorter than ``n`` words). Pure Column
    expression — the n-gram fan-out happens inside codegen, no explode
    needed until the caller wants one row per gram."""
    toks = tokens(col)
    size = F.size(toks)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-bigram and
    duplicate-trigram fractions plus the most-frequent-word share. High
    values flag boilerplate/looping text a training pipeline should drop.

    All three are raw IEEE divisions of exact integer counts (bit-identical
    across engines). ``top_word_frac`` takes max of per-word counts — the
    MAX is deterministic even when the argmax word is tied. The per-word
    count loop is O(words²) inside codegen, fine for document-sized arrays;
    for book-length texts explode + groupBy instead."""
    t = F.col(text_col)
    toks = tokens(t)
    n_word = F.size(toks)

    def dup_frac(grams: Column) -> Column:
        total = F.size(grams)
        return F.when(
            total > 0,
            F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total,
        ).otherwise(F.lit(0.0))

    top_count = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    )
    top_word_frac = F.when(
        n_word > 0, top_count.cast("double") / n_word
    ).otherwise(F.lit(0.0))
    return df.select(
        "*",
        n_word.cast("bigint").alias("rep_words"),
        dup_frac(word_ngrams(t, 2)).alias("rep_dup_bigram_frac"),
        dup_frac(word_ngrams(t, 3)).alias("rep_dup_trigram_frac"),
        top_word_frac.alias("rep_top_word_frac"),
    )


# PII patterns restricted to the syntax subset Java regex and RE2 share
# (character classes, bounded repetition) so redaction is engine-portable.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def match_count(col: Column, pattern: str) -> Column:
    """How many non-overlapping matches of ``pattern`` occur (JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("bigint")


def redact(col: Column, pattern: str, replacement: str) -> Column:
    """Replace every match of ``pattern`` with a fixed placeholder —
    the scrubbing primitive for PII removal in a training-data pipeline."""
    return F.regexp_replace(col, pattern, replacement)


def fingerprint(col: Column) -> Column:
    """Stable 128-bit content fingerprint (md5 hex) — engine-portable."""
    return F.md5(col)


def rolling_fingerprints(col: Column, window: int = 8) -> Column:
    """Rolling shingle fingerprints: md5 of each ``window``-token shingle,
    for containment/overlap detection between documents."""
    toks = tokens(col)
    return F.transform(
        F.sequence(
            F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))
        ),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, window))),
    )


def winnow_from_grams(grams: Column, window: int = 4) -> Column:
    """Winnowing selection (Schleimer et al., SIGMOD '03): the MINIMUM
    fingerprint of every sliding window of ``window`` consecutive shingle
    hashes, distinct.

    ``grams`` MUST be a MATERIALIZED column (a projected alias from a prior
    select), never an inline expression: expressions referenced inside a
    ``transform`` lambda are re-evaluated per element, so an inline gram
    expression would recompute the whole md5 array once per window —
    O(n²) md5 calls per document (measured: 191 s vs 2 s at sf0.1).

    Guarantee: any two documents sharing a run of k+window-1 tokens share at
    least one selected fingerprint, while storing only ~2/(window+1) of the
    shingle hashes. Lexicographic min over md5 hex is engine-portable (no
    integer hash needed)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(grams) - window, F.lit(0))),
            lambda i: F.array_min(F.slice(grams, i + 1, window)),
        )
    )


def winnow_arrow(k: int = 8, window: int = 4):
    """Arrow fast path for winnowing: token array → selected md5 gram
    fingerprints, one Python pass per row (hashlib.md5 ≡ Spark/DuckDB md5,
    so output is IDENTICAL to the Column-expression spec — parity-tested).
    ~5× the staged Column path: md5-over-small-strings is C-speed either
    way, but the window-min selection avoids per-element Catalyst lambda
    dispatch. Takes :func:`tokens` output as input."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def winnow(toks: pd.Series) -> pd.Series:
        out = []
        for t in toks:
            t = list(t) if t is not None else []
            n = max(len(t) - k, 0) + 1
            grams = [
                hashlib.md5(" ".join(t[i : i + k]).encode()).hexdigest()
                for i in range(n)
            ]
            g = max(len(grams) - window, 0) + 1
            seen: set[str] = set()
            sel: list[str] = []
            for i in range(g):
                m = min(grams[i : i + window])
                if m not in seen:
                    seen.add(m)
                    sel.append(m)
            out.append(sel)
        return pd.Series(out)

    return winnow
