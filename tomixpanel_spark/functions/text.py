"""Text-analysis column functions for the training-data-pipeline extensions.

All pure Catalyst expressions (split / transform / aggregate / higher-order
functions) — no Python in the hot path, so these run inside whole-stage
codegen and scale linearly with executors.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list for the language-ID heuristic and
# quality scoring. Kept deliberately small + pinned: the oracle SQL mirrors
# it verbatim.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


# ASCII whitespace the tokenizer folds to ' ' before splitting. Kept as a
# pinned constant because the DuckDB oracles mirror it char-for-char
# (chr(9)||chr(10)||chr(13)||chr(11)||chr(12)).
WHITESPACE_CHARS = "\t\n\r\x0b\x0c"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; drops empty tokens from repeated separators.

    One declared spec for BOTH engines: fold ASCII whitespace
    (tab/LF/CR/VT/FF) to ' ' with ``translate`` — a branch-free char map,
    no regex engine in the hot path — then split on the literal single
    space and filter empties. The DuckDB oracles declare the identical
    ``translate`` + ``string_split`` pipeline, so multi-line corpora
    tokenize correctly in both engines rather than the engine being bent
    to a single-space oracle (round-7 advice).

    The by-name form memoizes: the returned Column is a constant
    unresolved tree over the column name (the ga.py lru_cache pattern),
    and rebuilding it is ~45 ms of py4j round-trips paid by every
    text-family plan build."""
    if isinstance(text, str):
        return _tokens_by_name(text)
    return _tokens_col(text)


@lru_cache(maxsize=8)
def _tokens_by_name(name: str) -> Column:
    return _tokens_col(F.col(name))


def _tokens_col(c: Column) -> Column:
    return F.filter(
        F.split(F.translate(c, WHITESPACE_CHARS, " " * len(WHITESPACE_CHARS)), " "),
        lambda t: t != "",
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles ('w1 w2 w3' strings) of a document.

    Built with sequence+transform over the token array (no explode needed at
    the call site; callers explode when they want shingle rows).
    """
    toks = tokens(text)
    # positions 0 .. size-n (inclusive); empty array when doc shorter than n.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.array_distinct(F.transform(idx, gram))


def adjacent_pairs(arr: Column, left: str = "l", right: str = "r") -> Column:
    """All adjacent (left, right) STRUCT pairs of a string-array column,
    with repeats; empty array for inputs shorter than 2. The shared
    adjacency expression behind bigram-LM scoring and BPE pair counting
    — the n>=2 guard, the empty-array cast, and the 1-based slice
    offsets live in exactly one place."""
    n = F.size(arr)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(arr, F.lit(1), n - 1),
            F.slice(arr, F.lit(2), n - 1),
            lambda a, b: F.struct(a.alias(left), b.alias(right)),
        ),
    ).otherwise(F.array().cast(f"array<struct<{left}:string,{right}:string>>"))


def bigrams(words: Column) -> Column:
    """All adjacent word bigrams ('w1 w2' strings) from a MATERIALIZED token
    array column, with repeats (repetition measurement needs multiplicity,
    unlike shingles' array_distinct). Takes the array, not raw text: a
    transform(idx, element_at(tokens(text), i)) formulation re-runs the
    regex split per element — quadratic per document. zip_with over two
    slices is linear. Empty array for docs shorter than 2 tokens."""
    n = F.size(words)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, F.lit(1), n - 1),
            F.slice(words, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def stopword_count(text: Column | str) -> Column:
    """Number of tokens that are pinned stopwords."""
    return F.size(F.filter(tokens(text), lambda t: F.lower(t).isin(*STOPWORDS)))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring features: lengths and ratios, all double-typed.

    Ratios are computed in double with explicit casts so the DuckDB oracle
    (same formula) is bit-comparable.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_stop = stopword_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_tokens": n_tok.cast("bigint"),
        "n_chars": n_chars.cast("bigint"),
        "avg_token_len": (
            (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")
        ),
        "stopword_ratio": n_stop.cast("double") / n_tok.cast("double"),
        "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
    }


def lang_guess(text: Column | str) -> Column:
    """Heuristic language ID: stopword-hit ratio over the pinned list.

    >= 2 stopword hits in the first 40 tokens => 'en', else 'unknown'.
    (The fixture corpus is synthetic; the point is the operator shape —
    a deterministic n-gram/stopword heuristic that the oracle can mirror.)
    """
    c = F.col(text) if isinstance(text, str) else text
    head = F.slice(tokens(c), 1, 40)
    hits = F.size(F.filter(head, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.when(hits >= 2, F.lit("en")).otherwise(F.lit("unknown"))


# PII patterns pinned to the Java-regex / RE2 common subset (no lookaround,
# no backreferences) so Spark and the DuckDB oracle match identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"
# Replacement order matters (email strips its host before the IP pass ever
# sees dotted digits); both engines apply the same fixed order.
PII_PASSES = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (pre-redaction)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_emails": F.regexp_count(c, F.lit(PII_EMAIL)).cast("bigint"),
        "n_ips": F.regexp_count(c, F.lit(PII_IPV4)).cast("bigint"),
        "n_phones": F.regexp_count(c, F.lit(PII_PHONE)).cast("bigint"),
    }


def pii_scrub(text: Column | str) -> Column:
    """Redact all PII categories in the pinned pass order."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_PASSES:
        c = F.regexp_replace(c, pat, token)
    return c


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text.

    Rolling-hash-equivalent canonical fingerprint used by exact dedup;
    whitespace runs collapse to single spaces, case-folded, trimmed.
    Memoized by column name (constant unresolved tree, see tokens)."""
    if isinstance(text, str):
        return _fingerprint_by_name(text)
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


@lru_cache(maxsize=8)
def _fingerprint_by_name(name: str) -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(name)), r"\s+", " ")))
