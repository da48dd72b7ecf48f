"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

All pure native Column expressions (JVM-side, oracle-checkable in DuckDB).
The language detector is a deterministic stopword-overlap heuristic — tiny
pinned wordlists per language, argmax of overlap count, ties broken by a
fixed language order. It is intentionally simple: the point is the Spark
plumbing (works over 100 TB without Python), not linguistic accuracy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import md5_long

# Pinned stopword lists. Order matters: ties resolve to the earliest entry.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"]),
    ("fr", ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"]),
    ("es", ["el", "la", "los", "de", "y", "un", "una", "es", "que", "para"]),
    ("de", ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "von"]),
    ("zh", ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"]),
]

# A BPE-ish token pattern: words, numbers, or single non-space symbols.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def lang_scores(tokens_col: Column | str) -> list[tuple[str, Column]]:
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return [
        (lang, F.size(F.array_intersect(c, F.array(*[F.lit(w) for w in words]))))
        for lang, words in LANG_MARKERS
    ]


def lang_id(tokens_col: Column | str) -> Column:
    """argmax of stopword-overlap; 'und' (undetermined) when all scores 0."""
    scores = lang_scores(tokens_col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate reversed so earlier languages win ties (> not >=)
    for lang, score in reversed(scores):
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def ws_token_count(text_col: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.filter(F.split(c, "\\s+"), lambda x: x != F.lit("")))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """Count of BPE-ish regex tokens (words / numbers / single symbols)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals over raw text.

    n_chars, n_ws_tokens, mean_token_len, punct_ratio (non-alnum-non-space
    chars / chars), digit_ratio, stopword_ratio (en stopwords / tokens),
    uniq_token_ratio. All ratios rounded by the caller.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_chars = F.length(c)
    toks = F.filter(F.split(F.lower(c), "\\s+"), lambda x: x != F.lit(""))
    n_tok = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(c, "[^a-zA-Z0-9 \\t\\n]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(c, "[0-9]", ""))
    en = LANG_MARKERS[0][1]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*en)))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_ws_tokens": n_tok.cast("long"),
        "mean_token_len": safe(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)),
            n_tok,
        ),
        "punct_ratio": safe(n_punct, n_chars),
        "digit_ratio": safe(n_digit, n_chars),
        "stopword_ratio": safe(n_stop, n_tok),
        "uniq_token_ratio": safe(F.size(F.array_distinct(toks)), n_tok),
    }


def bottomk_fingerprint(shingles_col: Column | str, k: int = 8) -> Column:
    """Document fingerprint: bottom-k of md5-hashed shingles (a k-mins
    sketch — order-invariant, locality-sensitive for Jaccard overlap).

    Returns array<long> of the k smallest shingle hashes, ascending.
    """
    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    hashed = F.transform(c, lambda s: md5_long(s))
    return F.slice(F.array_sort(hashed), 1, k)
