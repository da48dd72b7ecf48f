"""Text normalization / tokenization / shingling (SURVEY.md §2.B B4–B7).

All pure native Column expressions — zero UDFs, stays inside whole-stage
codegen, and every function has an exact DuckDB-SQL equivalent so the driver
oracle can verify it. The normalization convention (lowercase, strip
non-[a-z0-9 ], collapse whitespace) is the standard record-linkage
preprocessing of Christen, *Data Matching* (2012), ch. 5.

normalize_text folds case with translate + replace, not lower(): its output
is [a-z0-9 ]*, so only characters whose lowercase lands in that alphabet
matter, and Spark 4's lower() runs through ICU, whose first call in a JVM
costs ~1.4 s (notes #66). The result equals lower() for every input.

DuckDB-equivalence notes (oracle SQL must mirror these exactly):
  * Spark regexp_replace replaces ALL occurrences; DuckDB needs the 'g' flag.
  * Character classes are kept to POSIX-safe [^a-z0-9 ] / ' +' so Java regex
    and RE2 agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NORM_STRIP_RE = "[^a-z0-9 ]"
WS_COLLAPSE_RE = " +"
# Every character whose full lowercase mapping lands in [a-z0-9 ] after the
# strip: A-Z, U+212A KELVIN SIGN -> 'k', and U+0130 -> 'i' + U+0307 (the
# combining dot, which the strip turns into a space). Pinned against lower()
# over every code point by tests/test_normalize.py.
_FOLD_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212a"
_FOLD_TO = "abcdefghijklmnopqrstuvwxyzk"


def normalize_text(col: Column | str) -> Column:
    """case fold → non-alnum→space → collapse runs of spaces → trim. (B4)

    The fold maps exactly the characters whose lowercase survives the
    strip, so the output equals lower()-based normalization for every
    input (NULL stays NULL) without initialising ICU.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, _FOLD_FROM, _FOLD_TO)
    c = F.replace(c, F.lit("\u0130"), F.lit("i "))
    c = F.regexp_replace(c, NORM_STRIP_RE, " ")
    c = F.regexp_replace(c, WS_COLLAPSE_RE, " ")
    return F.trim(c)


def tokenize(norm_col: Column | str) -> Column:
    """Whitespace tokens of an already-normalized string. (B5)

    Empty input yields an empty array (split('') returns ['']; filter it).
    """
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    toks = F.split(c, " ")
    return F.filter(toks, lambda x: x != F.lit(""))


def char_shingles(norm_col: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles (Broder 1997). (B6)

    Strings shorter than k yield the single whole-string shingle. Pure
    native: sequence → transform(substring) → array_distinct.
    """
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    n_pos = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    seq = F.sequence(F.lit(1), n_pos)
    shingles = F.transform(seq, lambda i: F.substring(c, i, k))
    return F.array_distinct(shingles)


def shingle_pack(shingles_col: Column | str, k: int) -> Column:
    """Pack each NORMALIZED char k-shingle into one long — an exact,
    dictionary-free injective encoding (r8).

    value(s) = Σ_{i<len(s)} ascii(s[i]) · 128^i. Normalized text is
    [a-z0-9 ]* by construction (normalize_text), so every code is in
    {32, 48-57, 97-122} ⊂ [32, 127]: base 128 never carries between
    positions, and injectivity holds ACROSS lengths too (a length-L
    value is ≥ 32·128^(L-1), strictly above the length-(L-1) maximum
    Σ 127·128^i = 128^(L-1) − 1; absent positions read as ascii('') = 0).
    Max value < 128^k, so k ≤ 8 fits a long with no ANSI overflow.
    Callers must guard k ≤ 8 and input alphabet; |A∩B| and |A∪B| of
    distinct shingle arrays are preserved exactly under any injection.
    """
    if k > 8:
        raise ValueError(f"shingle_pack requires k <= 8, got {k}")
    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col

    def pack_one(s: Column) -> Column:
        v: Column = F.ascii(F.substring(s, 1, 1)).cast("long")
        for i in range(1, k):
            v = v + F.ascii(F.substring(s, i + 1, 1)).cast("long") * F.lit(
                128 ** i
            ).cast("long")
        return v

    return F.transform(c, pack_one)


def word_ngrams(tokens_col: Column | str, n: int = 2, sep: str = " ") -> Column:
    """Distinct word n-grams from a token array. (B5 variant)"""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    n_pos = F.greatest(F.size(c) - F.lit(n - 1), F.lit(1))
    seq = F.sequence(F.lit(1), n_pos)
    grams = F.transform(seq, lambda i: F.concat_ws(sep, F.slice(c, i, n)))
    return F.array_distinct(grams)


def prefix_key(norm_col: Column | str, n: int = 6) -> Column:
    """First-n-characters blocking key. (B7)"""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return F.substring(c, 1, n)
