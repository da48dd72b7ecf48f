"""Pairwise similarity kernels (SURVEY.md §2.D).

Contract [BASELINE.json:15]: vectorized pandas/Arrow UDFs, *no per-row
Python*. Everything that Spark can compute natively stays native
(levenshtein, token Jaccard, zip_with cosine); the two kernels Spark lacks
(Jaro-Winkler, dense-vector cosine) are batch-vectorized numpy inside
pandas_udf — the Python loops below iterate over *character positions*
(≤ max string length), never over rows.

Jaro-Winkler follows Winkler (1990): boost threshold 0.7, prefix cap 4,
prefix scale 0.1, empty-string similarity 0. Verified numerically identical
(1e-12) to DuckDB's jaro_winkler_similarity in tests/test_similarity.py for
ASCII inputs. Unicode note: this kernel compares CODEPOINTS (the
linguistically sensible unit); DuckDB compares UTF-8 BYTES, so the two
diverge on multi-byte characters — the oracle-checked queries only feed
normalized [a-z0-9 ] text, where both agree exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

# ---------------------------------------------------------------------------
# Native (JVM / codegen) similarities
# ---------------------------------------------------------------------------


def lev_similarity(a: Column | str, b: Column | str) -> Column:
    """Normalized Levenshtein similarity 1 - lev/max(len); both empty → 1.
    (D2) Batched bit-parallel Myers kernel (exact; see levenshtein_batch)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return lev_similarity_udf(ca, cb)


def token_jaccard(a: Column | str, b: Column | str) -> Column:
    """|A∩B| / |A∪B| over token arrays; both empty → 0. (D4)"""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(F.array_union(ca, cb))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def cosine_native(a: Column | str, b: Column | str) -> Column:
    """Dense cosine via zip_with + aggregate — JVM-side, no UDF. (D6 alt)"""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    num = dot(ca, cb)
    den = F.sqrt(dot(ca, ca)) * F.sqrt(F.aggregate(
        F.zip_with(cb, cb, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


# ---------------------------------------------------------------------------
# Batched bit-parallel Levenshtein (Myers 1999 / Hyyrö 2003) — D2 fast path
# ---------------------------------------------------------------------------

_LEV_CHUNK = 1024  # rows per sub-batch: amortizes numpy call overhead
# while keeping the per-step gather working set (the (chunk × vocab ×
# blocks) Peq table) cache-resident — swept 1024..8192, 1024 best

_U1 = np.uint64(1)
_U63 = np.uint64(63)


def levenshtein_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Exact Levenshtein distances for two string Series (int64).

    Myers' bit-parallel DP: the O(m·n) cell recurrence collapses to
    O(ceil(m/64)·n) word operations per pair, vectorized across the
    batch — the Python loops run over text positions and 64-bit blocks,
    never rows. Identical to the classic DP / JVM `levenshtein` on every
    input (codepoint granularity); nulls must be pre-filled by callers.
    """
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if n > _LEV_CHUNK:
        return np.concatenate(
            [
                _lev_chunk(
                    a.iloc[i : i + _LEV_CHUNK], b.iloc[i : i + _LEV_CHUNK]
                )
                for i in range(0, n, _LEV_CHUNK)
            ]
        )
    return _lev_chunk(a, b)


def _lev_chunk(a: pd.Series, b: pd.Series) -> np.ndarray:
    sa = a.fillna("").astype(str).tolist()
    sb = b.fillna("").astype(str).tolist()
    n = len(sa)
    # pattern = the (batch-wise) shorter side: the block count W scales
    # with the pattern length, the step count with the text length, and
    # Levenshtein is symmetric
    if max((len(s) for s in sa), default=0) > max(
        (len(s) for s in sb), default=0
    ):
        sa, sb = sb, sa
    A, la = _pack(sa)
    B, lb = _pack(sb)
    W = (A.shape[1] + 63) >> 6
    rows = np.arange(n)
    # per-row vocabulary of pattern codepoints → Peq bitmasks per block;
    # index V (one past the vocabulary) is the all-zero row for text
    # characters that never occur in the pattern (and for padding)
    vocab = np.unique(A[A != 0])
    V = len(vocab)
    peq = np.zeros((n, V + 1, W), dtype=np.uint64)
    ra, ca_ = np.nonzero(A)
    # code → vocab-index LUT (same trick as the JW matcher: searchsorted
    # over the packed matrices measured ~13% of the combined kernels)
    vmax = int(vocab[-1]) if V else 0
    use_lut = V and vmax <= (1 << 20)
    if use_lut:
        lut = np.full(vmax + 1, V, dtype=np.int64)
        lut[vocab.astype(np.int64)] = np.arange(V)
    if len(ra):
        if use_lut:
            vidx = lut[A[ra, ca_]]
        else:
            vidx = np.searchsorted(vocab, A[ra, ca_])
        np.bitwise_or.at(
            peq, (ra, vidx, ca_ >> 6), _U1 << (ca_ & 63).astype(np.uint64)
        )
    # map text codepoints into the pattern vocabulary once
    if use_lut:
        bidx = np.where(B <= vmax, lut[np.minimum(B, vmax)], V)
    else:
        pos = np.searchsorted(vocab, B)
        pos[pos == V] = V - 1 if V else 0
        bidx = np.where((B != 0) & (V > 0) & (vocab[pos] == B), pos, V)
    # Myers state: VP all-ones (bits above the pattern length are benign —
    # carries only travel low→high, and the score bit sits at la-1)
    VP = np.full((n, W), ~np.uint64(0), dtype=np.uint64)
    VN = np.zeros((n, W), dtype=np.uint64)
    score = la.astype(np.int64).copy()
    kb = np.maximum(la - 1, 0) >> 6  # block holding the score bit
    sbit = (np.maximum(la - 1, 0) & 63).astype(np.uint64)
    alive = la > 0
    for j in range(B.shape[1]):
        active = (lb > j) & alive
        if not active.any():
            break
        eqi = bidx[:, j]
        # phase 1: D0 per block, with the addition carry crossing blocks
        carry = np.zeros(n, dtype=np.uint64)
        D0 = np.empty((n, W), dtype=np.uint64)
        for k in range(W):
            Eq = peq[rows, eqi, k]
            vp = VP[:, k]
            X = Eq | VN[:, k]
            t = Eq & vp
            s = t + vp
            c1 = s < t
            s2 = s + carry
            c2 = s2 < s
            D0[:, k] = (s2 ^ vp) | X
            carry = (c1 | c2).astype(np.uint64)
        # phase 2: horizontal deltas, score bit, then the 1-bit shift
        HP = VN | ~(D0 | VP)
        HN = D0 & VP
        hp_bit = (HP[rows, kb] >> sbit) & _U1
        hn_bit = (HN[rows, kb] >> sbit) & _U1
        score += np.where(
            active, hp_bit.astype(np.int64) - hn_bit.astype(np.int64), 0
        )
        hp_c = np.ones(n, dtype=np.uint64)  # HP shifts in a 1 at bit 0
        hn_c = np.zeros(n, dtype=np.uint64)
        for k in range(W):
            hp_hi = HP[:, k] >> _U63
            hn_hi = HN[:, k] >> _U63
            hp_s = (HP[:, k] << _U1) | hp_c
            hn_s = (HN[:, k] << _U1) | hn_c
            hp_c, hn_c = hp_hi, hn_hi
            VP[:, k] = hn_s | ~(D0[:, k] | hp_s)
            VN[:, k] = D0[:, k] & hp_s
    # empty pattern: distance is the text length
    score = np.where(alive, score, lb)
    return score


@pandas_udf(DoubleType())
def lev_similarity_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    dist = levenshtein_batch(a, b)
    la = a.fillna("").astype(str).str.len().to_numpy()
    lb = b.fillna("").astype(str).str.len().to_numpy()
    mx = np.maximum(la, lb)
    sim = np.where(mx > 0, 1.0 - dist / np.maximum(mx, 1), 1.0)
    # NULL in, NULL out — matching the native expression (NaN → null in
    # the Arrow conversion)
    sim = np.where(a.isna().to_numpy() | b.isna().to_numpy(), np.nan, sim)
    return pd.Series(sim)


# ---------------------------------------------------------------------------
# Vectorized numpy Jaro-Winkler (D3)
# ---------------------------------------------------------------------------


def _pack(strings: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Pack a batch of strings into a zero-padded codepoint matrix.

    Fully vectorized: one join+frombuffer for the whole batch, then a single
    fancy-indexed scatter (no per-row Python loop). Codes are narrowed to
    uint16 when the batch is BMP-only (the common case — halves the memory
    traffic of every comparison in the match loop).
    """
    n = len(strings)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    total = int(lens.sum())
    width = max(int(lens.max()) if n else 0, 1)
    if not total:
        return np.zeros((n, width), dtype=np.uint16), lens
    codes = np.frombuffer("".join(strings).encode("utf-32-le"), dtype=np.uint32)
    dtype = np.uint16 if codes.max() < 0xFFFF else np.uint32
    mat = np.zeros((n, width), dtype=dtype)
    rows = np.repeat(np.arange(n), lens)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    cols = np.arange(total) - np.repeat(offs, lens)
    # +1 so that code 0 never equals padding
    mat[rows, cols] = (codes + 1).astype(dtype) if dtype == np.uint16 else codes + 1
    return mat, lens


_JW_CHUNK = 2048  # rows per sub-batch (swept 512..8192 for the r8
# bit-parallel matcher; the per-row state is W uint64 words, so larger
# chunks amortize numpy call overhead before falling out of cache)

#: ones(t) = mask of the t lowest bits, t in 0..64 — band masks become one
#: table gather instead of shift/compare chains in the match loop
_ONES_LUT = np.concatenate(
    [(np.uint64(1) << np.arange(64, dtype=np.uint64)) - np.uint64(1),
     [~np.uint64(0)]]
)


def jaro_winkler_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Batched Jaro-Winkler over two string Series.

    The only Python loop runs over character positions of the longer string
    (bounded by max length in the batch); all per-row work is numpy.
    """
    n = len(a)
    if n == 0:
        return np.zeros(0)
    if n > _JW_CHUNK:
        parts = [
            _jw_chunk(a.iloc[i : i + _JW_CHUNK], b.iloc[i : i + _JW_CHUNK])
            for i in range(0, n, _JW_CHUNK)
        ]
        return np.concatenate(parts)
    return _jw_chunk(a, b)


def _jw_chunk(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Bit-parallel matching (r8): the per-position greedy match used to
    scan a (chunk × Lb) codepoint matrix five times per position (eq,
    unmatched, two window bounds, argmax — memory-bandwidth-bound at
    ~165KB/pair for 117-char texts). The b-side positions of each
    character now live in 64-bit masks (Peq, as in Myers' Levenshtein),
    so one step is a gather + ~a dozen word ops per block: candidates =
    Peq[a_i] & window_band & ~used, match = lowest set bit. Identical
    greedy semantics (lowest unused in-window j), verified bit-exact
    against the matrix form in tests."""
    sa = a.fillna("").astype(str).tolist()
    sb = b.fillna("").astype(str).tolist()
    n = len(sa)
    if n == 0:
        return np.zeros(0)
    A, la = _pack(sa)
    B, lb = _pack(sb)
    La, Lb = A.shape[1], B.shape[1]
    # match window: floor(max(len)/2) - 1, clipped at 0
    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    W = (Lb + 63) >> 6
    rows = np.arange(n)
    NEG1 = ~np.uint64(0)
    vocab = np.unique(B[B != 0])
    V = len(vocab)
    peq = np.zeros((n, V + 1, W), dtype=np.uint64)
    rb0, cb0 = np.nonzero(B)
    # code → vocab-index LUT (codes are +1-shifted, so 0 = padding maps to
    # the all-zero Peq row V); searchsorted here measured 20% of the chunk
    bmax = int(vocab[-1]) if V else 0
    if len(rb0):
        if bmax <= (1 << 20):
            lut = np.full(bmax + 1, V, dtype=np.int64)
            lut[vocab.astype(np.int64)] = np.arange(V)
            vidx = lut[B[rb0, cb0]]
        else:  # astral-plane codes: fall back to binary search
            vidx = np.searchsorted(vocab, B[rb0, cb0])
        np.bitwise_or.at(
            peq, (rb0, vidx, cb0 >> 6), _U1 << (cb0 & 63).astype(np.uint64)
        )
    if V and bmax <= (1 << 20):
        aidx = np.where(A <= bmax, lut[np.minimum(A, bmax)], V)
    elif V:
        posA = np.searchsorted(vocab, A)
        np.clip(posA, 0, V - 1, out=posA)
        aidx = np.where((A != 0) & (vocab[posA] == A), posA, V)
    else:
        aidx = np.zeros(A.shape, dtype=np.int64)
    used = np.zeros((n, W), dtype=np.uint64)
    matched_a = np.zeros((n, La), dtype=bool)
    for i in range(La):
        if not (la > i).any():
            break
        idx = aidx[:, i]
        lo = np.maximum(i - w, 0)
        hi1 = np.minimum(i + w + 1, lb)  # exclusive upper bound
        done = np.zeros(n, dtype=bool)
        for k in range(W):
            base = k << 6
            mlo = _ONES_LUT[np.clip(lo - base, 0, 64)]
            mhi = _ONES_LUT[np.clip(hi1 - base, 0, 64)]
            cand = peq[rows, idx, k] & (mhi & ~mlo) & ~used[:, k]
            cand &= np.where(done, np.uint64(0), NEG1)
            low = cand & (~cand + _U1)  # lowest set bit (two's complement)
            used[:, k] |= low
            done |= cand != 0
        matched_a[:, i] = done
    jj = np.arange(Lb)
    matched_b = (
        (used[:, jj >> 6] >> (jj & 63).astype(np.uint64)) & _U1
    ).astype(bool)
    m = matched_a.sum(axis=1)
    # compact matched codepoints, in positional order, for transposition count
    mmax = max(int(m.max()), 1)
    SA = np.zeros((n, mmax), dtype=np.uint32)
    SB = np.zeros((n, mmax), dtype=np.uint32)
    ra, ca_ = np.nonzero(matched_a)
    SA[ra, (np.cumsum(matched_a, axis=1) - 1)[ra, ca_]] = A[ra, ca_]
    rb, cb_ = np.nonzero(matched_b)
    SB[rb, (np.cumsum(matched_b, axis=1) - 1)[rb, cb_]] = B[rb, cb_]
    t = ((SA != SB) & (np.arange(mmax) < m[:, None])).sum(axis=1) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = np.where(
            m > 0,
            (
                m / np.maximum(la, 1)
                + m / np.maximum(lb, 1)
                + (m - t) / np.maximum(m, 1)
            )
            / 3.0,
            0.0,
        )
    # Winkler boost: common prefix up to 4, applied only when jaro > 0.7
    pmax = min(4, La, Lb)
    if pmax > 0:
        both = (A[:, :pmax] == B[:, :pmax]) & (
            np.arange(pmax) < np.minimum(la, lb)[:, None]
        )
        prefix = np.cumprod(both, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    jw = np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)
    return jw


def _jw_chunk_matrix(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Pre-r8 matrix-scan matcher, kept as the reference twin of the
    bit-parallel _jw_chunk (tests assert exact equality on fuzzed
    batches). Identical output; ~6× the memory traffic."""
    sa = a.fillna("").astype(str).tolist()
    sb = b.fillna("").astype(str).tolist()
    n = len(sa)
    if n == 0:
        return np.zeros(0)
    A, la = _pack(sa)
    B, lb = _pack(sb)
    La, Lb = A.shape[1], B.shape[1]
    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    matched_a = np.zeros((n, La), dtype=bool)
    unmatched_b = np.ones((n, Lb), dtype=bool)
    jcols = np.arange(Lb)
    rows = np.arange(n)
    for i in range(La):
        active = la > i
        if not active.any():
            break
        c = A[:, i]
        lo = np.maximum(i - w, 0)
        hi = np.minimum(i + w, lb - 1)
        eq = B == c[:, None]
        np.logical_and(eq, unmatched_b, out=eq)
        np.logical_and(eq, jcols >= lo[:, None], out=eq)
        np.logical_and(eq, jcols <= hi[:, None], out=eq)
        j = eq.argmax(axis=1)
        has = eq[rows, j]
        unmatched_b[rows[has], j[has]] = False
        matched_a[has, i] = True
    matched_b = ~unmatched_b
    m = matched_a.sum(axis=1)
    mmax = max(int(m.max()), 1)
    SA = np.zeros((n, mmax), dtype=np.uint32)
    SB = np.zeros((n, mmax), dtype=np.uint32)
    ra, ca_ = np.nonzero(matched_a)
    SA[ra, (np.cumsum(matched_a, axis=1) - 1)[ra, ca_]] = A[ra, ca_]
    rb, cb_ = np.nonzero(matched_b)
    SB[rb, (np.cumsum(matched_b, axis=1) - 1)[rb, cb_]] = B[rb, cb_]
    t = ((SA != SB) & (np.arange(mmax) < m[:, None])).sum(axis=1) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = np.where(
            m > 0,
            (
                m / np.maximum(la, 1)
                + m / np.maximum(lb, 1)
                + (m - t) / np.maximum(m, 1)
            )
            / 3.0,
            0.0,
        )
    pmax = min(4, La, Lb)
    if pmax > 0:
        both = (A[:, :pmax] == B[:, :pmax]) & (
            np.arange(pmax) < np.minimum(la, lb)[:, None]
        )
        prefix = np.cumprod(both, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_batch(a, b))


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return jaro_winkler_udf(ca, cb)


# ---------------------------------------------------------------------------
# Vectorized numpy dense cosine (D6)
# ---------------------------------------------------------------------------


def cosine_batch(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Batched cosine over two Series of equal-length float lists."""
    if len(a) == 0:
        return np.zeros(0)
    va = np.array(a.tolist(), dtype=np.float64)
    vb = np.array(b.tolist(), dtype=np.float64)
    num = np.einsum("ij,ij->i", va, vb)
    den = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, num / den, 0.0)


@pandas_udf(DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(cosine_batch(a, b))


def cosine(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return cosine_udf(ca, cb)
