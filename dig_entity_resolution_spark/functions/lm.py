"""Hashed stupid-backoff n-gram LM perplexity scoring (web-text quality).

The canonical web-pipeline quality filter (CCNet, Wenzek et al. 2020)
scores every document's perplexity under a language model fit on trusted
text and drops the worst tail. This module implements the public
large-scale construction end-to-end in Spark terms:

  * Model: word-trigram STUPID BACKOFF (Brants et al. 2007 — the scheme
    built precisely because Kneser-Ney smoothing doesn't distribute):
    S(w_i | w_{i-2} w_{i-1}) = count ratio at the longest observed order,
    backing off one order at a time with a fixed log10(0.4) penalty.
    Scores are quantized to int64 MICRO log10 units at fit time, so both
    engines (and the pure-Python pytest twin) do exact integer sums — the
    same no-float-fold-order discipline as functions/quality_model.py.
  * Storage: open-addressed HASHED score tables (Talbot & Osborne 2007's
    randomized-LM idea, simplified): bucket = md5_long(ngram) % dim, one
    int64 score per bucket, sentinel +1 for empty (real scores are ≤ 0).
    An unseen n-gram that collides with an occupied bucket reads that
    bucket's score — a standard hashed-LM false positive, deterministic
    and IDENTICAL in Spark, DuckDB, and the Python twin because all three
    share the md5 bucket function. Collisions among OBSERVED n-grams
    resolve last-writer-wins in sorted key order (bit-deterministic).
  * Scoring (the 100 TB path): one native-column projection — split →
    slice/zip_with-aligned per-token backoff → integer F.aggregate. Zero
    shuffle, zero Python, model broadcast by literal. Bigram/trigram keys
    come from zip_with over SLICES, never element_at(toks, i) inside a
    transform-over-indices (the notes-#17 CollapseProject O(L²) trap).
  * Fit: `fit_stupid_backoff` is the serial pyarrow fit (bit-stable,
    partitioning-independent — the oracle-artifact discipline of
    _ivf_cents/_bpe_artifacts); `fit_stupid_backoff_distributed` is the
    production shape — explode + groupBy count per order (map-side
    combine), count-threshold pruning (the KenLM pruning knob), and only
    the surviving (ngram, count) rows — bounded by `max_ngrams` — ever
    reach the driver. Both emit the same artifact; equality is pinned in
    tests/test_lm.py.

Per-token semantics (documented convention): token i is scored at the
longest order its left context allows — unigram for i=1, bigram for i=2,
trigram for i≥3 — with no sentence-boundary padding tokens. Empty docs
score (n_words=0, logp_micro=0). NULL text raises in-plan (the
pack_sequences/bpe_token_counts contract: a silently-zero doc would pass
quality gates unnoticed).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long

#: integer log10 micro-units (10^-6 of a log10) — matches quality_model
MICRO = 1_000_000

#: sentinel for an empty hash bucket; every real score is ≤ 0
SENT = 1

#: stupid-backoff penalty per order skipped: log10(0.4)
ALPHA_MICRO = -397_940


@dataclass(frozen=True)
class StupidBackoffLM:
    """The fitted artifact: three bucket→score tables (int64 micro-log10,
    SENT = empty) plus the OOV score. `dims` are part of the model —
    lookups are only meaningful at the dims the fit used."""

    dims: tuple[int, int, int]
    s1: tuple[int, ...]
    s2: tuple[int, ...]
    s3: tuple[int, ...]
    oov_micro: int

    def occupied(self) -> tuple[int, int, int]:
        return tuple(sum(1 for v in t if v != SENT) for t in (self.s1, self.s2, self.s3))


def _bucket(gram: str, dim: int) -> int:
    """Python twin of hashing.md5_long(gram) % dim (60-bit md5 prefix)."""
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % dim


def _log10_micro(num: int, den: int) -> int:
    import math

    return int(round(math.log10(num / den) * MICRO))


def _counts_to_artifact(
    uni: dict[str, int],
    bi: dict[str, int],
    tri: dict[str, int],
    n_tokens: int,
    dims: tuple[int, int, int],
) -> StupidBackoffLM:
    """Shared finalize: count tables → hashed score arrays. Deterministic:
    keys written in sorted order, last writer wins on collision."""
    d1, d2, d3 = dims
    s1 = [SENT] * d1
    s2 = [SENT] * d2
    s3 = [SENT] * d3
    for w in sorted(uni):
        s1[_bucket(w, d1)] = _log10_micro(uni[w], n_tokens)
    for k in sorted(bi):
        w1, _w2 = k.split(" ", 1)
        # pruning can drop the context unigram while keeping the bigram;
        # fall back to the bigram's own count as the context mass (the
        # ratio caps at 1.0 → score 0, still a legal log-prob)
        den = uni.get(w1, bi[k])
        s2[_bucket(k, d2)] = _log10_micro(bi[k], max(den, bi[k]))
    for k in sorted(tri):
        w1, w2, _w3 = k.split(" ")
        ctx = f"{w1} {w2}"
        den = bi.get(ctx, tri[k])
        s3[_bucket(k, d3)] = _log10_micro(tri[k], max(den, tri[k]))
    oov = _log10_micro(1, 2 * max(n_tokens, 1))  # log10(0.5 / N)
    return StupidBackoffLM(
        dims=dims,
        s1=tuple(s1),
        s2=tuple(s2),
        s3=tuple(s3),
        oov_micro=oov,
    )


def fit_stupid_backoff(
    parquet_path: str,
    text_col: str = "text",
    dims: tuple[int, int, int] = (64, 2048, 32768),
) -> StupidBackoffLM:
    """Serial pyarrow fit — bit-deterministic regardless of Spark
    partitioning (the oracle-artifact discipline of _ivf_cents /
    bpe_fit_local); production refits with the distributed twin below."""
    import pyarrow.parquet as pq

    uni: dict[str, int] = {}
    bi: dict[str, int] = {}
    tri: dict[str, int] = {}
    n = 0
    for batch in pq.ParquetFile(parquet_path).iter_batches(columns=[text_col]):
        for text in batch.column(0).to_pylist():
            if not text:
                continue
            ws = [w for w in text.split(" ") if w]
            n += len(ws)
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ws, ws[1:]):
                k = f"{a} {b}"
                bi[k] = bi.get(k, 0) + 1
            for a, b, c in zip(ws, ws[1:], ws[2:]):
                k = f"{a} {b} {c}"
                tri[k] = tri.get(k, 0) + 1
    return _counts_to_artifact(uni, bi, tri, n, dims)


def fit_stupid_backoff_distributed(
    docs: DataFrame,
    text_col: str = "text",
    dims: tuple[int, int, int] = (64, 2048, 32768),
    min_count: int = 1,
    max_ngrams: int = 1 << 20,
) -> StupidBackoffLM:
    """The 100 TB fit: per-order explode + groupBy count (map-side
    combine does the heavy lifting — n-gram counting is the textbook
    combiner workload), `min_count` pruning (KenLM's --prune), and a
    deterministic top-`max_ngrams` cap (count desc, then key) so driver
    traffic is bounded by the model size, never the corpus. With
    min_count=1 and caps above the distinct counts this reproduces the
    serial fit exactly (pinned in tests/test_lm.py)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    base = docs.filter(F.col(text_col).isNotNull()).select(toks.alias("_t"))
    n1 = F.greatest(F.size("_t") - 1, F.lit(0))
    n2 = F.greatest(F.size("_t") - 2, F.lit(0))
    grams = {
        "uni": base.select(F.explode("_t").alias("g")),
        "bi": base.select(
            F.explode(
                F.zip_with(
                    F.slice("_t", 1, n1),
                    F.slice("_t", 2, n1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("g")
        ),
        "tri": base.select(
            F.explode(
                F.zip_with(
                    F.zip_with(
                        F.slice("_t", 1, n2),
                        F.slice("_t", 2, n2),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    ),
                    F.slice("_t", 3, n2),
                    lambda p, c: F.concat(p, F.lit(" "), c),
                )
            ).alias("g")
        ),
    }
    def _count(df: DataFrame) -> dict[str, int]:
        counted = (
            df.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count)
            .orderBy(F.col("n").desc(), F.col("g"))
            .limit(max_ngrams)
        )
        return {r["g"]: int(r["n"]) for r in counted.collect()}

    # r8: the three per-order counts are independent jobs — submit them
    # concurrently so each order's tail back-fills the others' idle cores
    # (guide §2.6). Results are per-job deterministic either way; measured
    # 13s → ~6s at the 10x bench corpus.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {name: pool.submit(_count, df) for name, df in grams.items()}
        tables: dict[str, dict[str, int]] = {
            name: f.result() for name, f in futs.items()
        }
    n_tokens = sum(tables["uni"].values())
    return _counts_to_artifact(
        tables["uni"], tables["bi"], tables["tri"], n_tokens, dims
    )


# -- scoring -----------------------------------------------------------------


def score_text_py(text: str, lm: StupidBackoffLM) -> tuple[int, int]:
    """(n_words, logp_micro) — pure-Python twin of the Spark scorer,
    bucket lookups (and therefore hash collisions) included."""
    d1, d2, d3 = lm.dims

    def u(w: str) -> int:
        v = lm.s1[_bucket(w, d1)]
        return v if v != SENT else lm.oov_micro

    def b(wp: str, w: str) -> int:
        v = lm.s2[_bucket(f"{wp} {w}", d2)]
        return v if v != SENT else ALPHA_MICRO + u(w)

    ws = [w for w in text.split(" ") if w]
    total = 0
    for i, w in enumerate(ws):
        if i == 0:
            total += u(w)
        elif i == 1:
            total += b(ws[0], w)
        else:
            v = lm.s3[_bucket(f"{ws[i - 2]} {ws[i - 1]} {w}", d3)]
            total += v if v != SENT else ALPHA_MICRO + b(ws[i - 1], w)
    return len(ws), total


def _array_lit(values: Sequence[int]) -> Column:
    """array<long> literal as ONE AST NODE. `F.lit(list)` builds the
    array element-by-element over py4j — 14.8s for the 32k trigram
    table (r6); a parsed `F.expr("array(...)")` builds fast but leaves
    a CreateArray with 32k Literal children that EVERY new plan's
    analyzer/optimizer walk re-visits — ~0.5-0.7s per plan at dim 32768,
    paid by each incremental-curation batch and each LM query (r8,
    guide §1.2/§5). `from_json` of one string literal is a 2-node tree
    that ConstantFolding evaluates to the same array literal before
    execution (verified: optimized plan shows the materialized array;
    element values bit-identical). FAILFAST: under the default
    PERMISSIVE mode a malformed or bigint-overflowing element turns the
    WHOLE table into NULL, silently nulling every score; FAILFAST
    raises instead. Shared by the LM, DSIR and quality-model tables."""
    return F.from_json(
        F.lit("[" + ",".join(str(v) for v in values) + "]"),
        "array<bigint>",
        {"mode": "FAILFAST"},
    )


def _lookup(arr_lit: Column, key: Column, dim: int) -> Column:
    return F.element_at(arr_lit, (md5_long(key) % dim).cast("int") + 1)


def lm_logprob_micro(text: Column | str, lm: StupidBackoffLM) -> Column:
    """struct(n_words long, logp_micro long) of a document under the
    fitted LM — one native-column projection, exact int64 (see module
    docstring for the per-token convention). The three score tables are
    array LITERALS (constant-folded once; broadcast by value), so a
    full-corpus scoring pass is scan → project → done: no shuffle, no
    Python, nothing to skew. The tree is memoized per (lm, column NAME):
    IncrementalCuration scores every batch under the SAME pinned lm, and
    rebuilding the three array parses + the zip_with tree was ~2 s of
    every delta's wall (r7, VERDICT r6 #1). Only name-derived inputs are
    cached — a DataFrame-BOUND column (df["text"]) carries resolved
    attribute ids that are legal only against its own DataFrame
    (cross-DF reuse raises MISSING_ATTRIBUTES, verified), so caching one
    would poison later same-named unresolved callers."""
    if isinstance(text, str):
        from .colcache import cached_col

        return cached_col(
            "lm_logprob_micro",
            (lm,),
            ("name", text),
            lambda: _lm_logprob_micro(F.col(text), lm),
        )
    return _lm_logprob_micro(text, lm)


def _lm_logprob_micro(c: Column, lm: StupidBackoffLM) -> Column:
    d1, d2, d3 = lm.dims
    a1 = _array_lit(lm.s1)
    a2 = _array_lit(lm.s2)
    a3 = _array_lit(lm.s3)
    alpha = F.lit(ALPHA_MICRO).cast("long")
    oov = F.lit(lm.oov_micro).cast("long")
    zero = F.lit(0).cast("long")
    sent = F.lit(SENT).cast("long")

    def uni_eff(w: Column) -> Column:
        v = _lookup(a1, w, d1)
        return F.when(v != sent, v).otherwise(oov)

    def big_eff(wp: Column, w: Column) -> Column:
        v = _lookup(a2, F.concat(wp, F.lit(" "), w), d2)
        return F.when(v != sent, v).otherwise(alpha + uni_eff(w))

    toks = F.filter(F.split(c, " "), lambda w: w != F.lit(""))
    n = F.coalesce(F.size(toks), F.lit(0))
    m = F.greatest(n - 2, F.lit(0))
    # tokens 3..n: zip_with over aligned slices (notes #17: never
    # element_at(toks, i) inside a transform-over-indices lambda). Trigram
    # scores and bigram-backoff values are built as two aligned arrays and
    # combined elementwise, so each n-gram is hashed exactly once.
    tri_keys = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(toks, 3, m),
        lambda p, w: F.concat(p, F.lit(" "), w),
    )
    tri_scores = F.transform(tri_keys, lambda k: _lookup(a3, k, d3))
    backoffs = F.zip_with(
        F.slice(toks, 2, m),
        F.slice(toks, 3, m),
        lambda wp, w: big_eff(wp, w),
    )
    per_tok = F.zip_with(
        tri_scores,
        backoffs,
        lambda t, bo: F.when(t != sent, t).otherwise(alpha + bo),
    )
    sum3 = F.aggregate(per_tok, zero, lambda acc, v: acc + v)
    t1 = F.when(n >= 1, uni_eff(F.element_at(toks, 1))).otherwise(zero)
    t2 = F.when(
        n >= 2, big_eff(F.element_at(toks, 1), F.element_at(toks, 2))
    ).otherwise(zero)
    total = t1 + t2 + F.coalesce(sum3, zero)
    return F.struct(
        n.cast("long").alias("n_words"), total.alias("logp_micro")
    )


def lm_avg_logp10(n_words: Column, logp_micro: Column) -> Column:
    """Average per-token log10 probability (double) — the quantity CCNet
    thresholds (perplexity = 10^(-avg); monotone, so filters threshold
    the avg directly and never evaluate the power)."""
    return F.when(
        n_words > 0,
        logp_micro.cast("double") / (n_words.cast("double") * MICRO),
    ).otherwise(F.lit(0.0))


def lm_score_docs(
    docs: DataFrame,
    lm: StupidBackoffLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, logp_micro, avg_logp10) per document. NULL text
    raises in-plan — the bpe_token_counts/pack_sequences contract."""
    from .colcache import cached_col

    def build():
        guarded = F.when(
            F.col(text_col).isNull(),
            F.raise_error(
                F.lit(
                    f"lm_score_docs: NULL {text_col} — filter or fill NULL "
                    "docs before quality scoring"
                )
            ),
        ).otherwise(F.col(text_col))
        return _lm_logprob_micro(guarded, lm)

    # the guarded tree is name-derived (cache-safe; see lm_logprob_micro)
    s = cached_col("lm_logprob_micro", (lm,), ("guarded", text_col), build)
    return docs.select(
        F.col(id_col),
        s["n_words"].alias("n_words"),
        s["logp_micro"].alias("logp_micro"),
    ).select(
        id_col,
        "n_words",
        "logp_micro",
        F.round(lm_avg_logp10(F.col("n_words"), F.col("logp_micro")), 6).alias(
            "avg_logp10"
        ),
    )
