"""Data Selection with Importance Resampling (DSIR, Xie et al. 2023).

The public method for choosing pretraining data that "looks like" a
trusted target corpus: model both the target distribution and the raw
pool as bag-of-hashed-n-gram models, weight every raw document by the
log importance ratio log p_target(x)/p_raw(x) (a sum of per-feature
log count-ratios under the product model), and resample the pool by
that weight. This module is the Spark-first expression:

  * Features: word unigrams + bigrams hashed into `dim` buckets — the
    EXACT feature map of functions/quality_model.py (shared `_grams` /
    `_bucket`), so the two curation signals are comparable and the
    DuckDB/Python twins reuse one construction.
  * Weights: per-bucket int64 MICRO log10 count-ratios with add-one
    smoothing over buckets (w[b] = log10(((t[b]+1)/(T+dim)) /
    ((r[b]+1)/(R+dim)))), quantized at FIT time — document scores are
    integer sums, exact cross-engine (the quality_model / lm.py
    discipline: no float fold-order hazard ever reaches an emitted
    column).
  * Scoring (the 100 TB path): one native projection — split →
    zip_with-over-slices bigrams (notes #17) → integer F.aggregate
    over a literal weight array (notes #46's one-parse F.expr literal).
    Zero shuffle, zero Python, model broadcast by value.
  * Fit: target counts come from a driver-side list of trusted texts
    (DSIR's target sets — Wikipedia/books-like — are tiny next to the
    pool; here the deterministic in-code prose corpus); raw-pool counts
    come either from a serial pyarrow pass (bit-stable oracle artifact,
    the _lm_artifact discipline) or from the distributed twin — explode
    grams → md5-bucket → groupBy count, so driver traffic is bounded by
    `dim` rows, never the corpus. Serial == distributed is pinned in
    tests/test_dsir.py.
  * Selection: `dsir_select_topk` is the deterministic oracle config —
    global top-k by (logratio, id), a TakeOrdered plan, no full sort.
    `dsir_resample_gumbel` is the production sampler: DSIR's Gumbel
    top-k trick (add Gumbel noise to the log weight, take top-k ==
    sampling without replacement proportional to the importance
    weight), with the Gumbel draw derived from md5(id, salt) so the
    sample is a pure function of (corpus, salt) — resumable, no RNG
    state, same posture as operators/sampling.py. Floats enter only
    the sampling KEY (never an emitted metric), so it registers
    rows-only.

Per-doc semantics: score = Σ_grams w[bucket(gram)]; empty docs score 0
(no features ⇒ ratio 1); NULL text raises in-plan (the
pack_sequences/bpe/lm contract).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long
from .lm import _array_lit
from .quality_model import _bucket, _grams, synth_quality_corpus

#: integer log10 micro-units — matches quality_model / lm
MICRO = 1_000_000

DIM = 4096


@dataclass(frozen=True)
class DsirWeights:
    """Fitted artifact: one int64 micro-log10 ratio per hash bucket.
    `dim` is part of the model — scores are only meaningful at the dim
    the fit used."""

    dim: int
    w: tuple[int, ...]


def default_target_texts() -> list[str]:
    """The trusted target corpus: the prose-like half of the
    deterministic quality corpus (label 1). In production this is the
    curated target set (Wikipedia/books sample); the in-code corpus
    keeps the artifact platform-identical with zero fixtures."""
    return [t for t, label in synth_quality_corpus() if label == 1]


def _counts_py(texts, dim: int) -> list[int]:
    c = [0] * dim
    for t in texts:
        if not t:
            continue
        for g in _grams(t):
            c[_bucket(g, dim)] += 1
    return c


def raw_counts_serial(parquet_path: str, text_col: str = "text", dim: int = DIM) -> list[int]:
    """Serial pyarrow raw-pool counts — bit-stable regardless of Spark
    partitioning (oracle-artifact discipline)."""
    import pyarrow.parquet as pq

    c = [0] * dim
    for batch in pq.ParquetFile(parquet_path).iter_batches(columns=[text_col]):
        for t in batch.column(0).to_pylist():
            if not t:
                continue
            for g in _grams(t):
                c[_bucket(g, dim)] += 1
    return c


def raw_counts_distributed(
    docs: DataFrame, text_col: str = "text", dim: int = DIM
) -> list[int]:
    """The 100 TB fit: explode grams → md5 bucket → groupBy count (the
    map-side combiner does the heavy lifting); at most `dim` rows reach
    the driver. Identical to raw_counts_serial (pinned in tests)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    base = docs.filter(F.col(text_col).isNotNull()).select(toks.alias("_t"))
    n1 = F.greatest(F.size("_t") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("_t", 1, n1),
        F.slice("_t", 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = base.select(F.explode(F.concat(F.col("_t"), bigrams)).alias("g"))
    rows = (
        grams.select((md5_long(F.col("g")) % dim).cast("int").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    c = [0] * dim
    for r in rows:
        c[r["b"]] = int(r["n"])
    return c


def fit_dsir_weights(
    target_counts: list[int], raw_counts: list[int], dim: int = DIM
) -> DsirWeights:
    """Per-bucket smoothed log10 count-ratio, quantized to int64 micros.
    Add-one smoothing over buckets keeps every ratio finite and makes a
    bucket unseen on both sides score ~0 (only the normalizer offset)."""
    T = sum(target_counts) + dim
    R = sum(raw_counts) + dim
    w = tuple(
        int(round(math.log10(((t + 1) / T) / ((r + 1) / R)) * MICRO))
        for t, r in zip(target_counts, raw_counts)
    )
    return DsirWeights(dim=dim, w=w)


# -- scoring -----------------------------------------------------------------


def dsir_score_py(text: str, wt: DsirWeights) -> tuple[int, int]:
    """(n_grams, logratio_micro) — pure-Python twin of the Spark scorer,
    hash collisions included."""
    gs = _grams(text)
    return len(gs), sum(wt.w[_bucket(g, wt.dim)] for g in gs)


def _weights_lit(wt: DsirWeights) -> Column:
    # one-NODE literal (notes #46): F.lit(list) would round-trip py4j per
    # element, and a parsed array(...) leaves dim=4096 Literal children
    # for every plan's analyzer walk (see lm._array_lit)
    return _array_lit(wt.w)


def dsir_logratio_micro(text: Column | str, wt: DsirWeights) -> Column:
    """struct(n_grams long, logratio_micro long) — exact integer log10
    importance ratio of a document, as one native expression. Memoized
    per (wt, column NAME) — the pinned-artifact batches of
    IncrementalCuration rebuild this tree with the same weights every
    delta (r7, VERDICT r6 #1). Only name-derived inputs cache: a
    DataFrame-bound column carries resolved attribute ids legal only
    against its own DataFrame (see lm_logprob_micro)."""
    if isinstance(text, str):
        from .colcache import cached_col

        return cached_col(
            "dsir_logratio_micro",
            (wt,),
            ("name", text),
            lambda: _dsir_logratio_micro(F.col(text), wt),
        )
    return _dsir_logratio_micro(text, wt)


def _dsir_logratio_micro(c: Column, wt: DsirWeights) -> Column:
    arr = _weights_lit(wt)
    toks = F.filter(F.split(c, " "), lambda w: w != F.lit(""))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    grams = F.concat(toks, bigrams)
    total = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda a, g: a + F.element_at(arr, (md5_long(g) % wt.dim).cast("int") + 1),
    )
    n0 = F.coalesce(F.size(toks), F.lit(0))
    n_grams = (n0 + F.greatest(n0 - 1, F.lit(0))).cast("long")
    return F.struct(
        n_grams.alias("n_grams"),
        F.coalesce(total, F.lit(0).cast("long")).alias("logratio_micro"),
    )


def dsir_score_docs(
    docs: DataFrame,
    wt: DsirWeights,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, logratio_micro) per document. NULL text raises
    in-plan (the bpe/lm/pack contract: a silently-zero doc would pass
    selection unnoticed)."""
    from .colcache import cached_col

    def build():
        guarded = F.when(
            F.col(text_col).isNull(),
            F.raise_error(
                F.lit(
                    f"dsir_score_docs: NULL {text_col} — filter or fill "
                    "NULL docs before importance scoring"
                )
            ),
        ).otherwise(F.col(text_col))
        return _dsir_logratio_micro(guarded, wt)

    # name-derived guarded tree (cache-safe; see dsir_logratio_micro)
    s = cached_col("dsir_logratio_micro", (wt,), ("guarded", text_col), build)
    return docs.select(
        F.col(id_col),
        s["n_grams"].alias("n_grams"),
        s["logratio_micro"].alias("logratio_micro"),
    )


def dsir_select_topk(
    docs: DataFrame,
    wt: DsirWeights,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic greedy selection: global top-k by importance weight,
    ties by id. orderBy+limit compiles to TakeOrderedAndProject — each
    partition keeps a k-heap and the driver merges k·P rows, no global
    sort (the F6 discipline). The oracle config."""
    return (
        dsir_score_docs(docs, wt, id_col, text_col)
        .orderBy(F.col("logratio_micro").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_select_frac(
    docs: DataFrame,
    wt: DsirWeights,
    keep_frac: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    relative_error: float = 0.001,
) -> DataFrame:
    """The 100 TB selection shape: top-k via orderBy+limit is a
    TakeOrdered that merges k·P rows on the driver — fine for the oracle
    k=100, wrong when "k" is billions. Production selects a FRACTION:
    approx-quantile the integer score once (a tiny driver-side sketch),
    broadcast the threshold into a plain filter, and the corpus streams
    through scan → project → filter with no sort and no driver
    materialization. The boundary is fuzzy by `relative_error` of rank
    (the documented approx-quantile contract) — exactly the tolerance a
    keep-rate knob has anyway."""
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    scored = dsir_score_docs(docs, wt, id_col, text_col)
    if keep_frac == 1.0:
        return scored
    thr = scored.approxQuantile(
        "logratio_micro", [1.0 - keep_frac], relative_error
    )[0]
    return scored.filter(F.col("logratio_micro") >= F.lit(int(thr)))


def dsir_resample_gumbel(
    docs: DataFrame,
    wt: DsirWeights,
    k: int,
    salt: str = "dsir",
    temperature: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR's actual sampler: Gumbel top-k == k draws WITHOUT replacement
    with probability ∝ exp(log_w / temperature). The Gumbel variate is
    -ln(-ln(u)) with u derived from md5(id ‖ salt) — a pure function of
    (corpus, salt): deterministic, resumable, no RNG state or seed
    plumbing (operators/sampling.py posture). temperature→0 recovers
    greedy top-k; 1.0 is faithful importance resampling. Floats appear
    only in the transient sampling key, so cross-engine bit-equality is
    not claimed (rows-only registry config)."""
    if not (temperature > 0):
        raise ValueError("temperature must be > 0")
    scored = dsir_score_docs(docs, wt, id_col, text_col)
    # u in (0, 1): md5 bucket of (id, salt) over 2^40 + half-offset
    span = 1 << 40
    u = (
        (md5_long(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt))) % span)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(span))
    gumbel = -F.log(-F.log(u))
    log_w = F.col("logratio_micro").cast("double") / F.lit(float(MICRO))
    # natural-log Gumbel noise vs log10 weights: rescale the weight to
    # nats so the perturbation matches the classic construction
    key = log_w * F.lit(math.log(10.0) / temperature) + gumbel
    return (
        scored.withColumn("_key", key)
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
        .drop("_key")
    )
