"""Model-based document quality scoring (VERDICT r4 gap #2).

A fastText-style linear classifier over hashed token n-grams — the public
CCNet/Gopher-era design for separating prose from boilerplate: features
are word unigrams + bigrams hashed into `dim` buckets, the model is a
single weight vector fit by logistic regression, and scoring is one dot
product. No external model files, no network: the training corpus is
synthesized deterministically in-code (prose-like vs boilerplate
templates), the fit is serial numpy (bit-stable), and the learned weights
are QUANTIZED to integer micro-units and inlined as literals into both
engines — the same notes-#25 recipe that made PQ hash-exact. Scoring sums
int64 weights, so the emitted logit is exactly reproducible cross-engine
(no float fold-order hazard; sigmoid/exp never enter the emitted columns).

Spark scoring is pure native Column expressions: split → gram arrays →
md5-bucket (the cross-engine 60-bit construction, hashing.md5_long) →
element_at into the weights literal → integer aggregate. Zero shuffle,
zero Python, broadcast-by-value weights — the exact shape a 100 TB
quality-filter pass needs. The DuckDB twin (queries.py) mirrors it with
list_transform + list_sum.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import md5_long
from .lm import _array_lit

DIM = 1024
MICRO = 1_000_000

# -- deterministic training corpus -------------------------------------------

_STOP = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"]
_CONTENT = [
    "market", "research", "climate", "science", "history", "garden",
    "economy", "travel", "health", "energy", "culture", "policy",
    "river", "mountain", "story", "author", "report", "study",
    "evidence", "theory", "music", "design", "industry", "village",
]
_BOILER = [
    "home", "login", "register", "cart", "checkout", "contact", "about",
    "privacy", "terms", "copyright", "rights", "reserved", "click",
    "here", "buy", "now", "free", "shipping", "subscribe", "newsletter",
    "menu", "search", "sitemap", "faq",
]


def synth_quality_corpus(
    n_per_class: int = 400, seed: int = 11
) -> list[tuple[str, int]]:
    """(text, label) pairs — label 1 = prose-like, 0 = boilerplate. Pure
    `random.Random(seed)`, so the corpus (and therefore the fitted weights)
    is identical on every platform."""
    rng = random.Random(seed)
    out: list[tuple[str, int]] = []
    for _ in range(n_per_class):
        words: list[str] = []
        for _s in range(rng.randint(3, 8)):
            for _w in range(rng.randint(4, 9)):
                words.append(rng.choice(_STOP))
                words.append(rng.choice(_CONTENT))
        out.append((" ".join(words), 1))
    for _ in range(n_per_class):
        base = [rng.choice(_BOILER) for _ in range(rng.randint(3, 6))]
        words = []
        for _r in range(rng.randint(4, 12)):
            words.extend(base)
            if rng.random() < 0.3:
                words.append(rng.choice(_BOILER))
        out.append((" ".join(words), 0))
    # deterministic interleave (fit is full-batch, but keep order defined)
    rng.shuffle(out)
    return out


# -- features ----------------------------------------------------------------


def _grams(text: str) -> list[str]:
    toks = [w for w in text.split(" ") if w]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket(gram: str, dim: int = DIM) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % dim


# -- serial deterministic fit ------------------------------------------------


def fit_quality_model(
    corpus: list[tuple[str, int]] | None = None,
    dim: int = DIM,
    epochs: int = 120,
    lr: float = 0.5,
    l2: float = 1e-4,
) -> tuple[list[int], int]:
    """Full-batch logistic regression on hashed-gram counts; returns
    (weights_micro, bias_micro) — int64 micro-units ready for inlining.
    Serial numpy with a fixed epoch count: bit-deterministic."""
    import numpy as np

    corpus = corpus if corpus is not None else synth_quality_corpus()
    n = len(corpus)
    X = np.zeros((n, dim))
    y = np.zeros(n)
    for i, (text, label) in enumerate(corpus):
        for g in _grams(text):
            X[i, _bucket(g, dim)] += 1.0
        y[i] = label
    # scale features per-doc so long docs don't dominate the gradient: the
    # trained decision is bias + w·x/L > 0. The scorers emit the
    # EQUIVALENT integer form L·bias + w·x (L = max(#grams,1) > 0, so the
    # sign — the label — is identical), keeping the emitted logit exact
    # int64 arithmetic with no division (r5 review: the earlier raw-count
    # scorer bias + w·x flips sign vs the trained boundary on long docs)
    X /= np.maximum(X.sum(axis=1, keepdims=True), 1.0)
    w = np.zeros(dim)
    b = 0.0
    for _ in range(epochs):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = X.T @ (p - y) / n + l2 * w
        w -= lr * g
        b -= lr * float(np.mean(p - y))
    return [int(round(v * MICRO)) for v in w], int(round(b * MICRO))


def quality_model_cached() -> tuple[list[int], int]:
    """The fitted default artifact, computed once per process (the fit is
    deterministic, so caching is purely an efficiency concern — r5 review:
    per-call refits cost ~100s of ms of driver time in sampler loops)."""
    if not hasattr(quality_model_cached, "_cache"):
        quality_model_cached._cache = fit_quality_model()
    return quality_model_cached._cache


def score_logit_micro_py(
    text: str, weights_micro: list[int], bias_micro: int, dim: int = DIM
) -> int:
    """Pure-Python twin of the Spark/DuckDB scorers (pytest oracle).
    Emits L·bias + w·x (L = max(#grams, 1)) — sign-identical to the
    trained normalized decision bias + w·x/L, in exact int64."""
    grams = _grams(text)
    return max(len(grams), 1) * bias_micro + sum(
        weights_micro[_bucket(g, dim)] for g in grams
    )


# -- native Spark scorer ------------------------------------------------------


def quality_logit_micro(
    text: Column | str, weights_micro: list[int], bias_micro: int, dim: int = DIM
) -> Column:
    """Integer logit (micro-units) of the linear model — JVM-only.
    L·bias + Σ w[bucket(gram)] with L = max(#grams, 1): sign-identical to
    the trained per-length-normalized decision, exact in int64.

    Bigrams come from zip_with over two SLICES of the token array — never
    element_at(toks, i) inside a transform-over-indices lambda, which
    CollapseProject inlines into a per-index re-split of the text (the
    notes-#17 pitfall, O(L²) per doc: measured 7.8s → 0.9s at sf0.1).
    The gram count is computed arithmetically (n + max(n−1,0)) for the
    same reason. Memoized per (weights, column NAME) — the model is a
    fixed artifact and recurring curation batches rebuild the same tree
    (r7, VERDICT r6 #1). Only name-derived inputs cache: a
    DataFrame-bound column carries resolved attribute ids legal only
    against its own DataFrame (see lm_logprob_micro)."""
    if isinstance(text, str):
        from .colcache import cached_col

        return cached_col(
            "quality_logit_micro",
            (weights_micro,),
            ("name", text, int(bias_micro), dim),
            lambda: _quality_logit_micro(
                F.col(text), weights_micro, bias_micro, dim
            ),
        )
    return _quality_logit_micro(text, weights_micro, bias_micro, dim)


def _quality_logit_micro(
    c: Column, weights_micro: list[int], bias_micro: int, dim: int
) -> Column:
    toks = F.filter(F.split(c, " "), lambda w: w != F.lit(""))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    grams = F.concat(toks, bigrams)
    wlit = _array_lit(weights_micro)  # one-NODE literal (see its docstring)
    gram_sum = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda a, g: a
        + F.element_at(wlit, (md5_long(g) % dim).cast("int") + 1),
    )
    n0 = F.greatest(F.coalesce(F.size(toks), F.lit(0)), F.lit(0))
    n_grams = (n0 + F.greatest(n0 - 1, F.lit(0))).cast("long")
    scale = F.greatest(n_grams, F.lit(1).cast("long"))
    return scale * F.lit(int(bias_micro)).cast("long") + F.coalesce(
        gram_sum, F.lit(0).cast("long")
    )
