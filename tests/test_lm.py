"""Hashed stupid-backoff LM perplexity scoring (functions/lm.py): exact
Spark == pure-Python-twin equality (collisions included), serial ==
distributed fit equality, pruning behavior, discrimination sanity on a
structured corpus, and the NULL-text in-plan contract."""

from __future__ import annotations

import random

import pytest

from dig_entity_resolution_spark.functions.lm import (
    ALPHA_MICRO,
    SENT,
    StupidBackoffLM,
    fit_stupid_backoff,
    fit_stupid_backoff_distributed,
    lm_score_docs,
    score_text_py,
)

FIXTURE = "/root/testdata/sf0.001/documents.parquet"
DIMS = (64, 2048, 32768)


@pytest.fixture(scope="module")
def lm():
    return fit_stupid_backoff(FIXTURE, dims=DIMS)


def test_artifact_shape(lm):
    assert lm.dims == DIMS
    o1, o2, o3 = lm.occupied()
    assert 0 < o1 <= DIMS[0] and 0 < o2 <= DIMS[1] and 0 < o3 <= DIMS[2]
    assert lm.oov_micro < 0
    # every real score is ≤ 0 (log10 of a probability), sentinel is +1
    for t in (lm.s1, lm.s2, lm.s3):
        assert all(v == SENT or v <= 0 for v in t)


def test_spark_scoring_equals_python_twin(lm, spark):
    docs = spark.read.parquet(FIXTURE).select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {
        r["doc_id"]: (r["n_words"], r["logp_micro"])
        for r in lm_score_docs(docs, lm).collect()
    }
    assert len(got) == len(texts)
    for did, text in texts.items():
        assert got[did] == score_text_py(text, lm)


def test_edge_docs(lm, spark):
    rows = [
        (1, ""),  # empty → (0, 0)
        (2, "hello"),  # single token → unigram/OOV only
        (3, "a  b"),  # double space collapses
        (4, "completely unseen gibberish words qqq zzz"),  # OOV run
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_words"], r["logp_micro"])
        for r in lm_score_docs(docs, lm).collect()
    }
    for did, text in rows:
        assert got[did] == score_text_py(text, lm)
    assert got[1] == (0, 0)


def test_null_text_raises_in_plan(lm, spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        lm_score_docs(docs, lm).collect()


def test_distributed_fit_equals_serial(lm, spark):
    docs = spark.read.parquet(FIXTURE).select("doc_id", "text")
    lmd = fit_stupid_backoff_distributed(docs, dims=DIMS)
    assert lmd == lm


def test_distributed_fit_pruning(spark):
    # min_count=2 must drop every singleton n-gram but keep the rest
    rows = [(1, "a b c a b c a b"), (2, "x y z")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    full = fit_stupid_backoff_distributed(docs, dims=(16, 64, 64))
    pruned = fit_stupid_backoff_distributed(
        docs, dims=(16, 64, 64), min_count=2
    )
    assert sum(pruned.occupied()) < sum(full.occupied())
    # surviving entries score identically at the unigram level
    from dig_entity_resolution_spark.functions.lm import _bucket

    for w in ("a", "b"):
        assert pruned.s1[_bucket(w, 16)] != SENT


def test_discrimination_on_structured_corpus(spark):
    """Text drawn from the fit distribution must out-score (higher avg
    log-prob) token-shuffled versions of itself — the property a
    perplexity threshold filters on. Uses a patterned corpus (repeated
    sentence templates) so trigram structure exists to destroy."""
    rng = random.Random(5)
    subj = ["the cat", "a dog", "the bird", "my friend"]
    verb = ["sat on", "ran to", "looked at", "jumped over"]
    obj = ["the mat", "a tree", "the fence", "my chair"]
    sents = []
    for i in range(300):
        sents.append(
            (i, f"{rng.choice(subj)} {rng.choice(verb)} {rng.choice(obj)}")
        )
    corpus = spark.createDataFrame(sents, ["doc_id", "text"])
    lm = fit_stupid_backoff_distributed(corpus, dims=(64, 512, 4096))
    probes = []
    for i in range(40):
        good = f"{rng.choice(subj)} {rng.choice(verb)} {rng.choice(obj)}"
        toks = good.split(" ")
        rng.shuffle(toks)
        probes.append((2 * i, good, "good"))
        probes.append((2 * i + 1, " ".join(toks), "shuffled"))
    pdf = spark.createDataFrame(probes, ["doc_id", "text", "kind"])
    scored = lm_score_docs(pdf.select("doc_id", "text"), lm)
    rows = {r["doc_id"]: r["avg_logp10"] for r in scored.collect()}
    kinds = {p[0]: p[2] for p in probes}
    good_avg = sum(v for k, v in rows.items() if kinds[k] == "good") / 40
    shuf_avg = sum(v for k, v in rows.items() if kinds[k] == "shuffled") / 40
    assert good_avg > shuf_avg + 0.2


def test_backoff_chain_values():
    """Hand-check the backoff arithmetic on a transparent 3-word model."""
    # corpus: "a b c" seen 4 times → all counts known exactly
    uni = {"a": 4, "b": 4, "c": 4}
    bi = {"a b": 4, "b c": 4}
    tri = {"a b c": 4}
    from dig_entity_resolution_spark.functions.lm import _counts_to_artifact

    lm = _counts_to_artifact(uni, bi, tri, 12, (16, 64, 64))
    n, total = score_text_py("a b c", lm)
    assert n == 3
    # token 1: log10(4/12); token 2: log10(4/4)=0; token 3: log10(4/4)=0
    import math

    assert total == int(round(math.log10(4 / 12) * 1_000_000))
    # unseen continuation backs off: trigram "b c a" absent →
    # alpha + bigram "c a" absent → alpha + unigram a
    n2, t2 = score_text_py("b c a", lm)
    exp_tok3 = 2 * ALPHA_MICRO + lm.s1[
        __import__(
            "dig_entity_resolution_spark.functions.lm", fromlist=["_bucket"]
        )._bucket("a", 16)
    ]
    tok1 = lm.s1[
        __import__(
            "dig_entity_resolution_spark.functions.lm", fromlist=["_bucket"]
        )._bucket("b", 16)
    ]
    # token 2 ("c" after "b"): bigram "b c" present → its score (0)
    assert t2 == tok1 + 0 + exp_tok3


def test_ccnet_buckets_are_balanced_tertiles(spark):
    """Per-lang head/middle/tail sizes differ by at most one (ntile
    contract), every doc is assigned, and head docs have the best
    (highest) avg log-prob in their language."""
    from dig_entity_resolution_spark import queries as Q

    df = Q.spark_queries()["ccnet_buckets"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert len(rows) == docs.count()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r["ppl_bucket"]] = sizes.get(r["ppl_bucket"], 0) + 1
        if len(rs) >= 3:
            assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        worst_head = min(r["avg_logp10"] for r in rs if r["ppl_bucket"] == "head")
        tail = [r["avg_logp10"] for r in rs if r["ppl_bucket"] == "tail"]
        if tail:
            assert worst_head >= max(tail) or len(rs) < 3


def _failfast_cases():
    from pyspark.sql import functions as F

    from dig_entity_resolution_spark.functions.dsir import (
        DsirWeights,
        dsir_logratio_micro,
    )
    from dig_entity_resolution_spark.functions.lm import _array_lit
    from dig_entity_resolution_spark.functions.quality_model import (
        quality_logit_micro,
    )

    big = 10**20  # past the bigint range
    text = F.lit("a b c")
    return {
        "malformed": lambda: _array_lit(["1", "x"]),
        "overflow": lambda: _array_lit([1, big]),
        "dsir": lambda: dsir_logratio_micro(text, DsirWeights(dim=2, w=(1, big))),
        "quality": lambda: quality_logit_micro(text, [1, big], 0, 2),
    }


@pytest.mark.parametrize("case", ["malformed", "overflow", "dsir", "quality"])
def test_score_table_literal_fails_fast(spark, case):
    """A score table whose literal cannot parse as array<bigint> must
    raise, not null every score (PERMISSIVE from_json returns NULL)."""
    col = _failfast_cases()[case]()
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        spark.range(1).select(col.alias("v")).collect()
