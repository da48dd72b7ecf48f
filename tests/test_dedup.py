from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dig_entity_resolution_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dup_groups,
    minhash_lsh_dup_pairs,
    ngram_jaccard_dup_pairs,
    simhash_dup_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 (after normalization)
        (3, base.replace("quick", "quikc")),  # near dup
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated document mentioning entity resolution pipelines"),
        (6, base + "!"),  # exact dup after normalization strips punctuation
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = exact_dup_groups(docs, "doc_id", "text")
    rows = {r.doc_id: (r.group_size, r.is_canonical) for r in out.collect()}
    assert rows[1] == (3, True)
    assert rows[2] == (3, False)
    assert rows[6] == (3, False)
    assert rows[4] == (1, True)


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id1, r.id2)
        for r in minhash_lsh_dup_pairs(
            docs, "doc_id", "text", jaccard_threshold=0.4
        ).collect()
    }
    assert (1, 2) in pairs and (1, 6) in pairs
    assert (1, 3) in pairs  # near-dup within jaccard radius
    assert not any({4, 5} & {a, b} for a, b in pairs)


def test_simhash_dup_pairs(docs):
    pairs = {
        (r.id1, r.id2)
        for r in simhash_dup_pairs(docs, "doc_id", "text", max_hamming=8).collect()
    }
    assert (1, 2) in pairs and (1, 6) in pairs


def test_ngram_jaccard(docs):
    pairs = {
        (r.id1, r.id2)
        for r in ngram_jaccard_dup_pairs(
            docs, "doc_id", "text", threshold=0.6, prefix_block=4
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs


def test_ngram_jaccard_hot_bucket_cap(spark):
    """A pathological corpus where half the docs share a 10-char prefix
    (boilerplate headers) must not emit O(n²) pairs: the hot bucket is
    suppressed, while genuine dups in cold buckets are still found
    (VERDICT r1 'What's wrong' #1)."""
    shared = [
        (i, f"the common boilerplate header row {i} differs after prefix")
        for i in range(60)
    ]
    cold = [
        (100, "zebra unique document text for the cold bucket pair match"),
        (101, "zebra unique document text for the cold bucket pair match"),
    ]
    docs = spark.createDataFrame(shared + cold, ["doc_id", "text"])
    out = ngram_jaccard_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, prefix_block=10, max_bucket=50
    ).collect()
    pairs = {(r.id1, r.id2) for r in out}
    assert (100, 101) in pairs  # cold bucket survives
    assert all(a >= 100 for a, b in pairs)  # hot bucket fully suppressed
    # and with the cap above the bucket size, the pairs come back
    out2 = ngram_jaccard_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, prefix_block=10, max_bucket=100
    )
    assert out2.count() > len(pairs)


def test_simhash_default_bands_lossless_blocking(spark):
    """With the r2 default n_bands = max_hamming + 1 the banded blocking is
    pigeonhole-lossless: simhash_dup_pairs must return EXACTLY the pairs a
    full cross-join of fingerprints yields at the same max_hamming (the r1
    fixed n_bands=4 silently dropped hamming 4-6 pairs, ADVICE r1)."""
    from dig_entity_resolution_spark.functions.minhash import (
        hamming64,
        simhash_table,
    )
    from dig_entity_resolution_spark.functions.normalize import (
        normalize_text,
        tokenize,
    )

    rows = []
    base_words = [f"w{i}" for i in range(12)]
    for d in range(30):
        # vary a couple of words per doc → a spread of pairwise hammings
        words = list(base_words)
        words[d % 12] = f"x{d}"
        words[(d * 5) % 12] = f"y{d % 7}"
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id1, r.id2): r.hamming
        for r in simhash_dup_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    }
    base = docs.select(
        F.col("doc_id"), tokenize(normalize_text("text")).alias("toks")
    )
    fp = simhash_table(base, "doc_id", "toks")
    a = fp.select(F.col("doc_id").alias("id1"), F.col("fp").alias("fp1"))
    b = fp.select(F.col("doc_id").alias("id2"), F.col("fp").alias("fp2"))
    want = {
        (r.id1, r.id2): r.hamming
        for r in a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming64("fp1", "fp2").alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert got == want
    assert any(h >= 4 for h in want.values()), "fixture must exercise hamming 4-6"


def test_embedding_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.5, -0.2, 0.8]),
        (2, [1.0, 0.5, -0.2, 0.8]),  # identical
        (3, [0.99, 0.51, -0.19, 0.82]),  # near
        (4, [-1.0, 0.5, 0.2, -0.8]),  # far (different sign bucket)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id1, r.id2)
        for r in embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=0.99, n_sign_bits=4
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_repeated_substring_spans_merge_and_keep_first(spark):
    from dig_entity_resolution_spark.operators.dedup import (
        repeated_substring_dedup,
        repeated_substring_spans,
    )

    passage = "a b c d e f g h i j k l"  # 12 tokens → 5 dup 8-grams, 1 span
    docs = spark.createDataFrame(
        [
            (1, passage + " x y z"),            # first occurrence — kept
            (2, "p q r " + passage + " s t"),   # later occurrence — excised
            (3, "u v w only unique tokens here none repeat at all"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_substring_spans(docs, min_len=8).collect()
    }
    # doc 2: the 12-token passage starts at token 3 → one merged span [3, 15)
    assert spans == {(2, 3, 15)}
    out = {r.doc_id: r for r in repeated_substring_dedup(docs, min_len=8).collect()}
    assert out[1].n_removed_tokens == 0 and out[1].cleaned_text.startswith("a b c")
    assert out[2].n_removed_tokens == 12 and out[2].cleaned_text == "p q r s t"
    assert out[2].n_dup_spans == 1
    assert out[3].n_removed_tokens == 0


def test_repeated_substring_within_one_doc(spark):
    from dig_entity_resolution_spark.operators.dedup import repeated_substring_dedup

    rep = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(7, rep + " mid point filler words go here " + rep)],
        "doc_id long, text string",
    )
    r = repeated_substring_dedup(docs, min_len=8).collect()[0]
    # second occurrence of the 8-token run removed, first kept
    assert r.n_removed_tokens == 8
    assert r.cleaned_text == rep + " mid point filler words go here"


def test_decontaminate_flags_overlap(spark):
    from dig_entity_resolution_spark.operators.decontaminate import decontaminate

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    holdout = spark.createDataFrame(
        [(100, "held out question text " + leak)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "training text containing " + leak + " verbatim"),
            (2, "completely clean training document with no overlap at all ok"),
            (3, "short doc"),  # shorter than n → never contaminated
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in decontaminate(corpus, holdout, n=8).collect()}
    assert out[1].contaminated and out[1].n_overlap >= 1
    assert not out[2].contaminated and out[2].n_overlap == 0
    assert not out[3].contaminated
    # min_hits raises the bar: doc 1 shares exactly ONE window (the leak
    # is exactly 8 tokens), so at min_hits=5 it must NOT be contaminated
    assert out[1].n_overlap == 1
    strict = {
        r.doc_id: r
        for r in decontaminate(corpus, holdout, n=8, min_hits=5).collect()
    }
    assert not strict[1].contaminated and strict[1].n_overlap == 1


def test_near_dup_clusters_end_to_end(spark):
    """The composite dedup product: LSH pairs -> CC -> canonical flags.
    Planted near-copies must land in one cluster whose canonical is the
    min doc id; unrelated docs stay singletons."""
    from dig_entity_resolution_spark.operators.cluster import connected_components
    from dig_entity_resolution_spark.operators.dedup import minhash_lsh_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (10, base),
        (11, base + " extra"),           # near-copy of 10
        (12, "x " + base),               # near-copy of 10/11 → same cluster
        (20, "completely different text about spark shuffles and parquet files"),
        (21, "another unrelated document mentioning broadcast joins and codegen"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_dup_pairs(
        d, "doc_id", "text", shingle_k=5, num_perm=16, bands=8,
        jaccard_threshold=0.5, hash_fn="md5", max_bucket=1 << 40,
    )
    edges = pairs.selectExpr("id1 as src", "id2 as dst")
    assign = connected_components(edges).withColumnRenamed("record_id", "doc_id")
    lab = {
        r.doc_id: r.cluster_id
        for r in d.select("doc_id").join(assign, "doc_id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "doc_id")
        ).collect()
    }
    assert lab[10] == lab[11] == lab[12] == 10  # canonical = min member
    assert lab[20] == 20 and lab[21] == 21     # singletons untouched


def test_repeated_substring_extreme_boilerplate(spark):
    """Skew probe: one 8-gram passage repeated across MANY docs — the
    groupBy(min,count) path must keep exactly the global-first occurrence
    and excise all others, with no window over the hot gram key."""
    from dig_entity_resolution_spark.operators.dedup import repeated_substring_dedup

    boiler = "subscribe to our newsletter for updates every single day"
    docs = spark.createDataFrame(
        [(i, f"doc {i} unique lead-in {i} " + boiler) for i in range(80)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_substring_dedup(docs, min_len=8).collect()}
    assert out[0].n_removed_tokens == 0          # global first kept
    removed = [i for i in range(1, 80) if out[i].n_removed_tokens > 0]
    assert len(removed) == 79                    # every later occurrence cut
    assert all(not out[i].cleaned_text.endswith("day") for i in removed)


def test_near_dup_corpus_production(spark):
    """r5 (VERDICT r4 item 4): the production end product emits the KEPT
    corpus — planted dup groups collapse to their min-id survivor with
    n_merged lineage, pass-through columns survive unchanged, and clean
    docs flow through as singletons."""
    from dig_entity_resolution_spark.operators.dedup import (
        near_dup_corpus,
        release_caches,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different story about catalyst planning and tungsten code"
    rows = [
        (10, base, "en"),
        (11, base + " extra", "en"),      # near-copy of 10
        (12, "x " + base, "de"),          # near-copy → same cluster
        (20, other, "en"),
        (21, other + " yes", "fr"),       # second planted group
        (30, "a lone unrelated document mentioning broadcast joins and shuffles", "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = near_dup_corpus(
        d, "doc_id", "text", jaccard_threshold=0.5, hash_fn="xxhash64",
        num_perm=16, bands=8,
    )
    got = {r.doc_id: r for r in out.collect()}
    release_caches()
    # one survivor per planted group, min id, with the merge count
    assert set(got) == {10, 20, 30}
    assert got[10].n_merged == 3 and got[10].dup_cluster_id == 10
    assert got[20].n_merged == 2 and got[20].dup_cluster_id == 20
    assert got[30].n_merged == 1 and got[30].dup_cluster_id == 30
    # pass-through columns intact
    assert got[10].lang == "en" and got[10].text == base
    assert out.columns == ["doc_id", "text", "lang", "dup_cluster_id", "n_merged"]


def test_repeated_substring_null_text_raises(spark):
    """ADVICE r4: a NULL text must fail loudly, not flow through as NULL
    n_tokens/cleaned_text into a training pipeline."""
    import pytest as _pytest

    from dig_entity_resolution_spark.operators.dedup import (
        repeated_substring_dedup,
    )

    d = spark.createDataFrame(
        [(1, "some text here ok fine words again more tokens"), (2, None)],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception, match="NULL text"):
        repeated_substring_dedup(d, "doc_id", "text", min_len=4).collect()


def test_decontaminate_provenance_and_duplicate_ids(spark):
    """r5: provenance reports the TOP contaminating holdout doc (ties →
    smallest id) for contaminated docs only; and the documented
    duplicate-id escape hatch collapses fanned-out rows."""
    from dig_entity_resolution_spark.operators.decontaminate import (
        decontaminate,
        decontaminate_provenance,
    )

    leak1 = "alpha beta gamma delta epsilon zeta eta theta"
    leak2 = "one two three four five six seven eight nine ten"
    holdout = spark.createDataFrame(
        [(100, "question " + leak1), (101, "exercise " + leak2 + " end")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares 1 window with 100, 3 with 101 → top = 101
            (1, leak1 + " filler " + leak2),
            (2, "clean training document with no overlap at all whatsoever ok"),
            (3, "contains " + leak1 + " only"),  # top = 100
        ],
        "doc_id long, text string",
    )
    prov = {
        r.doc_id: r
        for r in decontaminate_provenance(corpus, holdout, n=8).collect()
    }
    assert set(prov) == {1, 3}  # contaminated docs only
    assert prov[1].top_holdout_id == 101 and prov[1].n_shared_top == 3
    assert prov[1].n_holdout_docs == 2
    assert prov[3].top_holdout_id == 100 and prov[3].n_holdout_docs == 1

    dup_corpus = corpus.unionByName(corpus.filter(F.col("doc_id") == 1))
    fanned = decontaminate(dup_corpus, holdout, n=8)
    assert fanned.filter(F.col("doc_id") == 1).count() == 2  # documented fan-out
    deduped = decontaminate(dup_corpus, holdout, n=8, assume_unique_ids=False)
    assert deduped.filter(F.col("doc_id") == 1).count() == 1
    assert deduped.count() == 3


def test_decontaminate_provenance_min_hits(spark):
    """r5 review: provenance must honor the same min_hits bar as the
    decontaminate filter — a doc below the bar is train-safe and must not
    appear in the audit."""
    from dig_entity_resolution_spark.operators.decontaminate import (
        decontaminate_provenance,
    )

    leak1 = "alpha beta gamma delta epsilon zeta eta theta"
    leak2 = "one two three four five six seven eight nine ten"
    holdout = spark.createDataFrame(
        [(100, "question " + leak1), (101, "exercise " + leak2 + " end")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, leak1 + " filler " + leak2),   # 4 distinct shared windows
            (3, "contains " + leak1 + " only"),  # exactly 1
        ],
        "doc_id long, text string",
    )
    strict = {
        r.doc_id: r
        for r in decontaminate_provenance(
            corpus, holdout, n=8, min_hits=2
        ).collect()
    }
    assert set(strict) == {1}  # doc 3 is below the bar → train-safe, no audit row
    assert strict[1].top_holdout_id == 101


@pytest.mark.parametrize("build", ["near_dup_config", "curation_config", "lsh_pairs"])
def test_shingle_k_above_8_rejected(spark, build):
    """k > 8 would overflow the packed-shingle verify: configs refuse it
    at construction and the operator before it plans anything."""
    from dig_entity_resolution_spark.operators.dedup_incremental import NearDupConfig
    from dig_entity_resolution_spark.plans.curation import CurationConfig

    docs = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    make = {
        "near_dup_config": lambda: NearDupConfig(shingle_k=9),
        "curation_config": lambda: CurationConfig(shingle_k=9),
        "lsh_pairs": lambda: minhash_lsh_dup_pairs(docs, "doc_id", "text", shingle_k=9),
    }[build]
    with pytest.raises(ValueError, match="shingle_k"):
        make()


def test_near_dup_chain_is_one_cache_one_count(docs, monkeypatch):
    """The shared near-dup core persists one signed table (plus the
    normalized-text barrier), shingles each doc once for it, and fills it
    with exactly one eager count(), in the batch operator and in
    near_dup_init alike."""
    from dig_entity_resolution_spark.operators import dedup
    from dig_entity_resolution_spark.operators.dedup_incremental import near_dup_init

    cls = type(docs)
    real_count = cls.count
    calls = []

    def counting(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(cls, "count", counting)
    dedup.release_caches()
    minhash_lsh_dup_pairs(docs, "doc_id", "text")
    assert len(calls) == 1
    assert len(dedup._LIVE_CACHES) == 2
    assert dedup._LIVE_CACHES[-1].columns == ["doc_id", "sig", "_ish", "_sz"]
    dedup.release_caches()
    signed = dedup._signed(docs, "doc_id", "text", 5, 32, "xxhash64")
    plan = signed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_distinct") == 1  # before the fill: one plan
    calls.clear()
    near_dup_init(docs)
    assert len(calls) == 1
    monkeypatch.undo()
    dedup.release_caches()


def _reference_kept(docs):
    """An independent, uncached formulation of near_dup_corpus at its
    defaults: composed signature, band self-join, string-shingle Jaccard
    verify, min-label propagation, min-id survivors."""
    from dig_entity_resolution_spark.functions.minhash import (
        lsh_band_keys,
        minhash_signature,
    )
    from dig_entity_resolution_spark.functions.normalize import (
        char_shingles,
        normalize_text,
    )
    from dig_entity_resolution_spark.operators.cluster import cc_propagate

    sh = (
        docs.select("doc_id", normalize_text("text").alias("n"))
        .localCheckpoint()
        .select("doc_id", char_shingles("n", 5).alias("sh"))
        .localCheckpoint()
    )
    rows = sh.select(
        "doc_id", F.explode(lsh_band_keys(minhash_signature("sh"), 8, 4)).alias("b")
    ).select("doc_id", F.concat_ws(":", "b.band_id", "b.band_hash").alias("bucket"))
    hot = rows.groupBy("bucket").count().filter("count > 200")
    rows = rows.join(hot, "bucket", "left_anti")
    cand = (
        rows.toDF("bucket", "id1")
        .join(rows.toDF("bucket", "id2"), "bucket")
        .filter("id1 < id2")
        .select("id1", "id2")
        .distinct()
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    edges = (
        cand.join(sh.toDF("id1", "s1"), "id1")
        .join(sh.toDF("id2", "s2"), "id2")
        .filter(inter / F.size(F.array_union("s1", "s2")) >= 0.5)
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    labels = {r.record_id: r.cluster_id for r in cc_propagate(edges).collect()}
    sizes = {}
    for c in labels.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {
        (d, d, sizes.get(d, 1))
        for d in (r.doc_id for r in docs.select("doc_id").collect())
        if labels.get(d, d) == d
    }


def test_near_dup_corpus_documents_equal_reference(spark):
    from dig_entity_resolution_spark.operators.dedup import near_dup_corpus, release_caches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(4)
    got = [
        (r.doc_id, r.dup_cluster_id, r.n_merged)
        for r in near_dup_corpus(docs, "doc_id", "text", rebalance=False).collect()
    ]
    release_caches()
    want = _reference_kept(docs)
    assert len(want) < 500  # the fixture holds near-dups
    assert len(got) == len(set(got)) and set(got) == want
