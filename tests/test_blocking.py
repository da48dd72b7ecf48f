from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dig_entity_resolution_spark.functions.hashing import md5_long
from dig_entity_resolution_spark.functions.minhash import (
    lsh_band_keys,
    minhash_signature,
)
from dig_entity_resolution_spark.functions.normalize import (
    char_shingles,
    normalize_text,
    tokenize,
)
from dig_entity_resolution_spark.operators.blocking import (
    all_blocks,
    candidate_pairs,
    cap_block_size,
    minhash_lsh_blocks,
    salt_blocks,
    suppress_stop_keys,
    token_blocks,
)


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta delta"),
        (3, "alpha epsilon zeta"),
        (4, "omega psi chi"),
        (5, "omega psi chi"),
        (6, "unique singleton doc"),
    ]
    df = spark.createDataFrame(rows, ["record_id", "text"])
    return (
        df.withColumn("norm_text", normalize_text("text"))
        .withColumn("tokens", tokenize("norm_text"))
        .withColumn("url", F.concat(F.lit("u"), F.col("record_id")))
        .withColumn("lang", F.lit("en"))
    )


def test_token_blocks_min_len(records):
    blocks = token_blocks(records, min_token_len=5)
    keys = {r.block_key for r in blocks.collect()}
    assert "alpha" in keys and "beta" not in keys  # len 4 dropped


def test_stop_key_suppression(records):
    blocks = token_blocks(records)
    kept = suppress_stop_keys(blocks, max_block_size=2)
    sizes = kept.groupBy("block_key").count().collect()
    assert all(r["count"] <= 2 for r in sizes)
    assert "alpha" not in {r.block_key for r in kept.collect()}  # size 3 > 2


def test_cap_block_size_deterministic(records):
    blocks = token_blocks(records)
    capped = cap_block_size(blocks, top_n=2)
    alpha = sorted(
        r.record_id for r in capped.filter(F.col("block_key") == "alpha").collect()
    )
    assert alpha == [1, 2]  # lowest record_ids kept


def test_salting_preserves_pairs(records):
    blocks = token_blocks(records)
    plain = {(r.id1, r.id2) for r in candidate_pairs(blocks).collect()}
    salted = salt_blocks(blocks.withColumn("strategy", F.lit("token")), 8)
    with_salt = {(r.id1, r.id2) for r in candidate_pairs(salted).collect()}
    assert plain == with_salt  # the pair join keys on block_key only


def test_candidate_pairs_no_self_or_dup(records):
    pairs = candidate_pairs(token_blocks(records)).collect()
    seen = set()
    for r in pairs:
        assert r.id1 < r.id2
        assert (r.id1, r.id2) not in seen
        seen.add((r.id1, r.id2))
    assert (1, 2) in seen and (4, 5) in seen


def test_pair_explosion_bounded(spark):
    """A pathological block (same token everywhere) cannot exceed cap² pairs
    once C2/C3 run first — SURVEY.md §7 risk 4."""
    rows = [(i, "hot common words") for i in range(200)]
    df = spark.createDataFrame(rows, ["record_id", "text"])
    recs = (
        df.withColumn("norm_text", normalize_text("text"))
        .withColumn("tokens", tokenize("norm_text"))
        .withColumn("url", F.concat(F.lit("u"), F.col("record_id")))
        .withColumn("lang", F.lit("en"))
    )
    blocks = cap_block_size(
        suppress_stop_keys(token_blocks(recs), max_block_size=500), top_n=10
    )
    n = candidate_pairs(blocks).count()
    assert n <= 10 * 9 / 2 * 3  # ≤ C(10,2) per surviving block, 3 blocks


def test_all_blocks_strategies(records):
    blocks = all_blocks(records, strategies=("token", "prefix", "minhash_lsh"))
    strats = {r.strategy for r in blocks.select("strategy").distinct().collect()}
    assert strats == {"token", "prefix", "minhash_lsh"}
    # exact duplicates (4,5) must share every minhash band
    mh = blocks.filter(F.col("strategy") == "minhash_lsh")
    b4 = {r.block_key for r in mh.filter(F.col("record_id") == 4).collect()}
    b5 = {r.block_key for r in mh.filter(F.col("record_id") == 5).collect()}
    assert b4 == b5 and len(b4) > 0


def test_minhash_lsh_blocks_shingles_once_same_keys(records):
    """Shingles are built once, below the exchange, not inlined into each
    of the 32 permutation lambdas (notes #16) — and the keys are the ones
    the composed signature(char_shingles(...)) formulation gives."""
    blocks = minhash_lsh_blocks(records)
    plan = blocks._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_distinct") == 1
    sig = records.filter(F.length("norm_text") > 0).select(
        "record_id",
        minhash_signature(char_shingles("norm_text", 5), 32, "xxhash64").alias("sig"),
    )
    composed = sig.select(
        "record_id", F.explode(lsh_band_keys("sig", 8, 4, "xxhash64")).alias("band")
    ).select(
        "record_id",
        F.concat(
            F.col("band.band_id").cast("string"),
            F.lit(":"),
            F.col("band.band_hash").cast("string"),
        ).alias("block_key"),
        F.lit("minhash_lsh").alias("strategy"),
    )
    assert composed.count() == 6 * 8
    assert blocks.exceptAll(composed).count() == 0
    assert composed.exceptAll(blocks).count() == 0


def _unrolled_signature(c, num_perm, hash_fn):
    """Reference kernel: one array_min(transform(...)) per permutation."""

    def perm(i):
        if hash_fn == "xxhash64":
            return lambda s: F.xxhash64(F.lit(i), s)
        return lambda s: md5_long(F.concat(F.lit(f"{i}:"), s))

    return F.array(*[F.array_min(F.transform(F.col(c), perm(i))) for i in range(num_perm)])


def _lambda_functions(df) -> int:
    """LambdaFunction nodes in the analyzed plan's expressions."""
    plan = df._jdf.queryExecution().analyzed()
    exprs = plan.expressions()
    todo = [exprs.apply(i) for i in range(exprs.size())]
    n = 0
    while todo:
        e = todo.pop()
        n += e.getClass().getSimpleName() == "LambdaFunction"
        ch = e.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return n


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
@pytest.mark.parametrize("num_perm", [8, 32])
def test_signature_equals_unrolled_reference(records, hash_fn, num_perm):
    """One transform over the permutation ids gives the rows and the
    schema, nullability included, of the unrolled kernel (band keys
    included) — an empty shingle array too, whose signature is all NULLs
    — with two lambdas however many permutations there are."""
    sh = records.select(
        "record_id", char_shingles("norm_text", 5).alias("sh")
    ).unionByName(
        records.sparkSession.createDataFrame([(99, [])], "record_id long, sh array<string>")
    ).localCheckpoint()
    bands, rows = num_perm // 4, 4
    new = sh.select(
        "record_id", minhash_signature("sh", num_perm, hash_fn).alias("sig")
    ).select("record_id", "sig", lsh_band_keys("sig", bands, rows, hash_fn).alias("b"))
    ref = sh.select(
        "record_id", _unrolled_signature("sh", num_perm, hash_fn).alias("sig")
    ).select("record_id", "sig", lsh_band_keys("sig", bands, rows, hash_fn).alias("b"))
    assert new.schema == ref.schema
    assert new.count() == 7
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    empty = new.filter("record_id = 99").first()
    assert empty.sig == [None] * num_perm
    assert _lambda_functions(sh.select(minhash_signature("sh", num_perm, hash_fn))) == 2


def test_sorted_neighborhood_window_and_multipass(spark):
    """Pass 1 (forward key) pairs sort-adjacent records; pass 2 (a second
    key) recovers pairs the first sort order separates — the multi-pass
    property that makes SN robust (Hernández & Stolfo 1995)."""
    from dig_entity_resolution_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "alpha one", "eno ahpla"),
        (2, "alpha two", "owt ahpla"),
        (3, "beta one", "eno ateb"),
        (4, "gamma one", "eno ammag"),
    ]
    df = spark.createDataFrame(rows, ["record_id", "k", "rk"])
    # single pass, window 2, 1-char buckets: only same-first-letter
    # neighbors pair → (1,2) alone
    single = {
        (r.id1, r.id2)
        for r in sorted_neighborhood_pairs(
            df, "record_id", ("k",), window=2, bucket_chars=1
        ).collect()
    }
    assert single == {(1, 2)}
    # adding the reversed-key pass recovers the suffix-similar records
    # ("...one": ids 1,3,4 share the reversed prefix 'e') the forward
    # order scattered across buckets
    multi = {
        (r.id1, r.id2)
        for r in sorted_neighborhood_pairs(
            df, "record_id", ("k", "rk"), window=2, bucket_chars=1
        ).collect()
    }
    assert (1, 2) in multi and len(multi & {(1, 3), (3, 4), (1, 4)}) >= 2


def test_sorted_neighborhood_pair_budget(spark):
    """SN's defining scale property: a bucket of n rows emits at most
    n·(window-1) pairs per pass — no quadratic hot block, even when every
    record shares one bucket (where equi-join blocking needs caps)."""
    from dig_entity_resolution_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    n, w = 200, 5
    df = spark.range(n).select(
        F.col("id").alias("record_id"),
        F.concat(F.lit("zz"), F.lpad(F.col("id").cast("string"), 5, "0")).alias("k"),
    )
    pairs = sorted_neighborhood_pairs(df, "record_id", ("k",), window=w)
    assert pairs.count() <= n * (w - 1)
    # and each record pairs with its w-1 sort successors exactly
    got = {(r.id1, r.id2) for r in pairs.collect()}
    assert (0, 1) in got and (0, 4) in got and (0, 5) not in got


def test_sorted_neighborhood_empty_key_cols_raise(spark):
    """r6 advice: an empty key_cols tuple previously fell through to
    None.dropDuplicates (bare AttributeError) — both SN entry points and
    the pipeline config must fail with the real cause."""
    from dig_entity_resolution_spark.operators.blocking import (
        sorted_neighborhood_delta,
        sorted_neighborhood_pairs,
    )
    from dig_entity_resolution_spark.plans.pipeline import ERConfig, ERPipeline

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd")], ["record_id", "norm_text"]
    )
    with pytest.raises(ValueError, match="key_cols must be non-empty"):
        sorted_neighborhood_pairs(df, key_cols=())
    with pytest.raises(ValueError, match="key_cols must be non-empty"):
        sorted_neighborhood_delta(df, df.select("record_id"), key_cols=())
    with pytest.raises(ValueError, match="non-empty sn_keys"):
        ERPipeline(
            spark,
            "/tmp/sn_empty_keys_wh",
            config=ERConfig(
                strategies=("sorted_neighborhood",), sn_keys=()
            ),
        )
