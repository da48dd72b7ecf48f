from __future__ import annotations

from pyspark.sql import functions as F

from dig_entity_resolution_spark.functions.normalize import (
    char_shingles,
    normalize_text,
    prefix_key,
    tokenize,
    word_ngrams,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_normalize(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! 42 ",), ("",), ("éàç",)], ["text"]
    )
    out = [r.n for r in df.select(normalize_text("text").alias("n")).collect()]
    assert out == ["hello world 42", "", ""]


def test_tokenize_empty(spark):
    df = spark.createDataFrame([("a b c",), ("",)], ["t"])
    out = [r.toks for r in df.select(tokenize("t").alias("toks")).collect()]
    assert out == [["a", "b", "c"], []]


def test_char_shingles_short_string(spark):
    df = spark.createDataFrame([("abc",), ("abcdefg",)], ["t"])
    out = [r.s for r in df.select(char_shingles("t", 5).alias("s")).collect()]
    assert out[0] == ["abc"]
    assert out[1] == ["abcde", "bcdef", "cdefg"]


def test_word_ngrams(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], ["toks"])
    out = df.select(word_ngrams("toks", 2).alias("g")).collect()[0].g
    assert out == ["a b", "b c"]


def test_prefix_key(spark):
    df = spark.createDataFrame([("hello world",)], ["t"])
    assert df.select(prefix_key("t", 6).alias("p")).collect()[0].p == "hello "


def test_shingle_pack_exact_values(spark):
    # value(s) = sum ascii(s[i]) * 128^i over the normalized alphabet
    import pytest

    from dig_entity_resolution_spark.functions.normalize import shingle_pack

    df = spark.createDataFrame([(["ab", "a", " ", "", "z9 0a"],)], ["sh"])
    out = df.select(shingle_pack("sh", 5).alias("v")).collect()[0].v
    a, b, z, nine, sp, zero = 97, 98, 122, 57, 32, 48
    assert out == [
        a + b * 128,
        a,
        sp,
        0,
        z + nine * 128 + sp * 128**2 + zero * 128**3 + a * 128**4,
    ]
    with pytest.raises(ValueError):
        shingle_pack("sh", 9)


def test_shingle_pack_injective_on_corpus_shingles(spark):
    # the exactness contract of the encoded verifies: pack is a bijection
    # on every distinct shingle the normalized alphabet can produce —
    # checked here on all shingles of a real-ish normalized corpus,
    # including the shorter-than-k whole-string shingles
    from dig_entity_resolution_spark.functions.normalize import shingle_pack

    rows = [
        ("the quick brown fox jumps over the lazy dog 0123456789",),
        ("a",),
        ("ab",),
        ("pack packs packed 42 z z9 99  x",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    sh = df.select(
        char_shingles(normalize_text("t"), 5).alias("sh")
    ).select(F.explode("sh").alias("s")).distinct()
    enc = sh.select("s", F.explode(shingle_pack(F.array("s"), 5)).alias("p"))
    n_s = enc.select("s").distinct().count()
    n_p = enc.select("p").distinct().count()
    assert n_s == n_p  # injective on this shingle set


def test_normalize_text_case_fold_equals_lower_for_every_code_point(spark):
    # normalize_text folds case without lower() (whose ICU start-up costs
    # ~1.4 s per JVM); the fold must give what the lower()-based formula
    # gives for every input. Every non-surrogate code point, alone and
    # between ASCII letters, plus NULL. A leading 'A' keeps decode() from
    # reading U+FEFF as a byte-order mark; substring drops it again.
    from dig_entity_resolution_spark.functions.normalize import (
        NORM_STRIP_RE,
        WS_COLLAPSE_RE,
    )

    assert "lower(" not in str(normalize_text("t"))

    def reference(c):
        c = F.lower(c)
        c = F.regexp_replace(c, NORM_STRIP_RE, " ")
        c = F.regexp_replace(c, WS_COLLAPSE_RE, " ")
        return F.trim(c)

    cps = spark.range(0, 0x110000).filter(~F.col("id").between(0xD800, 0xDFFF))
    chars = cps.select(
        "id",
        F.expr(
            "substring(decode(unhex(concat('00000041', lpad(hex(id), 8, '0'))),"
            " 'utf-32'), 2)"
        ).alias("c"),
    )
    cover = chars.select(
        F.count("*").alias("n"),
        F.sum((F.length("c") == 1).cast("long")).alias("single"),
        F.sum((F.ascii("c") == F.col("id")).cast("long")).alias("exact"),
    ).collect()[0]
    assert cover.n == cover.single == cover.exact == 0x110000 - 0x800

    texts = chars.select(
        F.explode(
            F.array("c", F.concat(F.lit("Ab"), "c", F.lit("Cd")))
        ).alias("t")
    ).unionByName(spark.range(1).select(F.lit(None).cast("string").alias("t")))
    diff = texts.filter(~normalize_text("t").eqNullSafe(reference(F.col("t"))))
    assert diff.count() == 0
