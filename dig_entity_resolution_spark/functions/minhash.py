"""MinHash signatures + LSH banding (SURVEY.md §2.B B10/B11).

Pure native Column expressions — the signature for permutation i is
min over shingles s of hash(i || ':' || s). Two hash families:

  * hash_fn="xxhash64" (default) — fastest JVM path for production blocking.
  * hash_fn="md5" — bit-identical to DuckDB's
    ('0x'||substring(md5(...),1,15))::BIGINT, making the whole
    MinHash → banding → bucket-join path oracle-checkable by the driver.

Banding (Leskovec/Rajaraman/Ullman MMDS ch.3): split the k-long signature
into b bands of r rows; the block key is hash of the band slice. Two docs
collide in a band iff the r minhashes in that band are all equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long


def _perm_hash(shingle: Column, perm: Column, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        # multi-arg xxhash64 mixes the seed without building a new string
        # per (perm, shingle) — ~30% cheaper than concat+hash
        return F.xxhash64(perm, shingle)
    if hash_fn == "md5":
        return md5_long(F.concat(perm.cast("string"), F.lit(":"), shingle))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signature(
    shingles_col: Column | str, num_perm: int = 32, hash_fn: str = "xxhash64"
) -> Column:
    """array<long> of num_perm min-hashes over a shingle array. (B10)

    One transform over the permutation ids, not num_perm unrolled
    copies: the Column tree, its analysis and its codegen stay the same
    size whatever num_perm is (notes #63). Empty shingle arrays produce
    an array of NULLs (array_min of empty); callers should filter empty
    docs first.
    """
    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    if num_perm < 1:
        # sequence(0, -1) would count DOWN to a two-element array
        raise ValueError(f"num_perm must be >= 1, got {num_perm}")
    # NOTE: every lambda here takes ONE parameter — a two-parameter lambda
    # is treated by F.transform as (element, index) (notes #6)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda p: F.array_min(F.transform(c, lambda s: _perm_hash(s, p, hash_fn))),
    )


def lsh_band_keys(
    sig_col: Column | str, bands: int, rows: int, hash_fn: str = "xxhash64"
) -> Column:
    """array<struct<band_id:int, band_hash:long>> from a signature. (B11)

    band_hash = hash over the concatenated r values of the band, prefixed
    with the band id so different bands never collide. Unrolled on
    purpose: referencing the signature once per band keeps CollapseProject
    from inlining a signature projection below into every band (notes
    #63).
    """
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    out = []
    for b in range(bands):
        band_slice = F.slice(c, b * rows + 1, rows)
        joined = F.concat_ws("|", F.transform(band_slice, lambda v: v.cast("string")))
        key_src = F.concat(F.lit(f"band{b}|"), joined)
        if hash_fn == "xxhash64":
            h = F.xxhash64(key_src)
        else:
            h = md5_long(key_src)
        out.append(F.struct(F.lit(b).alias("band_id"), h.alias("band_hash")))
    return F.array(*out)


SIMHASH_BITS = 60  # md5_long is 60-bit; keeps every shift literal + positive


def simhash_table(
    df: "DataFrame",
    id_col: str,
    tokens_col: str,
    hash_fn: str = "xxhash64",
    bits: int = SIMHASH_BITS,
) -> "DataFrame":
    """SimHash (Charikar 2002) fingerprints: (id_col, fp:long). (dedup op)

    Relational formulation (scales as one explode + one groupBy with `bits`
    small aggregates, all codegen'd): bit j of fp is 1 iff
    Σ_tokens (2·bit_j(h)−1) > 0, h = `bits`-bit token hash. Rows whose token
    array is empty produce no fingerprint (mirrors the SQL-unnest oracle).

    F.shiftright requires a LITERAL shift count, hence the Python loop over
    bit positions rather than a transform() lambda.
    """
    tok_hash = (
        F.xxhash64(F.col("_tok")).bitwiseAND(F.lit((1 << bits) - 1))
        if hash_fn == "xxhash64"
        else md5_long(F.col("_tok"))
    )
    hashed = df.select(
        F.col(id_col).alias("_id"), F.explode(F.col(tokens_col)).alias("_tok")
    ).select("_id", tok_hash.alias("h"))
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = hashed.groupBy("_id").agg(*aggs)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select(F.col("_id").alias(id_col), fp.alias("fp"))


def hamming64(a: Column | str, b: Column | str, bits: int = 64) -> Column:
    """Hamming distance between two fingerprints: popcount(a XOR b).

    One codegen'd `bit_count` call (Spark ≥3.3) instead of a 64-node
    shiftright expression tree. `bits` kept for signature compatibility;
    bit_count over the XOR is exact for any fingerprint width ≤64."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb)).cast("int")
