"""Stable hashing helpers (SURVEY.md §2.B B9).

Two families:
  * xxhash64 — the fast path for internal ids / salts / MinHash permutations.
    Deterministic under task retries (unlike monotonically_increasing_id),
    which the resumable-checkpoint contract requires.
  * md5_long — 60-bit integer from the md5 hex prefix. Slower, but DuckDB
    computes the *identical* value (('0x'||substring(md5(s),1,15))::BIGINT),
    which makes MinHash/LSH/SimHash oracle-checkable end-to-end. Verified
    equal across engines for seed strings in tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def record_id_from_url(url_col: Column | str) -> Column:
    """Dense deterministic 64-bit record id: xxhash64(url).

    Collision math (ADVICE r1): 64-bit birthday collisions at 10^12 keys
    expect ~27k silent url merges. At that scale either switch to
    record_id128_from_url (expectation < 3e-14) or run id_collisions() at
    ingest; 64-bit stays the default because every downstream join/shuffle
    key is half the width."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.xxhash64(c)


def record_id128_from_url(url_col: Column | str) -> Column:
    """128-bit record id as struct<hi:long,lo:long> — two independently
    seeded xxhash64 halves; collision-safe at 10^12-doc scale."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.struct(
        F.xxhash64(c).alias("hi"), F.xxhash64(F.lit(1), c).alias("lo")
    )


def id_collisions(records, id_col: str = "record_id", key_col: str = "url"):
    """Ids that map to >1 distinct source key (a 64-bit birthday collision
    merged distinct urls). One groupBy; run at ingest when using 64-bit ids
    at large scale — any row returned means switch to the 128-bit id."""
    return (
        records.groupBy(id_col)
        .agg(F.countDistinct(key_col).alias("n_keys"))
        .filter(F.col("n_keys") > 1)
    )


def md5_sample_order(ids, seed: int):
    """Deterministic, engine- and partitioning-independent sample order for
    DRIVER-SIDE numpy code: argsort of md5(f"{seed}:{id}") prefixes. The
    shared rule behind ivf.fit_centroids_local's init and pq's codebook
    sampling — one implementation so the two model fits can never silently
    diverge (r3 review). Returns the permutation (numpy argsort indices)."""
    import hashlib

    import numpy as np

    h = np.array(
        [int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15], 16) for i in ids]
    )
    return np.argsort(h)


def md5_long(col: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative BIGINT (60 bits).

    DuckDB equivalent: ('0x' || substring(md5(x), 1, 15))::BIGINT
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def salt_col(id_col: Column | str, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from a record id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).cast("int")
