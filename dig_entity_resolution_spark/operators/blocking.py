"""Blocking: key generation, skew armor, candidate-pair join
(SURVEY.md §2.C — the skew-critical core).

Scale design (10^12 docs): block keys follow a Zipf head — a handful of
keys cover a large share of records and would emit O(block^2) pairs. Three
explicit defenses, in order, all BEFORE the pair self-join:

  C2 stop-key suppression — drop keys whose block exceeds `max_block_size`
     (block purging, Papadakis et al. VLDB 2016). The key-frequency table is
     tiny (distinct keys with count > cap) and broadcast-joined back.
  C3 per-block top-N cap — deterministic row_number cap inside surviving
     blocks, so a block can never emit more than N^2/2 pairs.
  C4 salted repartition — residual hot keys are split into
     xxhash64(record_id) % n_salts sub-blocks purely for shuffle-partition
     balance of downstream per-block work. NOTE: salting partitions work; the
     pair join itself joins on block_key only (salted sub-block pair joins
     would lose cross-salt pairs), so C2/C3 are the pair-explosion bound and
     C4 is the shuffle-balance mechanism. AQE skew-join stays on as
     belt-and-braces.

Everything is native DataFrame ops — the pair join is a hash/sort-merge
equi-join picked by Catalyst, never a cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import salt_col
from ..functions.minhash import lsh_band_keys, minhash_signature
from ..functions.normalize import char_shingles, prefix_key


def token_blocks(records: DataFrame, min_token_len: int = 3) -> DataFrame:
    """C1: one row per (token, record). Tokens shorter than min_token_len are
    dropped (single chars block nothing useful and are maximally skewed)."""
    return (
        records.select(
            "record_id",
            F.explode(F.array_distinct("tokens")).alias("block_key"),
        )
        .filter(F.length("block_key") >= min_token_len)
        .withColumn("strategy", F.lit("token"))
    )


def prefix_blocks(records: DataFrame, n: int = 8) -> DataFrame:
    """C1: prefix blocking on the normalized text."""
    return records.select(
        "record_id",
        prefix_key("norm_text", n).alias("block_key"),
        F.lit("prefix").alias("strategy"),
    ).filter(F.length("block_key") > 0)


def minhash_lsh_blocks(
    records: DataFrame,
    shingle_k: int = 5,
    num_perm: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """C1: MinHash/LSH blocking — band hashes as block keys.

    The round-robin exchange is the shingle barrier: CollapseProject would
    inline a composed minhash_signature(char_shingles(...)) into each of
    the num_perm transform lambdas (notes #16), but it never merges
    projections across an exchange, so the signature reads the shingles
    materialized below it. The exchange also spreads the hashing over the
    session's cores — a records checkpoint this size scans as one
    partition (same rule as score_pairs and _shingle_rows). The band
    explode needs no barrier of its own (Project-under-Generate, #18).
    """
    rows = num_perm // bands
    sig = (
        records.filter(F.length("norm_text") > 0)
        .select("record_id", char_shingles("norm_text", shingle_k).alias("sh"))
        .repartition(records.sparkSession.sparkContext.defaultParallelism)
        .select("record_id", minhash_signature("sh", num_perm, hash_fn).alias("sig"))
    )
    return sig.select(
        "record_id",
        F.explode(lsh_band_keys("sig", bands, rows, hash_fn)).alias("band"),
    ).select(
        "record_id",
        F.concat(
            F.col("band.band_id").cast("string"),
            F.lit(":"),
            F.col("band.band_hash").cast("string"),
        ).alias("block_key"),
        F.lit("minhash_lsh").alias("strategy"),
    )


def phonetic_token_blocks(
    records: DataFrame,
    encoders: tuple[str, ...] = ("soundex", "nysiis"),
    min_token_len: int = 3,
) -> DataFrame:
    """C1: phonetic blocking — each alphabetic token's Soundex / NYSIIS
    code as a block key (functions/phonetic.py; Christen 2012 ch.4).
    Catches spelling-variant matches ("smith"/"smyth") that exact token
    blocking misses. Keys are namespaced per encoder so a Soundex code
    never merges with an equal-looking NYSIIS code. Phonetic key spaces
    are SMALL (Soundex has ≤26·7³ values), so head keys are enormous at
    web scale — this strategy leans on the same stop-key suppression +
    per-block caps as token blocking; never run it unarmored."""
    from ..functions.phonetic import nysiis_key, soundex_key

    enc_fns = {"soundex": soundex_key, "nysiis": nysiis_key}
    unknown = set(encoders) - set(enc_fns)
    if unknown:
        raise ValueError(
            f"unknown phonetic encoders {sorted(unknown)}; "
            f"known: {sorted(enc_fns)}"
        )
    toks = (
        records.select(
            "record_id",
            F.explode(F.array_distinct("tokens")).alias("tok"),
        )
        .filter(
            # letters-only, not merely digit-free (ADVICE r7): a token with
            # no letters at all would encode to '' and the namespaced key
            # 'soundex:' is then non-empty, defeating the callers-drop-
            # empty-keys contract with one mega-block. Unreachable with
            # this repo's [a-z0-9]+ tokenizer, but the function is public.
            (F.length("tok") >= min_token_len) & F.col("tok").rlike("^[a-z]+$")
        )
    )
    parts = [
        toks.select(
            "record_id",
            F.concat(F.lit(f"{enc}:"), enc_fns[enc]("tok")).alias("block_key"),
            F.lit("phonetic").alias("strategy"),
        )
        for enc in encoders
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # distinct per (record, key): two tokens of one record sharing a code
    # must not double-count the record in the block
    return out.distinct()


def all_blocks(
    records: DataFrame,
    strategies: tuple[str, ...] = ("token", "prefix", "minhash_lsh"),
    **kw,
) -> DataFrame:
    """C1: union of the enabled strategies (block_key namespaced by strategy
    so identical strings from different strategies never merge blocks)."""
    parts = []
    if "token" in strategies:
        parts.append(token_blocks(records, kw.get("min_token_len", 3)))
    if "prefix" in strategies:
        parts.append(prefix_blocks(records, kw.get("prefix_n", 8)))
    if "minhash_lsh" in strategies:
        parts.append(
            minhash_lsh_blocks(
                records,
                kw.get("shingle_k", 5),
                kw.get("num_perm", 32),
                kw.get("bands", 8),
                kw.get("hash_fn", "xxhash64"),
            )
        )
    if "phonetic" in strategies:
        parts.append(
            phonetic_token_blocks(
                records,
                kw.get("phonetic_encoders", ("soundex", "nysiis")),
                kw.get("min_token_len", 3),
            )
        )
    if not parts:
        # pair-producing strategies only (e.g. sorted_neighborhood, which
        # contributes at the candidate-pair stage, not the inverted index):
        # an empty, correctly-typed block table keeps every downstream
        # stage (armor, checkpoint schema) working unchanged
        return records.select(
            F.lit("").alias("block_key"),
            F.lit("").alias("strategy"),
            F.col("record_id"),
        ).filter(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.concat_ws("|", "strategy", "block_key").alias("block_key"),
        "strategy",
        "record_id",
    )


def suppress_stop_keys(blocks: DataFrame, max_block_size: int) -> DataFrame:
    """C2: drop blocks larger than max_block_size.

    Computes the (small) set of oversized keys and broadcast anti-joins it
    back — two scans of `blocks` but no wide shuffle of the full table.
    """
    hot = (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_block_size)
        .select("block_key")
    )
    return blocks.join(F.broadcast(hot), "block_key", "left_anti")


def cap_block_size(blocks: DataFrame, top_n: int) -> DataFrame:
    """C3: deterministic top-N within each block (ordered by record_id)."""
    w = Window.partitionBy("block_key").orderBy("record_id")
    return (
        blocks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .drop("rn")
    )


def salt_blocks(blocks: DataFrame, n_salts: int = 16) -> DataFrame:
    """C4: attach a deterministic salt and repartition on (block_key, salt)
    so downstream per-block work spreads hot keys over n_salts partitions."""
    salted = blocks.withColumn("salt", salt_col("record_id", n_salts))
    return salted.repartition("block_key", "salt")


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """C5: all unordered in-block pairs, deduped across blocks/strategies.

    Equi-join on block_key + id1 < id2 filter + dropDuplicates. The join is
    safe only AFTER C2/C3 bounded every block.
    """
    left = blocks.select(F.col("block_key"), F.col("record_id").alias("id1"))
    right = blocks.select(F.col("block_key"), F.col("record_id").alias("id2"))
    return (
        left.join(right, "block_key")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    id_col: str = "record_id",
    key_cols: tuple[str, ...] = ("norm_text",),
    window: int = 4,
    bucket_chars: int = 4,
) -> DataFrame:
    """C1-alt: multi-pass sorted-neighborhood blocking (Hernández & Stolfo,
    SIGMOD 1995; the multi-pass variant). Per pass: records sort by a key;
    every record pairs with its `window-1` successors in sort order. Passes
    over DIFFERENT keys union their pairs — the published answer to pairs a
    single sort order misses.

    Distributed layout: a global sort is a scale anti-pattern (one
    partition), so each pass windows WITHIN key-prefix buckets
    (`bucket_chars` leading characters) — the standard partitioned-SN
    compromise (cf. Kolb et al., "Multi-pass sorted neighborhood blocking
    with MapReduce", ICDE-W 2012). Pairs straddling a bucket boundary in
    one pass are recovered probabilistically by the other passes' sort
    orders, exactly like classic multi-pass SN recovers window misses.
    Each window is a native lead() — no self-join, no pair explosion: a
    bucket of n rows emits at most n·(window-1) pairs regardless of skew
    (unlike equi-join blocking, SN needs no per-block cap).

    SIZE bucket_chars to the corpus (r3 review): each bucket sorts inside
    ONE task, so the bucket count (≈ distinct key prefixes) must be ≫
    cores and the hottest prefix's rows must fit a task. 1 char (≤ ~30
    buckets of corpus/30 rows each) is a fixture-scale setting; the
    default 4 gives vocabulary⁴-ish spread; web-scale corpora want more
    (boundary-pair loss stays bounded: window-1 pairs per bucket edge,
    recovered by the other passes).

    Every step (substring bucket, lead window, union, distinct) is
    deterministic and SQL-expressible, so the whole operator has a DuckDB
    oracle twin. Returns canonical (id1, id2) pairs, id1 < id2.
    """
    if not key_cols:
        raise ValueError("sorted_neighborhood_pairs: key_cols must be non-empty")
    out = None
    for key in key_cols:
        bucketed = _sn_bucketed(records, id_col, key, bucket_chars)
        canon = _sn_window_pairs(bucketed, window)
        out = canon if out is None else out.unionByName(canon)
    return out.dropDuplicates(["id1", "id2"])


def _sn_bucketed(
    records: DataFrame, id_col: str, key: str, bucket_chars: int
) -> DataFrame:
    """(_id, _k, _b) for one SN pass: sort key + its prefix bucket."""
    kc = F.col(key)
    return records.select(
        F.col(id_col).alias("_id"),
        kc.alias("_k"),
        F.substring(kc, 1, bucket_chars).alias("_b"),
    ).filter(F.length("_k") > 0)


def _sn_window_pairs(bucketed: DataFrame, window: int) -> DataFrame:
    """Canonical (id1, id2) lead-window pairs within each bucket."""
    w = Window.partitionBy("_b").orderBy("_k", "_id")
    pairs = (
        bucketed.select(
            "_id",
            F.array(
                *[F.lead("_id", j).over(w) for j in range(1, window)]
            ).alias("_nbrs"),
        )
        .select("_id", F.explode("_nbrs").alias("_nbr"))
        .filter(F.col("_nbr").isNotNull())
    )
    return pairs.select(
        F.least("_id", "_nbr").alias("id1"),
        F.greatest("_id", "_nbr").alias("id2"),
    )


def _sn_scoped_bucketed(
    records: DataFrame,
    delta_ids: DataFrame,
    id_col: str,
    key: str,
    bucket_chars: int,
    old_affected: DataFrame | None,
) -> DataFrame:
    """One pass's bucketed projection restricted to AFFECTED buckets: those
    now containing a delta record, plus (latest-wins) those a replaced
    record's OLD row used to sort into. The affected-bucket KEY set is a
    handful of short prefixes — broadcasting it is safe by construction
    (unlike the bucket MEMBERSHIP, which is bounded by bucket size, not
    delta size — see sorted_neighborhood_delta)."""
    bucketed = _sn_bucketed(records, id_col, key, bucket_chars)
    hit = bucketed.join(
        delta_ids.select(F.col(id_col).alias("_id")), "_id", "left_semi"
    ).select("_b")
    if old_affected is not None:
        hit = hit.unionByName(
            _sn_bucketed(old_affected, id_col, key, bucket_chars).select("_b")
        )
    return bucketed.join(F.broadcast(hit.distinct()), "_b", "left_semi")


def sorted_neighborhood_delta(
    records: DataFrame,
    delta_ids: DataFrame,
    id_col: str = "record_id",
    key_cols: tuple[str, ...] = ("norm_text",),
    window: int = 4,
    bucket_chars: int = 4,
    old_affected: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, member_ids) of the AFFECTED buckets — the delta-proportional
    incremental form (r3 stretch item, wired into run_incremental in r5).
    One scoped derivation per pass feeds BOTH outputs (r5 review: the
    previous pairs/ids twin functions duplicated the scoping joins).

    A bucket is affected when it now contains a delta record, or (pass
    `old_affected` = the REPLACED records' old rows, latest-wins mode)
    when a replaced record used to sort into it. Each pass semi-joins its
    bucketed projection down to those buckets before the lead window, so
    per-batch cost is O(affected-bucket rows), never O(corpus).

    Why this is exact (append-only): inserting records never DECREASES the
    sort-distance between two existing records, so a batch can only create
    pairs touching a new record — all of which live in buckets containing
    that new record. (Old pairs pushed OUT of the window stay scored;
    candidates are never retracted, matching the pipeline's append-only
    contract.) In latest-wins, removing a replaced record's old row CAN
    pull two old records together, but only inside the bucket it left —
    hence `old_affected`. Returns ALL pairs of affected buckets; the
    caller filters to never-scored ones. `member_ids` is every record id
    living in an affected bucket — the membership set the caller uses to
    restrict the scored table before its anti-join. NOTE: membership is
    bounded by affected-bucket SIZE, not delta size (a hot prefix can hold
    a large corpus fraction), so downstream joins on it must not be
    force-broadcast.
    """
    if not key_cols:
        raise ValueError("sorted_neighborhood_delta: key_cols must be non-empty")
    pairs_out = None
    ids_out = None
    for key in key_cols:
        scoped = _sn_scoped_bucketed(
            records, delta_ids, id_col, key, bucket_chars, old_affected
        )
        canon = _sn_window_pairs(scoped, window)
        ids = scoped.select(F.col("_id").alias(id_col))
        pairs_out = canon if pairs_out is None else pairs_out.unionByName(canon)
        ids_out = ids if ids_out is None else ids_out.unionByName(ids)
    return (
        pairs_out.dropDuplicates(["id1", "id2"]),
        ids_out.dropDuplicates([id_col]),
    )


def sorted_neighborhood_delta_pairs(
    records: DataFrame,
    delta_ids: DataFrame,
    id_col: str = "record_id",
    key_cols: tuple[str, ...] = ("norm_text",),
    window: int = 4,
    bucket_chars: int = 4,
    old_affected: DataFrame | None = None,
) -> DataFrame:
    """Pairs half of sorted_neighborhood_delta (kept as the simple entry
    point for append-only callers, which never need the membership)."""
    return sorted_neighborhood_delta(
        records, delta_ids, id_col, key_cols, window, bucket_chars, old_affected
    )[0]


def exclude_pairs(cand: DataFrame, done: DataFrame) -> DataFrame:
    """C6: anti-join already-scored pairs (resume path)."""
    return cand.join(done.select("id1", "id2"), ["id1", "id2"], "left_anti")


def restrict_pairs(cand: DataFrame, wanted: DataFrame) -> DataFrame:
    """C6: semi-join to a pair subset (evaluation path)."""
    return cand.join(wanted.select("id1", "id2"), ["id1", "id2"], "left_semi")
