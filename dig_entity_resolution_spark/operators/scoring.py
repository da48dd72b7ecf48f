"""Pairwise scoring: hydration, TF-IDF, feature blend, threshold
(SURVEY.md §2.D D1/D5/D7).

Scale notes: pair hydration is two hash joins on record_id (records side
bucketable; Catalyst broadcasts when small). TF-IDF is the explicit
DataFrame formulation (explode → doc-freq agg → broadcast IDF join) rather
than pyspark.ml HashingTF so the oracle can reproduce it exactly; the pair
cosine is a relational sparse dot product (join on term), which scales
linearly in shared terms instead of materializing dense vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import jaro_winkler, lev_similarity, token_jaccard


def hydrate_pairs(
    pairs: DataFrame, records: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """D1: attach both records' text/tokens (+extras) to each pair.

    Forced to a shuffle join: at 10^12-doc scale the records side can never
    broadcast, and even at bench scale the driver-side broadcast build of a
    records table fattened with tfidf maps is a ~15s single-threaded wall
    per join — a parallelism-independent cost that caps scaling. A shuffle
    hash join partitions both sides by record_id and scales with cores.
    """
    r1 = records.select(
        F.col("record_id").alias("id1"),
        F.col("norm_text").alias("text1"),
        F.col("tokens").alias("tokens1"),
        *[F.col(c).alias(f"{c}1") for c in extra_cols],
    ).hint("shuffle_hash")
    r2 = records.select(
        F.col("record_id").alias("id2"),
        F.col("norm_text").alias("text2"),
        F.col("tokens").alias("tokens2"),
        *[F.col(c).alias(f"{c}2") for c in extra_cols],
    ).hint("shuffle_hash")
    return pairs.join(r1, "id1").join(r2, "id2")


def tfidf_terms(records: DataFrame) -> DataFrame:
    """D5: (record_id, term, weight) — smoothed-idf TF-IDF, L2-unnormalized.

    tf = in-doc term count; idf = ln((N+1)/(df+1)) + 1 (sklearn smoothing —
    exactly reproducible in SQL). Doc-frequency table is tiny after the agg
    and gets broadcast back onto the exploded terms.
    """
    terms = records.select("record_id", F.explode("tokens").alias("term"))
    tf = terms.groupBy("record_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = records.agg(F.countDistinct("record_id").alias("n_docs"))
    weighted = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "weight",
            F.col("tf")
            * (
                F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
        .select("record_id", "term", "weight")
    )
    return weighted


def tfidf_maps(records: DataFrame) -> DataFrame:
    """(record_id, tfidf:map<string,double>, norm:double) — the vector as a
    per-record map so pair cosine becomes a LOCAL expression (map_zip_with)
    instead of a per-pair term-equi-join. Kills two shuffles per scoring run;
    docs are short (10s–100s of terms) so the map column stays small.
    """
    tfidf = tfidf_terms(records)
    return tfidf.groupBy("record_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias(
            "tfidf"
        ),
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm"),
    )


def map_cosine(m1: F.Column, m2: F.Column, n1: F.Column, n2: F.Column) -> F.Column:
    """Sparse cosine of two map<term,weight> vectors with precomputed norms."""
    prod = F.map_zip_with(
        m1,
        m2,
        lambda k, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0)),
    )
    dot = F.aggregate(
        F.map_values(prod), F.lit(0.0), lambda acc, v: acc + v
    )
    ok = n1.isNotNull() & n2.isNotNull() & (n1 > 0) & (n2 > 0)
    return F.when(ok, dot / (n1 * n2)).otherwise(F.lit(0.0))


def tfidf_norms(tfidf: DataFrame) -> DataFrame:
    """Per-record L2 norm of the TF-IDF vector."""
    return tfidf.groupBy("record_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )


def pair_tfidf_cosine(pairs: DataFrame, tfidf: DataFrame) -> DataFrame:
    """D5/D6: sparse cosine per candidate pair via a term-equi-join.

    dot(id1,id2) = Σ_term w1·w2 — computed by joining both sides' TF-IDF
    rows on term; pairs sharing no term get cosine 0 (left join + coalesce).
    """
    # _persist (r8): `tfidf` feeds three branches (both term sides + the
    # norms agg) and `pairs` two (the dot join + the final left join) —
    # unpersisted, each branch re-derives the upstream explode/agg and
    # blocking-join chains.
    from .dedup import _persist

    tfidf = _persist(tfidf)
    pairs = _persist(pairs)
    t1 = tfidf.select(
        F.col("record_id").alias("id1"),
        "term",
        F.col("weight").alias("w1"),
    )
    t2 = tfidf.select(
        F.col("record_id").alias("id2"),
        "term",
        F.col("weight").alias("w2"),
    )
    dots = (
        pairs.join(t1, "id1")
        .join(t2, ["id2", "term"])
        .groupBy("id1", "id2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    norms = tfidf_norms(tfidf)
    n1 = norms.select(F.col("record_id").alias("id1"), F.col("norm").alias("norm1"))
    n2 = norms.select(F.col("record_id").alias("id2"), F.col("norm").alias("norm2"))
    return (
        pairs.join(dots, ["id1", "id2"], "left")
        .join(n1, "id1")
        .join(n2, "id2")
        .select(
            "id1",
            "id2",
            F.when(
                (F.col("norm1") > 0) & (F.col("norm2") > 0),
                F.coalesce(F.col("dot"), F.lit(0.0))
                / (F.col("norm1") * F.col("norm2")),
            )
            .otherwise(F.lit(0.0))
            .alias("tfidf_cos"),
        )
    )


def soft_tfidf_scores(
    pairs: DataFrame,
    records: DataFrame,
    theta: float = 0.9,
    sim_col: str = "soft_tfidf",
) -> DataFrame:
    """Soft-TFIDF hybrid comparator (Cohen/Ravikumar/Fienberg, IIWeb'03):
    TF-IDF cosine that also credits NEAR-equal words.

      soft(S,T) = Σ_{w ∈ CLOSE(θ,S,T)} V(w,S) · V(v*,T) · JW(w,v*)

    with V the L2-normalized TF-IDF weight, CLOSE = words of S whose best
    Jaro-Winkler match v* in T exceeds θ (argmax; ties broken by term
    ascending so both engines agree). Asymmetric by definition — computed
    S=id1 → T=id2 here; symmetrize with max() of both directions if a
    caller needs it. Pairs with no close word score 0.0.

    Scale shape: one |S|×|T| word-pair join per candidate pair BEFORE the
    JW kernel — the comparator is built for short name-like strings
    (Cohen's setting), not whole documents. A provable length-band filter
    runs ahead of the UDF: the Winkler boost adds at most 0.4·(1−jaro)
    (prefix ≤ 4, p = 0.1), so JW > θ ⇒ jaro > (θ−0.4)/0.6, and each Jaro
    term ≤ 1 forces m/len ≥ 3·jaro − 2 with m ≤ min(len); together
    min(len) ≥ (5θ−4)·max(len). At θ = 0.9 that halves the word-pair
    stream before any Python; for θ ≤ 0.8 the bound is ≤ 0 (no-op).
    Everything else is native joins/windows; JW is the Arrow-batched
    numpy kernel (bit-exact vs DuckDB's jaro_winkler_similarity, D3)."""
    tfidf = tfidf_terms(records)
    norms = tfidf_norms(tfidf)
    v = (
        tfidf.join(norms, "record_id")
        .filter(F.col("norm") > 0)
        .select(
            "record_id", "term", (F.col("weight") / F.col("norm")).alias("v")
        )
    )
    v1 = v.select(
        F.col("record_id").alias("id1"),
        F.col("term").alias("t1"),
        F.col("v").alias("v1"),
    )
    v2 = v.select(
        F.col("record_id").alias("id2"),
        F.col("term").alias("t2"),
        F.col("v").alias("v2"),
    )
    len_bound = 5.0 * theta - 4.0
    stream = (
        pairs.select("id1", "id2")
        .join(v1, "id1")
        .join(v2, "id2")
        .filter(
            F.least(F.length("t1"), F.length("t2")).cast("double")
            >= F.lit(len_bound)
            * F.greatest(F.length("t1"), F.length("t2")).cast("double")
        )
    )
    # run the kernel once per DISTINCT vocabulary pair, not once per
    # occurrence in the candidate-pair stream: the same (t1, t2) repeats
    # across every candidate pair sharing those words, and partial
    # aggregation collapses the distinct() map-side. The θ-filtered sims
    # table is small, so AQE converts the join back onto the stream to a
    # broadcast at runtime.
    sims = (
        stream.select("t1", "t2")
        .distinct()
        .withColumn("jw", jaro_winkler("t1", "t2"))
        .filter(F.col("jw") > theta)
    )
    wp = stream.join(sims, ["t1", "t2"])
    # argmax via min(struct(-jw, t2, ...)) instead of a row_number window
    # (r8): selects the identical row per (id1, id2, t1) — max jw, ties
    # to the ascending t2 ((id1,id2,t1,t2) is unique in the stream, so
    # the tiebreak is total) — while a hash aggregate with map-side
    # partial combine replaces a full sort pass over the word-pair
    # stream. -jw is an exact IEEE negation; the final per-pair sum was
    # already an unordered groupBy over the same selected rows.
    best = wp.groupBy("id1", "id2", "t1").agg(
        F.min(
            F.struct(
                (-F.col("jw")).alias("njw"),
                F.col("t2").alias("t2"),
                F.col("v1").alias("v1"),
                F.col("v2").alias("v2"),
                F.col("jw").alias("jw"),
            )
        ).alias("b")
    )
    scores = best.groupBy("id1", "id2").agg(
        F.sum(
            F.col("b.v1") * F.col("b.v2") * F.col("b.jw")
        ).alias(sim_col)
    )
    return pairs.select("id1", "id2").join(scores, ["id1", "id2"], "left").select(
        "id1", "id2", F.coalesce(sim_col, F.lit(0.0)).alias(sim_col)
    )


def monge_elkan_scores(
    pairs: DataFrame,
    records: DataFrame,
    sim_col: str = "monge_elkan",
) -> DataFrame:
    """Monge-Elkan hybrid comparator (Monge & Elkan, KDD'96 workshop):

      ME(S,T) = (1/|S|) · Σ_{w ∈ S} max_{u ∈ T} JW(w, u)

    over DISTINCT tokens, with the Jaro-Winkler Arrow kernel as the
    inner similarity. Asymmetric by definition (S = id1 → T = id2), like
    soft_tfidf_scores. Unlike soft-TFIDF there is no θ cutoff, so the
    full |S|×|T| word-pair stream feeds the kernel — the comparator is
    for short name-like strings; both aggregates (max per S-word, then
    avg) are native and order-independent except the final avg, which
    callers round (same convention as the cosine path). Pairs where
    either side has no tokens score 0.0."""
    terms = records.select(
        "record_id", F.explode(F.array_distinct("tokens")).alias("term")
    )
    t1 = terms.select(
        F.col("record_id").alias("id1"), F.col("term").alias("t1")
    )
    t2 = terms.select(
        F.col("record_id").alias("id2"), F.col("term").alias("t2")
    )
    stream = pairs.select("id1", "id2").join(t1, "id1").join(t2, "id2")
    # kernel per DISTINCT vocabulary pair (same rationale as
    # soft_tfidf_scores); no θ here, so no filter on the sims table
    sims = (
        stream.select("t1", "t2")
        .distinct()
        .withColumn("jw", jaro_winkler("t1", "t2"))
    )
    best = (
        stream.join(sims, ["t1", "t2"])
        .groupBy("id1", "id2", "t1")
        .agg(F.max("jw").alias("best_jw"))
    )
    scores = best.groupBy("id1", "id2").agg(
        F.avg("best_jw").alias(sim_col)
    )
    return pairs.select("id1", "id2").join(scores, ["id1", "id2"], "left").select(
        "id1", "id2", F.coalesce(sim_col, F.lit(0.0)).alias(sim_col)
    )


DEFAULT_WEIGHTS = {"jw": 0.35, "lev_sim": 0.25, "tfidf_cos": 0.4}


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = 0.80,
    with_tfidf: bool = True,
) -> DataFrame:
    """D1–D7: hydrate, compute jw / lev_sim / (tfidf_cos), blend, threshold.

    jw runs as the Arrow-vectorized numpy kernel; lev/jaccard are native.
    Returns the SCORED_PAIRS schema.
    """
    w = dict(DEFAULT_WEIGHTS if weights is None else weights)
    if with_tfidf:
        # enrich records with the tfidf map once; pair cosine is then a
        # local expression on the hydrated rows — no per-pair shuffle
        maps = tfidf_maps(records)
        records = records.join(maps, "record_id", "left")
    hydrated = hydrate_pairs(
        pairs,
        records,
        extra_cols=("tfidf", "norm") if with_tfidf else (),
    )
    # AQE coalesces the hydrate-join output by BYTES, which is blind to the
    # CPU cost of the JW kernel — a ~100MB pair batch collapses to 2-4
    # partitions and the vectorized scoring runs on 2-4 cores. Repartition
    # to 3x the session's parallelism so every Python worker gets work.
    # repartition(n) always shuffles into exactly n partitions, so this is
    # never a no-op: it costs one extra round-robin shuffle of the hydrated
    # pairs and caps the scoring stage at n tasks, however large the pair
    # table grows.
    sc = pairs.sparkSession.sparkContext
    hydrated = hydrated.repartition(sc.defaultParallelism * 3)
    cos = (
        map_cosine(
            F.col("tfidf1"), F.col("tfidf2"), F.col("norm1"), F.col("norm2")
        )
        if with_tfidf
        else F.lit(0.0)
    )
    if not with_tfidf:
        w["tfidf_cos"] = 0.0
    feat = hydrated.select(
        "id1",
        "id2",
        jaro_winkler("text1", "text2").alias("jw"),
        lev_similarity("text1", "text2").alias("lev_sim"),
        token_jaccard("tokens1", "tokens2").alias("jaccard"),
        cos.alias("tfidf_cos"),
    )
    total = sum(w.values()) or 1.0
    score = (
        F.col("jw") * (w.get("jw", 0) / total)
        + F.col("lev_sim") * (w.get("lev_sim", 0) / total)
        + F.col("tfidf_cos") * (w.get("tfidf_cos", 0) / total)
    )
    return feat.select(
        "id1",
        "id2",
        "jw",
        "lev_sim",
        "tfidf_cos",
        score.alias("score"),
        (score >= F.lit(threshold)).alias("is_match"),
    )
