"""Incremental near-dup corpus maintenance (VERDICT r5 item 4).

`near_dup_corpus` (operators/dedup.py) is batch: a recurring-crawl
pipeline would re-deduplicate the whole corpus every batch. This module
maintains the SAME end product incrementally: resolve a new crawl batch
against existing state with cost proportional to the delta and the
buckets/clusters it touches — never to the corpus.

Why this is exact (the append-only LSH algebra):
  * A doc's bucket keys are a pure per-doc function — adding docs never
    changes an existing doc's buckets, so OLD-OLD candidate pairs can
    never APPEAR in a batch re-run that incremental would miss (a cold
    bucket shared by two old docs was cold — counts only grow — and was
    therefore already mined in an earlier step).
  * New pairs all touch a delta doc and live in buckets containing one:
    mine exactly the delta-touched cold buckets (the r3 blocking-armor /
    notes-#34 precedent).
  * The ONE way old edges change is RETRACTION: a bucket whose count
    crosses `max_bucket` is suppressed in batch mode, so pairs whose
    every supporting bucket is now hot must be dropped. Affected pairs
    necessarily have BOTH endpoints in a newly-hot bucket, so the
    re-check is bounded by newly-hot-bucket membership, not corpus size.
  * Connectivity re-derives ONLY inside the clusters an added or removed
    edge touches (adding/removing edges cannot change the connectivity
    of a component none of whose members gained or lost an edge) —
    every other doc keeps its assignment row verbatim. This replaced the
    r6-draft star warm start, whose CC pass over every cluster's star
    edges was O(corpus) per batch and dominated the measured delta wall.

State layout (delta-proportional IN-SESSION too, r6 profiling): each
table is a lazy UNION of lineage-truncated segments — a batch snaps
(localCheckpoint) only its NEW rows and stacks them on the existing
checkpointed leaves, so per-batch materialization is O(delta + touched),
not O(corpus). Rewrites (counts of touched buckets, retracted edges,
reassigned docs) stack as broadcast anti-joins over the old leaves. Plan
depth therefore grows linearly with batch count; call
`NearDupState.compact()` periodically (LSM-style) to fold the segments
back into single leaves. At 100 TB the state lives in parquet bucketed
BY the bucket/cluster key and each batch MERGEs only touched partitions
— the same shape.

State tables:
  docs    — every doc seen so far (id + passthrough columns)
  buckets — (doc_id, bucket), UNCAPPED (hot rows included: they are the
            support-check index)
  counts  — (bucket, n)
  hot     — (bucket) with n > max_bucket (cached so the hot-path checks
            never rescan counts)
  edges   — (id1, id2) verified near-dup pairs, id1 < id2
  assign  — (doc_id, cluster_id) for clustered docs (singletons implicit)

Append-only contract: delta ids must be NEW ids (recrawl/latest-wins
replacement is the ER pipeline's delta machinery, out of scope here).
`near_dup_delta` can assert this (`check_new_ids=True`) at the cost of
one semi-join.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cluster import connected_components
from .dedup import _bucket_rows, _cold_pairs, _packed, _shingle_rows, _signed, _verify


@dataclass(frozen=True)
class NearDupConfig:
    shingle_k: int = 5
    num_perm: int = 32
    bands: int = 8
    jaccard_threshold: float = 0.5
    hash_fn: str = "xxhash64"
    max_bucket: int = 200

    def __post_init__(self):
        if self.shingle_k > 8:
            raise ValueError(f"shingle_k must be <= 8, got {self.shingle_k}")


@dataclass
class NearDupState:
    id_col: str
    text_col: str
    cfg: NearDupConfig
    docs: DataFrame
    buckets: DataFrame
    counts: DataFrame
    hot: DataFrame
    edges: DataFrame
    assign: DataFrame
    #: cluster ids whose membership changed in the LAST delta step — the
    #: delta-proportional upsert set for survivors. None after init (the
    #: first emission is necessarily full; `near_dup_emit` raises on
    #: only_touched=True until a delta has run).
    touched_clusters: DataFrame = field(default=None)

    def compact(self) -> "NearDupState":
        """Fold each table's segment stack back into one checkpointed
        leaf (the in-session analogue of an LSM compaction / parquet
        rewrite). O(corpus) — run periodically, not per batch."""
        return replace(
            self,
            docs=_snap(self.docs),
            buckets=_snap(self.buckets),
            counts=_snap(self.counts),
            hot=_snap(self.hot),
            edges=_snap(self.edges),
            assign=_snap(self.assign),
        )


def _snap(df: DataFrame) -> DataFrame:
    """Truncate lineage at a segment boundary. Only NEW/SMALL pieces are
    snapped per batch (see module docstring); snapping whole state tables
    per delta would re-copy the corpus every batch."""
    return df.localCheckpoint(eager=True)


def _endpoints(pairs: DataFrame) -> DataFrame:
    return (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionByName(pairs.select(F.col("id2").alias("doc_id")))
        .dropDuplicates(["doc_id"])
    )


def near_dup_init(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: NearDupConfig = NearDupConfig(),
) -> NearDupState:
    """Batch-build the state from an initial corpus. The edge set is
    identical to dedup.minhash_lsh_dup_pairs: both run the same
    shingle → bucket → cold-pair → packed-verify helpers."""
    signed = _signed(
        docs, id_col, text_col, cfg.shingle_k, cfg.num_perm, cfg.hash_fn
    )
    signed.count()  # the one eager fill (see minhash_lsh_dup_pairs)
    # the bucket rows are a state table anyway: snap them first, so the
    # hot-key agg, the self-join and the state all read one leaf
    buckets = _snap(_bucket_rows(signed, cfg.num_perm, cfg.bands, cfg.hash_fn))
    counts = _snap(buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))
    hot = _snap(counts.filter(F.col("n") > cfg.max_bucket).select("bucket"))
    cand = _cold_pairs(buckets.join(F.broadcast(hot), "bucket", "left_anti"))
    edges = _snap(
        _verify(cand, signed)
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id1", "id2")
    )
    assign = _snap(
        connected_components(
            edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        ).select(F.col("record_id").alias("doc_id"), "cluster_id")
    )
    # docs is a state table like the others and MUST be a snapped leaf:
    # left lazy, every later action that scans state.docs (delta's
    # old-endpoint hydration, near_dup_emit, downstream consumers)
    # re-executes the caller's whole upstream plan — IncrementalCuration
    # hands in survivors = quality-parquet → exact_dup_groups → anti-join,
    # and the 10x profile showed that plan re-running inside the delta
    # (near_dup stage 6.7→15.6 s while the standalone bench, whose input
    # was already checkpointed, stayed flat). Snapping an already-
    # checkpointed input is a cheap no-op copy; at 100 TB state.docs is
    # bucketed parquet and this is a durable write instead (notes #57).
    return NearDupState(
        id_col=id_col,
        text_col=text_col,
        cfg=cfg,
        docs=_snap(docs),
        buckets=buckets,
        counts=counts,
        hot=hot,
        edges=edges,
        assign=assign,
    )


def near_dup_delta(
    state: NearDupState, delta_docs: DataFrame, check_new_ids: bool = False
) -> NearDupState:
    """Resolve one new crawl batch against the state. Cost is bounded by
    the delta plus the membership of the buckets and clusters it touches
    (see module docstring for the exactness argument). Returns the NEW
    state; `touched_clusters` holds the cluster ids whose membership
    changed (the survivor upsert set)."""
    cfg, id_col, text_col = state.cfg, state.id_col, state.text_col
    delta_ids = delta_docs.select(F.col(id_col).alias("doc_id"))
    if check_new_ids:
        clash = delta_ids.join(
            state.docs.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
        ).limit(1)
        if clash.count() > 0:
            raise ValueError(
                "near_dup_delta: delta contains ids already in the corpus — "
                "this operator is append-only (recrawl replacement is the ER "
                "pipeline's latest_wins delta, not LSH-dedup maintenance)"
            )

    # the d_buckets snap is the first action over d_signed and fills it
    d_signed = _signed(
        delta_docs, id_col, text_col, cfg.shingle_k, cfg.num_perm, cfg.hash_fn
    )
    d_buckets = _snap(
        _bucket_rows(d_signed, cfg.num_perm, cfg.bands, cfg.hash_fn)
    )
    d_counts = d_buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("_dn"))

    # counts of TOUCHED buckets only: old rows for those buckets stream
    # out of the checkpointed leaves via a broadcast semi-join (no shuffle
    # of the corpus side; at 100 TB the bucketed parquet layout prunes the
    # scan to touched partitions as well)
    old_touched = state.counts.join(
        F.broadcast(d_counts.select("bucket")), "bucket", "left_semi"
    )
    updated = _snap(
        d_counts.join(old_touched, "bucket", "left").select(
            "bucket",
            (F.coalesce("n", F.lit(0)) + F.col("_dn")).alias("n"),
            F.coalesce("n", F.lit(0)).alias("_n_old"),
        )
    )
    # buckets that crossed the cap THIS batch: the only source of
    # retractions. Born-hot buckets (n_old = 0) cross too but carry no old
    # edges — they fall out of the removal check naturally.
    newly_hot = updated.filter(
        (F.col("n") > cfg.max_bucket) & (F.col("_n_old") <= cfg.max_bucket)
    ).select("bucket")
    # hot set only grows under append-only (counts never decrease)
    hot_now = state.hot.unionByName(newly_hot)

    buckets_all = state.buckets.unionByName(d_buckets)

    # --- additions: mine delta-touched cold buckets, keep pairs with a
    # delta endpoint (old-old pairs there were mined when the bucket was
    # already cold in an earlier step) ---
    touched_cold = updated.filter(F.col("n") <= cfg.max_bucket).select("bucket")
    mem_rows = buckets_all.join(F.broadcast(touched_cold), "bucket", "left_semi")
    cand = _cold_pairs(mem_rows)
    cand = _snap(  # referenced by the verify join AND the endpoint set
        cand.join(
            delta_ids.select(F.col("doc_id").alias("id1")), "id1", "left_semi"
        )
        .unionByName(
            cand.join(
                delta_ids.select(F.col("doc_id").alias("id2")), "id2", "left_semi"
            )
        )
        .dropDuplicates(["id1", "id2"])
    )
    # shingles for verification: delta side is cached; old endpoints are
    # recomputed restricted to the candidate membership (bounded by the
    # touched buckets, not the corpus). The involved-docs prune is
    # MATERIALIZED before any shingle expression exists: when the prune
    # and the shingling live in one plan, the optimizer can push a filter
    # over the shingles below the semi-join with the normalize regex
    # inlined per shingle position — the notes-#16 O(L²) blowup over the
    # WHOLE corpus scan (measured 40s vs 1.8s at the 5k bench, notes
    # #52). The snap is delta-bounded (involved endpoints only), so this
    # stays O(delta).
    old_involved = _endpoints(cand).join(delta_ids, "doc_id", "left_anti")
    old_docs = _snap(
        state.docs.join(
            old_involved.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        ).select(F.col(id_col), F.col(text_col))
    )
    old_shingled = _shingle_rows(old_docs, id_col, text_col, cfg.shingle_k)
    # MATERIALIZE the (delta-bounded) packed verification table before the
    # jaccard join. _shingle_rows' persist barrier covers only the
    # normalized TEXT — the shingle and packed arrays are built by
    # interpreted higher-order transforms that the verify references more
    # than once, so an unmaterialized table re-derives every array per
    # reference inside the filter: measured 60s vs 0.2s for the ~1.5k
    # involved docs at the bench's 1x corpus (notes #45, the delta twin of
    # notes #16's CollapseProject rule).
    ver = _snap(
        d_signed.select("doc_id", "_ish", "_sz").unionByName(
            _packed(old_shingled, cfg.shingle_k)
        )
    )
    added = _snap(
        _verify(cand, ver)
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id1", "id2")
    )

    # --- retractions: old pairs whose every supporting bucket is now hot.
    # Such a pair lost a bucket that crossed the cap this batch, so both
    # endpoints live in a newly-hot bucket — the candidate set is bounded
    # by newly-hot membership. NOT force-broadcast (notes #34: membership
    # is bounded by bucket size, not delta size).
    nh_members = (
        buckets_all.join(F.broadcast(newly_hot), "bucket", "left_semi")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    at_risk = state.edges.join(
        nh_members.withColumnRenamed("doc_id", "id1"), "id1", "left_semi"
    ).join(nh_members.withColumnRenamed("doc_id", "id2"), "id2", "left_semi")
    b1 = buckets_all.select(F.col("doc_id").alias("id1"), "bucket")
    b2 = buckets_all.select(F.col("doc_id").alias("id2"), "bucket")
    supported = (
        at_risk.join(b1, "id1")
        .join(b2, ["id2", "bucket"])
        .join(hot_now, "bucket", "left_anti")
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    removed = _snap(at_risk.join(supported, ["id1", "id2"], "left_anti"))

    edges_new = state.edges.join(
        F.broadcast(removed), ["id1", "id2"], "left_anti"
    ).unionByName(added)

    # --- connectivity: re-derive ONLY the affected subgraph — members of
    # any cluster containing an endpoint of an added/removed edge, plus
    # the endpoints themselves (delta docs / old singletons gaining their
    # first edge have no cluster row yet). Every other assignment row is
    # carried over verbatim; CC cost is bounded by affected membership.
    changed_docs = _endpoints(added.unionByName(removed))
    hit_clusters = (
        changed_docs.join(state.assign, "doc_id")
        .select("cluster_id")
        .distinct()
    )
    hit_members = state.assign.join(
        F.broadcast(hit_clusters), "cluster_id", "left_semi"
    ).select("doc_id")
    affected = _snap(
        hit_members.unionByName(changed_docs).dropDuplicates(["doc_id"])
    )
    # NOT force-broadcast (the notes-#34 rule, same call as the batch
    # near_dup_corpus): `affected` is bounded by touched-CLUSTER
    # membership, not the delta — one giant boilerplate cluster (routine
    # in web dedup) would blow a forced broadcast. AQE broadcasts the
    # checkpointed set when it is actually small (the usual case) and
    # falls back to a bounded shuffle when it is not.
    aff1 = affected.withColumnRenamed("doc_id", "id1")
    aff2 = affected.withColumnRenamed("doc_id", "id2")
    # an old edge with one affected endpoint lies inside a hit cluster,
    # so both its endpoints are affected; the two semi-joins are belt and
    # braces for the added-edge case
    cc_edges = (
        edges_new.join(aff1, "id1", "left_semi")
        .unionByName(edges_new.join(aff2, "id2", "left_semi"))
        .dropDuplicates(["id1", "id2"])
    )
    assign_touched = _snap(
        connected_components(
            cc_edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        ).select(F.col("record_id").alias("doc_id"), "cluster_id")
    )
    assign_new = state.assign.join(
        affected, "doc_id", "left_anti"
    ).unionByName(assign_touched)

    # touched clusters: the new and old EFFECTIVE cluster ids of every
    # affected doc whose assignment row changed. `assign` stores clustered
    # docs only, so a missing side means implicit singleton — effective
    # cluster = the doc's own id (a doc singletoned by a retraction must
    # mark its own-id cluster as touched or its new row never reaches the
    # upsert). Plus every delta doc's effective cluster: new-and-singleton
    # docs appear in neither assignment, yet their rows are new emission
    # rows. All inputs here are already affected/delta-bounded.
    old_aff = state.assign.join(affected, "doc_id", "left_semi")
    changed = old_aff.withColumnRenamed("cluster_id", "_old").join(
        assign_touched, "doc_id", "full_outer"
    ).filter(
        F.col("_old").isNull()
        | F.col("cluster_id").isNull()
        | (F.col("_old") != F.col("cluster_id"))
    )
    delta_effective = delta_ids.join(assign_touched, "doc_id", "left").select(
        F.coalesce("cluster_id", "doc_id").alias("c")
    )
    touched = (
        changed.select(F.coalesce("cluster_id", "doc_id").alias("c"))
        .unionByName(changed.select(F.coalesce("_old", "doc_id").alias("c")))
        .unionByName(delta_effective)
        .distinct()
        .withColumnRenamed("c", "cluster_id")
    )

    counts_new = state.counts.join(
        F.broadcast(updated.select("bucket")), "bucket", "left_anti"
    ).unionByName(updated.select("bucket", "n"))

    return NearDupState(
        id_col=id_col,
        text_col=text_col,
        cfg=cfg,
        docs=state.docs.unionByName(delta_docs),
        buckets=buckets_all,
        counts=counts_new,
        hot=hot_now,
        edges=edges_new,
        assign=assign_new,
        touched_clusters=_snap(touched),
    )


def near_dup_emit(state: NearDupState, only_touched: bool = False) -> DataFrame:
    """The kept corpus from a state — schema-identical to
    dedup.near_dup_corpus (docs columns + dup_cluster_id + n_merged).
    `only_touched=True` restricts to survivors of clusters changed by the
    LAST step — the delta-proportional upsert a recurring pipeline writes
    instead of rewriting the corpus."""
    id_col = state.id_col
    docs, assign = state.docs, state.assign
    if only_touched and state.touched_clusters is None:
        raise ValueError(
            "near_dup_emit(only_touched=True) requires a delta step first: "
            "after near_dup_init the change set is the whole corpus "
            "(including implicit singletons, which have no cluster row), "
            "so the first emission must be full (only_touched=False)"
        )
    if only_touched:
        # Every emitted row has dup_cluster_id == its own doc_id: drop_ids
        # removes every non-canonical member, and CC cluster ids are member
        # ids, so each survivor is its cluster's canonical doc (or an
        # implicit singleton). The touched-cluster restriction is therefore
        # a doc_id restriction — push it to the SCANS instead of filtering
        # after corpus-wide joins (the r6 draft ran the sizes groupBy over
        # the FULL assign and scanned full docs per upsert: O(corpus) per
        # batch). `assign` prunes to touched clusters, which keeps every
        # membership row of any cluster that can reach the output, so
        # drop/size semantics below are unchanged (equality pinned by
        # test_incremental_near_dup). At 100 TB, docs bucketed by id and
        # assign bucketed by cluster_id make both semi-joins
        # partition-pruned merges.
        tc = state.touched_clusters
        docs = docs.join(
            F.broadcast(tc.withColumnRenamed("cluster_id", id_col)),
            id_col,
            "left_semi",
        )
        assign = assign.join(F.broadcast(tc), "cluster_id", "left_semi")
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_merged")
    )
    drop_ids = assign.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    survivors = docs.join(drop_ids, id_col, "left_anti")
    canon_info = (
        assign.filter(F.col("cluster_id") == F.col("doc_id"))
        .join(sizes, "cluster_id")
        .withColumnRenamed("doc_id", id_col)
    )
    return survivors.join(canon_info, id_col, "left").select(
        *[F.col(c) for c in state.docs.columns],
        F.coalesce("cluster_id", F.col(id_col)).alias("dup_cluster_id"),
        F.coalesce("n_merged", F.lit(1).cast("long")).alias("n_merged"),
    )
